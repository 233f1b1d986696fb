"""Round-4 eighth review pass: CLI/normalise/summary findings — regular
JSON as one value, UTF-8 output, i64 bounds, flag validation, and the
summary-merge aliasing hazard.
"""

from __future__ import annotations

import json
import subprocess
import sys

import pytest
from conftest import REPO_ROOT


def _cli(args, stdin_text):
    return subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.cli", *args],
        input=stdin_text,
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=300,
    )


def test_cli_normalise_regular_json_is_one_value():
    """Regular-JSON normalise treats the whole file as ONE value like
    the reference (main.rs:247) — with --wrap-root the ARRAY is wrapped,
    not each element."""
    proc = _cli(
        ["--normalise", "--wrap-root", "R"], '[{"a": 1}, {"a": 2}]'
    )
    assert proc.returncode == 0, proc.stderr
    rows = json.loads(proc.stdout)
    assert len(rows) == 1  # one value in, one normalised value out
    assert rows[0]["R"] == [{"a": 1}, {"a": 2}]
    assert "Processed 1 documents" in proc.stderr


def test_cli_utf8_not_escaped():
    """Schema and normalised output print raw UTF-8 like serde, not
    \\uXXXX escapes."""
    proc = _cli([], '{"café": 1}')
    assert proc.returncode == 0, proc.stderr
    assert "café" in proc.stdout
    assert "\\u00e9" not in proc.stdout


def test_cli_flag_errors_are_usage_errors():
    """A flag missing its value (or malformed force-type / bad map
    encoding) exits with a message, not an IndexError traceback."""
    for args in (
        ["--map-threshold"],
        ["--force-type", "nocolon"],
        ["--map-encoding", "kvp"],
    ):
        proc = _cli(args, "{}")
        assert proc.returncode != 0
        assert "IndexError" not in proc.stderr
        assert "Traceback" not in proc.stderr


def test_normalise_int_out_of_i64_nulled():
    """Reference parity (normalise.rs is_i64): ints outside i64 null out
    instead of overflowing the LongType/Avro consumer downstream."""
    from polars_genson_spark.config import NormaliseConfig
    from polars_genson_spark.functions.normalise import normalise_value

    cfg = NormaliseConfig()
    assert normalise_value(2**70, "long", cfg) is None
    assert normalise_value(2**63 - 1, "long", cfg) == 2**63 - 1
    assert normalise_value(-(2**63), "long", cfg) == -(2**63)


def test_normalise_coerce_string_keeps_utf8():
    """Coerced JSON text keeps raw UTF-8 — escapes would change the
    coerced string's data content vs the reference."""
    from polars_genson_spark.config import NormaliseConfig
    from polars_genson_spark.functions.normalise import normalise_value

    out = normalise_value({"k": "café"}, "string", NormaliseConfig())
    assert out == '{"k":"café"}'


def test_summary_merge_does_not_alias_source():
    """merge(a, b) adopting a kind from b must deep-copy: later observes
    into `a` previously mutated `b` through the shared dict."""
    import copy

    from polars_genson_spark.functions import summary as S

    from polars_genson_spark.config import InferenceConfig
    from polars_genson_spark.operators.infer import _observe_cell

    cfg = InferenceConfig()
    b = S.new_summary()
    _observe_cell(b, '{"x": 1}', cfg, 0)
    b_before = copy.deepcopy(b)

    a = S.new_summary()
    S.merge(a, b)  # adopts b's object state
    _observe_cell(a, '{"x": 1, "y": "z"}', cfg, 1)  # mutate a afterwards
    assert b == b_before  # b unharmed
