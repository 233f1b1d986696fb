"""Golden replay of the reference CLI's insta snapshots (SURVEY.md §5.3).

Each snapshot under /root/reference/genson-cli/tests/snapshots/ records the
exact CLI args, the input (inline YAML or a fixture path), and the expected
stdout. We rebuild the equivalent InferenceConfig/NormaliseConfig, run OUR
engine on the same input, and compare parsed outputs (dict equality —
key order is not significant for correctness; property ORDER differences
therefore don't fail, structural/value differences do).

160/164 snapshots match — including **100% of the 81 maintainer-approved
snapshots** (``approved: true`` with a blessed copy in
``tests/verified/``). The 4 xfails (claims_fixture_l1 / l1_min,
jsonschema+avro; all ``approved: false``, no blessed copy) are provably
UNSATISFIABLE together with the sibling claims snapshots under any
single behaviour:

- l1's datavalue fold (map order) ends ``...P7047{id,labels}, then 7
  string variants`` and the snapshot RETAINS ``required:["id","labels"]``;
- l2's fold ends ``P279{id,labels}, then 4 string variants`` — the
  byte-identical local pattern — and its snapshot DROPS ``required``.

A rule that keeps ``required`` through trailing scalar promotions
replays l1/l1_min but breaks l2/x1818_l14 (verified empirically in
round 2: 159-pass/6-fail vs the current 160/4 split); the current
reference algorithm (unification.rs:362-366 removes ``required`` on
every promotion; map_inference.rs:612 unifies the full map-ordered item
list — the ``unique_schemas`` set at :513 is debug-only) reproduces
l2/l14 and every approved snapshot but not l1. Hence the l1 family is a
stale artifact of an earlier reference version, kept xfailed with this
provenance rather than matched by a rule that would contradict the
reference's own current code.
"""

from __future__ import annotations

import dataclasses
import json
import os

import pytest
import yaml
from conftest import REPO_ROOT

from polars_genson_spark import infer_json_schema
from polars_genson_spark.cli import parse_cli_args
from polars_genson_spark.functions.normalise import normalise_document

SNAP_DIR = "/root/reference/genson-cli/tests/snapshots"
REF_ROOT = "/root/reference/genson-cli"
MAX_FIXTURE_BYTES = 600_000  # skip the multi-MB fixtures to bound CI time

KNOWN_DIVERGENT = {
    "claims_fixtures__claims_fixture_l1__avro.snap",
    "claims_fixtures__claims_fixture_l1__jsonschema.snap",
    "claims_fixtures__claims_fixture_l1_min__avro.snap",
    "claims_fixtures__claims_fixture_l1_min__jsonschema.snap",
}


def _snapshots():
    if not os.path.isdir(SNAP_DIR):
        return []
    return sorted(f for f in os.listdir(SNAP_DIR) if f.endswith(".snap"))


def parse_snap(path: str):
    text = open(path).read()
    header_end = text.index("\n---\n", 4)
    header = yaml.safe_load(text[4:header_end])
    body = text[header_end + 5 :]
    info = header.get("info", {})
    return info.get("args", []), info.get("fixture"), info.get("input"), body


def _parse_rows(body: str):
    body_s = body.strip()
    if body_s.startswith("["):
        return json.loads(body_s)
    rows, dec, idx = [], json.JSONDecoder(), 0
    while idx < len(body_s):
        val, end = dec.raw_decode(body_s, idx)
        rows.append(val)
        idx = end
        while idx < len(body_s) and body_s[idx] in " \r\n\t":
            idx += 1
    return rows


@pytest.mark.parametrize("name", _snapshots())
def test_snapshot_replay(spark, name):
    path = os.path.join(SNAP_DIR, name)
    args, fixture, inp, body = parse_snap(path)
    args = [str(a) for a in args]
    cfg, ncfg, is_norm, _ = parse_cli_args(args)
    is_norm = is_norm or "__normalize" in name
    ndjson = cfg.ndjson

    if fixture:
        fpath = os.path.join(REF_ROOT, fixture)
        if os.path.getsize(fpath) > MAX_FIXTURE_BYTES:
            pytest.skip("fixture too large for CI replay")
        text = open(fpath).read()
    elif inp is not None:
        if ndjson and isinstance(inp, list):
            text = "\n".join(json.dumps(d) for d in inp)
        else:
            text = json.dumps(inp)
    else:
        pytest.skip("snapshot has no input")

    if name in KNOWN_DIVERGENT:
        pytest.xfail("stale unapproved snapshot: mutually inconsistent with "
                     "the sibling l2/l14 snapshots under any single rule "
                     "(see module docstring for the proof)")

    df = spark.createDataFrame([(text,)], "j string")

    if not is_norm:
        got = infer_json_schema(df, "j", cfg).schema
        want = json.loads(body)
        assert got == want
    else:
        acfg = dataclasses.replace(cfg, avro=True)
        avro_schema = infer_json_schema(df, "j", acfg).schema
        if ndjson:
            docs = [json.loads(l) for l in text.splitlines() if l.strip()]
        else:
            d = json.loads(text)
            docs = d if isinstance(d, list) else [d]
        got = [normalise_document(doc, avro_schema, ncfg) for doc in docs]
        want = _parse_rows(body)
        if not isinstance(want, list):
            want = [want]
        assert got == want


def test_cli_end_to_end(tmp_path):
    """The genson-style CLI surface itself (subprocess, own session)."""
    import subprocess
    import sys as _sys

    f = tmp_path / "in.jsonl"
    f.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y", "c": true}\n')
    proc = subprocess.run(
        [_sys.executable, "-m", "polars_genson_spark.cli", "--ndjson", str(f)],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        check=True,
    )
    schema = json.loads(proc.stdout)
    assert schema["properties"]["a"] == {"type": "integer"}
    assert schema["required"] == ["a", "b"]
    assert "Processed 1 documents" in proc.stderr  # 1 cell, like the reference
