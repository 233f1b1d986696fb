"""Round-4 seventh review pass: jobs/pipeline/bridge/avro/parquet_io
findings — resume-safe partitioned report writes, the empty-corpus gate,
closed-object schemas, legacy-union primitives, unique union record
names, and remote-safe small-file IO plumbing.
"""

from __future__ import annotations

import pytest
from conftest import REPO_ROOT

from polars_genson_spark.config import ValidationConfig
from polars_genson_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        app_name="pgs-tests-r4r7", master="local[4]", shuffle_partitions=4
    )


CORPUS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def test_empty_corpus_does_not_pass(spark, tmp_path):
    """all([]) is True: a zero-row corpus (wrong path, everything
    filtered upstream) must NOT green-light the quality gate."""
    from polars_genson_spark.jobs import run_validation

    df = spark.createDataFrame([], CORPUS_SCHEMA)
    res = run_validation(
        spark, df, None, str(tmp_path / "run"), resume=False,
        write_outputs=False,
    )
    assert res["all_passed"] is False
    assert res["partitions"] == {}


def test_partial_resume_keeps_skipped_partition_reports(spark, tmp_path):
    """A resume that revalidates ONE source must not wipe the other
    sources' verdict/violation files (dynamic partition overwrite)."""
    from polars_genson_spark.jobs import run_validation

    run_dir = str(tmp_path / "run")
    rows = [
        ("a", [1, 2], 2, "web"),
        ("b", [1], 1, "wiki"),
        ("c", [1], 5, "wiki"),  # planted violation in wiki
    ]
    df = spark.createDataFrame(rows, CORPUS_SCHEMA)
    run_validation(spark, df, None, run_dir, resume=False)
    v1 = spark.read.parquet(run_dir + "/verdicts.parquet")
    assert {r["source"] for r in v1.collect()} == {"web", "wiki"}

    # change ONLY web; wiki is skipped on resume
    rows2 = [
        ("a2", [1, 2, 3], 3, "web"),
        ("b", [1], 1, "wiki"),
        ("c", [1], 5, "wiki"),
    ]
    df2 = spark.createDataFrame(rows2, CORPUS_SCHEMA)
    res = run_validation(spark, df2, None, run_dir)
    assert res["skipped"] == ["wiki"] and res["validated"] == ["web"]
    v2 = spark.read.parquet(run_dir + "/verdicts.parquet")
    # the old overwrite left ONLY web; wiki's rows must survive
    assert {r["source"] for r in v2.collect()} == {"web", "wiki"}
    viol = spark.read.parquet(run_dir + "/violations.parquet")
    assert {r["source"] for r in viol.collect()} == {"wiki"}


def test_closed_object_is_struct_not_map():
    """additionalProperties: false declares NO extra keys — it must not
    type as a map of strings in either bridge."""
    from pyspark.sql import types as T

    from polars_genson_spark.functions.avro import _is_map_schema
    from polars_genson_spark.functions.bridge import (
        json_schema_to_spark_schema,
    )

    closed = {"type": "object", "properties": {}, "additionalProperties": False}
    assert json_schema_to_spark_schema(closed) == T.StructType([])
    assert _is_map_schema(closed) is False
    # a real map schema still maps
    assert _is_map_schema(
        {"type": "object", "additionalProperties": {"type": "string"}}
    )


def test_legacy_union_primitives_keep_types():
    """['null','integer'] must map through the primitive table, not
    degrade to string."""
    from pyspark.sql import types as T

    from polars_genson_spark.functions.bridge import (
        json_schema_to_spark_schema,
    )

    schema = {
        "type": "object",
        "properties": {"n": ["null", "integer"], "x": ["null", "number"]},
    }
    st = json_schema_to_spark_schema(schema)
    assert st["n"].dataType == T.LongType()
    assert st["x"].dataType == T.DoubleType()


def test_anyof_union_record_names_unique():
    """Two structured anyOf members must not both define a record named
    after the field — Avro rejects redefinition."""
    from polars_genson_spark.functions.avro import json_schema_to_avro

    schema = {
        "type": "object",
        "properties": {
            "f": {
                "anyOf": [
                    {"type": "object", "properties": {"a": {"type": "string"}}},
                    {"type": "object", "properties": {"b": {"type": "integer"}}},
                ]
            }
        },
    }
    avro = json_schema_to_avro(schema)
    union = avro["fields"][0]["type"]
    names = [m["name"] for m in union if isinstance(m, dict)]
    assert len(names) == len(set(names)) == 2
    assert names[0] == "f"  # first structured member keeps the bare name


def test_fsutil_local_roundtrip_and_sizes(spark, tmp_path):
    from polars_genson_spark import fsutil

    p = str(tmp_path / "side" / "x.json")
    fsutil.write_text(None, p, '{"a": 1}')
    assert fsutil.read_text(None, p) == '{"a": 1}'
    assert fsutil.read_text(None, str(tmp_path / "absent")) is None

    d = str(tmp_path / "pq")
    spark.range(100).write.parquet(d)
    n, total = fsutil.parquet_sizes(spark, d)
    assert n >= 1 and total > 0


def test_compact_refuses_empty_input(tmp_path):
    # subprocess, NOT an in-process main() call: main() stops its spark
    # session in a finally, which would kill the getOrCreate-shared
    # context for every later test module in the run
    import subprocess
    import sys

    empty = tmp_path / "empty"
    empty.mkdir()
    proc = subprocess.run(
        [
            sys.executable, "-m", "polars_genson_spark.jobs",
            "compact", "--input", str(empty),
            "--output", str(tmp_path / "out"), "--target-mb", "64",
        ],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "no parquet files" in proc.stderr
