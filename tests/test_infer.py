"""End-to-end distributed inference on a local SparkSession — mirrors the
reference's core_test.py / merge_schemas_test.py behaviours (SURVEY.md §5)."""

from __future__ import annotations

import pytest

from polars_genson_spark import (
    InferenceConfig,
    SchemaInferenceError,
    infer_json_schema,
    infer_spark_schema,
)
from pyspark.sql import types as T

from conftest import REPO_ROOT, make_json_df


F1 = [
    '{"name": "Alice", "age": 30}',
    '{"name": "Bob", "age": 25, "city": "NYC"}',
    '{"name": "Charlie", "age": 35, "email": "charlie@example.com"}',
]


def test_f1_merged_schema(spark):
    df = make_json_df(spark, F1)
    res = infer_json_schema(df, "json_data")
    schema = res.schema
    assert res.processed_count == 3
    assert set(schema["properties"]) == {"name", "age", "city", "email"}
    assert schema["required"] == ["age", "name"]
    assert schema["properties"]["age"] == {"type": "integer"}


def test_nulls_and_blanks_skipped(spark):
    df = make_json_df(spark, [None, "", "   ", '{"a": 1}', None])
    res = infer_json_schema(df, "json_data")
    assert res.processed_count == 1
    assert res.schema["properties"]["a"] == {"type": "integer"}


def test_f2_union(spark):
    docs = [
        '{"id": 1, "nums": [0], "strs": "a"}',
        '{"id": 2, "nums": [1, 2], "strs": ["b"]}',
        '{"id": 3, "nums": [3, 4, 5], "strs": ["c", "d", "e"]}',
    ]
    res = infer_json_schema(make_json_df(spark, docs), "json_data")
    strs = res.schema["properties"]["strs"]
    assert strs == {
        "anyOf": [
            {"type": "array", "items": {"type": "string"}},
            {"type": "string"},
        ]
    }


def test_deterministic_across_partitions(spark):
    docs = [f'{{"k{i % 7}": {i}, "common": "x"}}' for i in range(200)]
    df1 = make_json_df(spark, docs).repartition(1)
    df8 = make_json_df(spark, docs).repartition(8)
    s1 = infer_json_schema(df1, "json_data").schema
    s8 = infer_json_schema(df8, "json_data").schema
    # canonical finalise makes the merge order irrelevant for content
    assert set(s1["properties"]) == set(s8["properties"])
    assert s1["required"] == s8["required"]
    assert {k: v for k, v in s1["properties"].items()} == {
        k: v for k, v in s8["properties"].items()
    }


def test_invalid_json_strict_error(spark):
    df = make_json_df(spark, ['{"ok": 1}', "{invalid json}"])
    with pytest.raises(SchemaInferenceError, match="Invalid JSON input"):
        infer_json_schema(df, "json_data")


def test_wrap_root(spark):
    df = make_json_df(spark, ['{"a": 1}'])
    cfg = InferenceConfig(wrap_root="data")
    schema = infer_json_schema(df, "json_data", cfg).schema
    assert schema["required"] == ["data"]
    assert schema["properties"]["data"]["properties"]["a"] == {
        "type": "integer"
    }


def test_ndjson(spark):
    df = make_json_df(spark, ['{"a": 1}\n{"a": 2, "b": "x"}\n'])
    cfg = InferenceConfig(ndjson=True)
    res = infer_json_schema(df, "json_data", cfg)
    assert res.schema["required"] == ["a"]
    assert set(res.schema["properties"]) == {"a", "b"}


def test_outer_array_unwrap(spark):
    df = make_json_df(spark, ['[{"a": 1}, {"a": 2, "b": true}]'])
    res = infer_json_schema(df, "json_data")
    assert res.schema["required"] == ["a"]
    assert res.schema["properties"]["b"] == {"type": "boolean"}


def test_empty_column_errors(spark):
    df = make_json_df(spark, [None, ""])
    with pytest.raises(SchemaInferenceError):
        infer_json_schema(df, "json_data")


def test_infer_spark_schema(spark):
    df = make_json_df(spark, F1)
    st = infer_spark_schema(df, "json_data")
    assert isinstance(st, T.StructType)
    assert st["age"].dataType == T.LongType()
    assert st["name"].dataType == T.StringType()


def test_avro_output_f1(spark):
    df = make_json_df(spark, F1)
    cfg = InferenceConfig(avro=True)
    avro = infer_json_schema(df, "json_data", cfg).schema
    assert avro["type"] == "record"
    assert avro["name"] == "document"
    assert avro["namespace"] == "genson"
    by_name = {f["name"]: f["type"] for f in avro["fields"]}
    assert by_name["name"] == "string"
    assert by_name["age"] == "int"
    # optional fields → nullable unions
    assert by_name["city"] == ["null", "string"]
    assert by_name["email"] == ["null", "string"]


def test_tree_merge_matches_flat(spark, monkeypatch):
    """Depth-2 tree merge (SURVEY §3.1) must produce the identical schema
    to the flat per-partition collect, independent of grouping."""
    import json as _json

    from polars_genson_spark.functions import summary as S
    from polars_genson_spark.operators import infer as infer_mod
    from polars_genson_spark.operators.infer import partition_summaries

    docs = [
        _json.dumps({"a": i, "b": f"s{i}"} if i % 3 else {"a": i, "c": i / 2.0})
        for i in range(200)
    ]
    df = make_json_df(spark, docs).repartition(8)
    cfg = InferenceConfig()

    def final(parts):
        node = S.new_summary()
        for p in parts:
            S.merge(node, p["summary"])
        return S.to_schema(node), sum(p["processed"] for p in parts)

    flat = partition_summaries(df, "json_data", cfg)  # 8 <= threshold
    monkeypatch.setattr(infer_mod, "TREE_MERGE_THRESHOLD", 2)
    monkeypatch.setattr(infer_mod, "TREE_GROUP_SIZE", 3)
    tree = partition_summaries(df, "json_data", cfg)
    assert len(tree) < len(flat)  # the tree level actually merged something
    fs, fn = final(flat)
    ts, tn = final(tree)
    assert fs == ts
    assert fn == tn == 200


def test_trim_to_object_scalar_docs_skipped(spark):
    """P3 trim_to_object parity (genson_rs/mod.rs:110-115,129-144): a VALID
    top-level scalar doc trims to an empty byte slice in the reference and
    is skipped by the builder, while the cell still counts as processed
    (schema.rs:258-275)."""
    res = infer_json_schema(make_json_df(spark, ["123"]), "json_data")
    assert res.schema == {"$schema": "http://json-schema.org/schema#"}
    assert res.processed_count == 1

    # scalar NDJSON lines among objects: only the objects are observed
    df = make_json_df(spark, ['123\n{"a": 1}\n"str"\ntrue'])
    res = infer_json_schema(df, "json_data", InferenceConfig(ndjson=True))
    assert res.schema["properties"] == {"a": {"type": "integer"}}


def test_trim_to_object_wrap_root_rescues_scalars(spark):
    """wrap_root serialises {"field": inner} BEFORE the genson trim
    (schema.rs:207-236), so wrapped scalars ARE observed."""
    res = infer_json_schema(
        make_json_df(spark, ["42"]), "json_data", InferenceConfig(wrap_root="v")
    )
    assert res.schema["properties"] == {"v": {"type": "integer"}}


def test_trim_to_object_array_elements(spark):
    """Top-level array elements pass through trim_to_object individually:
    scalar elements are dropped, object elements observed."""
    df = make_json_df(spark, ['[{"a": 1}, 5, "x", {"a": 2, "b": true}]'])
    res = infer_json_schema(
        df, "json_data", InferenceConfig(ignore_outer_array=True)
    )
    assert sorted(res.schema["properties"]) == ["a", "b"]
    assert res.schema["required"] == ["a"]


def test_garbage_wrapped_doc_still_errors(spark):
    """Validation runs BEFORE the genson trim (schema.rs:160-205), so
    garbage bytes around a JSON object are still a strict error."""
    from polars_genson_spark import SchemaInferenceError

    with pytest.raises(SchemaInferenceError, match="Invalid JSON"):
        infer_json_schema(make_json_df(spark, ['xx {"a": 1} yy']), "json_data")


def test_summary_dedup_same_schema(spark):
    """A6 (reference schema.rs:429-432): identical per-partition summaries
    merge once. On a homogeneous corpus the output schema must be
    identical to the no-dedup fold, and the dedup must actually trigger."""
    import json as _json

    from polars_genson_spark.functions import summary as S
    from polars_genson_spark.operators.infer import partition_summaries

    docs = [_json.dumps({"a": i, "b": "s"}) for i in range(400)]
    # repartitionByRange on a skewed key → partitions of UNEQUAL size, so
    # the count-stripping in summary_key is what makes the dedup fire
    df = make_json_df(spark, docs).repartition(16)
    parts = partition_summaries(df, "json_data", InferenceConfig())
    keys = {S.summary_key(p["summary"]) for p in parts}
    assert len(keys) < len(parts)  # homogeneous corpus → duplicates exist

    # count must not leak into the key, but structure must
    a = S.observe(S.new_summary(), {"a": 1})
    b = S.observe(S.observe(S.new_summary(), {"a": 2}), {"a": 3})
    assert S.summary_key(a) == S.summary_key(b)  # same shape, diff counts
    c = S.observe(S.new_summary(), {"a": 1, "count": "x"})
    assert S.summary_key(a) != S.summary_key(c)  # user field named "count"

    # no-dedup fold (the pre-A6 behavior)
    node_all = S.new_summary()
    for p in parts:
        S.merge(node_all, _json.loads(_json.dumps(p["summary"])))
    # dedup fold (what infer_json_schema does)
    node_dedup = S.merge_distinct(p["summary"] for p in parts)
    assert S.to_schema(node_all) == S.to_schema(node_dedup)

    # end-to-end: the public API returns the same schema and full count
    res = infer_json_schema(df, "json_data")
    assert res.processed_count == 400
    assert sorted(res.schema["properties"]) == ["a", "b"]


def test_cli_pq_column(spark, tmp_path):
    """--pq-column parity (main.rs:199-246): infer and normalise straight
    from a parquet string column; --ndjson counts lines, not cells."""
    import json as _json
    import subprocess
    import sys as _sys

    pq = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [('{"a": 1}\n{"a": 2, "b": "x"}',), ('{"a": 3}',)], "js string"
    ).coalesce(1).write.mode("overwrite").parquet(pq)

    out = subprocess.run(
        [_sys.executable, "-m", "polars_genson_spark.cli",
         "--pq-column", "js", "--ndjson", pq],
        capture_output=True, text=True, cwd=REPO_ROOT, check=True,
    )
    schema = _json.loads(out.stdout)
    assert schema["properties"]["a"] == {"type": "integer"}
    assert schema["required"] == ["a"]
    assert "Processed 3 documents" in out.stderr  # lines, not cells

    norm = subprocess.run(
        [_sys.executable, "-m", "polars_genson_spark.cli",
         "--pq-column", "js", "--ndjson", "--normalise", pq],
        capture_output=True, text=True, cwd=REPO_ROOT, check=True,
    )
    lines = [l for l in norm.stdout.splitlines() if l.strip()]
    assert len(lines) == 3
    assert _json.loads(lines[0]) == {"a": 1, "b": None}


def test_schema_uri_semantics(spark):
    """schema_uri parity (reference schema_uri_test.py + builder.rs:18-41):
    AUTO → default URI, None → omitted, custom string → emitted as-is."""
    df = make_json_df(spark, ['{"name": "Alice", "age": 30}'])

    auto = infer_json_schema(df, "json_data").schema
    assert auto["$schema"] == "http://json-schema.org/schema#"

    none = infer_json_schema(
        df, "json_data", InferenceConfig(schema_uri=None)
    ).schema
    assert "$schema" not in none

    custom = infer_json_schema(
        df, "json_data",
        InferenceConfig(schema_uri="https://example.com/my-schema"),
    ).schema
    assert custom["$schema"] == "https://example.com/my-schema"
