"""One schema monoid: ungrouped, by-group, drift and incremental inference
share one fold, one merge and one state store. Pins that the entry points
agree, that URI state dirs work, and that nothing is left persisted."""

from __future__ import annotations

import copy
import datetime
import json

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conftest import make_json_df, persisted_rdd_ids
from polars_genson_spark import (
    SchemaInferenceError,
    infer_json_schema,
    normalise_json,
)
from polars_genson_spark.functions import summary as S
from polars_genson_spark.operators.checks import psi_drift, psi_temporal
from polars_genson_spark.operators.incremental import (
    infer_incremental,
    infer_json_schema_by_group,
    schema_drift,
)

SHAPES = [
    {"a": 1, "b": "x"},
    {"a": 2.5, "c": [1, 2]},
    {"a": 3, "b": None, "d": {"e": True}},
    {"a": 4, "d": {"f": "y"}},
]


def _docs(n: int) -> list[str]:
    return [json.dumps(SHAPES[i % len(SHAPES)]) for i in range(n)]


def _write_docs(spark, path: str, docs: list[str]) -> None:
    df = spark.createDataFrame([(d,) for d in docs], "j string")
    df.coalesce(1).write.mode("append").parquet(path)


def test_entry_points_agree_on_repeated_cells(spark, tmp_path):
    df = make_json_df(spark, _docs(300), "j").repartition(6)
    flat = infer_json_schema(df, "j")
    [row] = infer_json_schema_by_group(
        df.withColumn("g", F.lit("all")), "j", "g"
    ).collect()
    assert row["error"] is None
    assert json.loads(row["schema_json"]) == flat.schema
    assert row["processed"] == flat.processed_count == 300

    _write_docs(spark, str(tmp_path / "data"), _docs(300))
    inc = infer_incremental(
        spark, str(tmp_path / "data"), str(tmp_path / "state"), "j"
    )
    assert (inc.schema, inc.processed_count) == (flat.schema, 300)


def test_strict_error_index_matches_by_group(spark):
    cells = ['{"a": 1}', '{"a": 2}', "{not json", '{"a": 3}']
    df = make_json_df(spark, cells, "j").coalesce(1)
    with pytest.raises(SchemaInferenceError) as raised:
        infer_json_schema(df, "j")
    assert "Invalid JSON input at index 3" in str(raised.value)

    [row] = infer_json_schema_by_group(
        df.withColumn("g", F.lit(1)), "j", "g"
    ).collect()
    assert (row["error"], row["schema_json"]) == (str(raised.value), None)


def test_incremental_state_under_file_uri(spark, tmp_path, monkeypatch):
    """A ``file://`` state dir is written at its real path through the
    Hadoop FileSystem, not under a cwd-relative ``file:`` directory."""
    data = str(tmp_path / "data")
    _write_docs(spark, data, _docs(20))
    _write_docs(spark, data, [json.dumps({"z": 1})])
    (tmp_path / "cwd").mkdir()
    monkeypatch.chdir(tmp_path / "cwd")
    state = tmp_path / "state"

    first = infer_incremental(spark, data, state.as_uri(), "j")
    second = infer_incremental(spark, data, state.as_uri(), "j")
    assert (state / "_schema_state.json").exists()
    assert not (tmp_path / "cwd" / "file:").exists()
    assert len(first.new_files) == 2 and not second.new_files
    assert second.reused_files == first.new_files
    assert second.schema == first.schema


def test_merge_distinct_leaves_inputs_untouched():
    """Incremental inference merges its stored per-file summaries
    directly: a merge must not alias nested props or items of an input,
    or a later merge would rewrite the stored summary."""
    docs = [{"x": 1}, {"y": 1, "l": [1]}, {"y": 1.5, "l": ["s"]}, [{"k": 1}]]
    nodes = [S.observe(S.new_summary(), d) for d in docs + [[{"k": "v"}]]]
    before = copy.deepcopy(nodes)
    merged = S.merge_distinct(nodes + nodes)
    assert nodes == before
    props = merged["object"]["props"]
    assert props["y"] == {"number": {"kind": "number"}}
    assert set(props["l"]["array"]["items"]) == {"number", "string"}
    everything = S.new_summary()
    for n in before + before:
        S.merge(everything, n)
    assert S.summary_key(merged) == S.summary_key(everything)


def _events(spark):
    rows = [
        (i % 3, datetime.datetime(2024, 1, 1 + i % 4), float(i % 700),
         json.dumps({"a": i % 5, "b": "x" * (i % 3)}))
        for i in range(400)
    ]
    return spark.createDataFrame(
        rows, "source int, ts timestamp, n double, j string"
    ).repartition(4)


def _incremental(spark, ev, tmp):
    _write_docs(spark, str(tmp / "data"), _docs(40))
    return infer_incremental(spark, str(tmp / "data"), str(tmp / "st"), "j")


LEAK_CASES = {
    "infer_json_schema": lambda spark, ev, tmp: infer_json_schema(ev, "j"),
    "infer_json_schema_by_group": lambda spark, ev, tmp: (
        infer_json_schema_by_group(ev, "j", "source")
    ),
    "schema_drift": lambda spark, ev, tmp: schema_drift(
        ev.withColumn("day", F.to_date("ts")), "j", "day"
    ),
    "infer_incremental": _incremental,
    "normalise_json": lambda spark, ev, tmp: normalise_json(ev, "j"),
    "psi_drift": lambda spark, ev, tmp: psi_drift(ev, "n"),
    "psi_temporal": lambda spark, ev, tmp: psi_temporal(ev, "ts", "n"),
}


@pytest.mark.parametrize("name", sorted(LEAK_CASES))
def test_no_persisted_rdd_left(spark, tmp_path, name):
    before = persisted_rdd_ids(spark)
    out = LEAK_CASES[name](spark, _events(spark), tmp_path)
    if isinstance(out, DataFrame):
        assert out.collect()
    assert persisted_rdd_ids(spark) - before == set()
    if name.startswith("psi_"):
        # the rollup feeds several branches of the one plan; exchange
        # reuse computes its shuffle once without a persist
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
