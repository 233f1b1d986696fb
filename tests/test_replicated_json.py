"""Replicated JSON cells: the per-task cell caches must be invisible in
results, only in wall-clock.

``normalise_json`` has one path. Repeated cells are skipped by the infer
fold's first-occurrence cell cache and by the normalise UDF's
cell->output cache, never by a distinct shuffle or a join. These tests
pin: normalised rows equal a driver-side per-cell reference (plain and
decoded, on replicated many-partition frames), null/blank/unparseable
cells normalise to null, nothing is left persisted after the action,
processed_count counts repeats, and the schema is invariant under
replication.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import polars_genson_spark as pgs
from polars_genson_spark.functions.normalise import compile_document_normaliser


@pytest.fixture(scope="module")
def spark():
    from polars_genson_spark.session import get_spark

    s = get_spark(
        app_name="replicated-json",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


def _replicated_docs(spark, n_distinct=40, copies=300):
    # 12k rows over 40 distinct docs: every task sees each doc many times
    docs = [
        json.dumps({"id": i, "name": f"doc-{i}", "tags": [i, i + 1]})
        for i in range(n_distinct)
    ]
    rows = [(i, docs[i % n_distinct]) for i in range(n_distinct * copies)]
    return spark.createDataFrame(rows, "row_id long, payload string")


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _reference(df, schema) -> dict[int, str | None]:
    """row_id -> normalised text, computed on the driver one cell at a
    time with the compiled kernel and normalise_json's default config."""
    kernel = compile_document_normaliser(
        schema,
        pgs.NormaliseConfig(wrap_root=pgs.InferenceConfig().wrap_root),
    )

    def one(cell):
        if cell is None or not cell.strip():
            return None
        try:
            doc = json.loads(cell)
        except ValueError:
            return None
        return json.dumps(kernel(doc), separators=(",", ":"))

    return {r.row_id: one(r.payload) for r in df.collect()}


@pytest.mark.parametrize("decode", [False, True], ids=["plain", "decoded"])
def test_normalise_replicated_matches_reference(spark, decode):
    # the many-partition replicated shape: normalise_json must leave no
    # persisted or checkpointed RDD behind once the action has run
    df = _replicated_docs(spark).repartition(16)
    schema = pgs.infer_json_schema(
        df.select("payload").distinct().coalesce(1), "payload",
        pgs.InferenceConfig(avro=True),
    ).schema
    ref = _reference(df, schema)

    before = _persistent_rdds(spark)
    out = pgs.normalise_json(
        df, "payload", output_col="norm", decode=decode, unnest=False
    )
    norm = F.to_json("norm") if decode else F.col("norm")
    got = dict(map(tuple, out.select("row_id", norm).collect()))
    assert _persistent_rdds(spark) == before

    assert len(got) == len(ref) == 40 * 300
    if decode:
        got = {k: json.loads(v) for k, v in got.items()}
        ref = {k: json.loads(v) for k, v in ref.items()}
    assert got == ref


def test_normalise_nulls_and_blanks(spark):
    # null / blank / unparseable cells normalise to null, and every
    # other row matches the reference
    base = [(i, json.dumps({"k": i % 5})) for i in range(12000)]
    base += [(90001, None), (90002, "   "), (90003, "{not json")]
    df = spark.createDataFrame(base, "row_id long, payload string")
    # inference is strict on invalid JSON by design; hand the schema in
    # so the test exercises the normalise stage's null handling alone
    schema = pgs.infer_json_schema(
        df.where(F.col("row_id") < 90000), "payload",
        pgs.InferenceConfig(avro=True),
    ).schema
    got = dict(
        map(
            tuple,
            pgs.normalise_json(
                df.repartition(16), "payload", output_col="norm",
                avro_schema=schema,
            )
            .select("row_id", "norm")
            .collect(),
        )
    )
    assert [got[i] for i in (90001, 90002, 90003)] == [None, None, None]
    assert got == _reference(df, schema)


def test_infer_cell_cache_replication_invariant(spark):
    df = _replicated_docs(spark, n_distinct=25, copies=500)
    rep = pgs.infer_json_schema(df.repartition(16), "payload")
    one = pgs.infer_json_schema(
        df.select("payload").distinct().coalesce(1), "payload"
    )
    assert rep.schema == one.schema
    assert rep.processed_count == 25 * 500
    assert one.processed_count == 25


def test_infer_cell_cache_error_index_first_occurrence(spark):
    # an invalid cell must still raise, with the strict-mode error
    # carrying its first-occurrence index semantics
    rows = [(i, json.dumps({"k": i % 3})) for i in range(50)]
    rows.append((50, "{broken"))
    df = spark.createDataFrame(rows, "row_id long, payload string")
    from polars_genson_spark.operators.infer import SchemaInferenceError

    with pytest.raises(Exception) as ei:
        pgs.infer_json_schema(df.coalesce(1), "payload")
    assert "Invalid JSON" in str(ei.value)
