"""Robustness sweep: every driver query runs against EMPTY copies of all
ten tables without crashing (returns an empty/small DataFrame), except
the schema-inference entries whose documented contract is to raise
SchemaInferenceError when no documents exist (reference
schema.rs: "No JSON documents found to process")."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from polars_genson_spark import SchemaInferenceError

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# queries whose contract is to RAISE on an empty corpus
RAISES_ON_EMPTY = {
    "schema_infer_events_props",
    "normalise_events_props",
    "normalise_decode_events",
}
# synthesizes its own input — empty tables are irrelevant
SELF_CONTAINED = {
    "multimodal_features", "pcm_audio_features", "codec_features",
}
# global aggregates (no GROUP BY): SQL semantics give exactly ONE row of
# NULL aggregates over empty input — DuckDB's oracle answer is the same
# single row, so parity holds; the sweep just expects 1, not 0
GLOBAL_AGG = {
    "q6_band_revenue",
    "q14_promo_revenue",
    "q17_small_qty_revenue",
    "q19_disjunctive_bands",
    "fingerprint_verified",
}
# Known engine difference, recorded not tested (ADVICE r05): Spark's
# Expand-based GROUPING SETS (rollup_revenue_region, cube_status_flag)
# yield 0 rows on an EMPTY relation, while DuckDB emits the grand-total
# row ([(None, None, None, 0)]). The sweep below pins only the
# Spark-side 0-row behavior; the divergence is unreachable in the
# oracle gates (they run on non-empty SF data) and is a documented
# SQL-dialect difference, not a bug in either engine.


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        (
            spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
            .limit(0)
            .write.mode("overwrite")
            .parquet(str(out / f"{t}.parquet"))
        )
    return str(out)


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_survives_empty_input(spark, empty_dir, name):
    qfn = entry_mod.queries()[name]
    if name in SELF_CONTAINED:
        pytest.skip("synthesizes its own input")
    if name in RAISES_ON_EMPTY:
        with pytest.raises(SchemaInferenceError):
            qfn(spark, empty_dir).collect()
        return
    out = qfn(spark, empty_dir)
    assert out.count() == (1 if name in GLOBAL_AGG else 0)
    assert len(out.schema.fields) > 0  # schema is still well-formed
