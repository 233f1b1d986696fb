"""Mimic the driver's correctness gate locally: run every queries() entry
at sf0.01 and compare against its oracle_sql() via DuckDB — row count,
column names, and order-insensitive value hash.

Each query is built and consumed inside ``owned_caches()``: it must
leave no persisted RDD behind, and building its plan may submit one job
per parquet read (the footer read) unless it is declared eager."""

from __future__ import annotations

import decimal
import hashlib
import math

import duckdb
import pytest
from conftest import jobs_in, persisted_rdd_ids
from pyspark.sql.readwriter import DataFrameReader

import __spark_entry__ as entry_mod
from polars_genson_spark.session import owned_caches

# override with SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.1 to stress the
# hash gate at 10x the driver's comparison scale
import os as _os

SF_DIR = _os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(v):
    # strict on purpose: floats canonicalise via repr (no re-rounding) so
    # a 1-ULP Spark-vs-DuckDB divergence fails HERE, not only at the
    # driver's hash gate (round-1 lesson: a 9-dp re-round masked exactly
    # the stats_documents/events_json failures)
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def _value_hash(rows: list[dict]) -> str:
    lines = []
    for r in rows:
        lines.append(
            "|".join(f"{k}={_canon(r[k])}" for k in sorted(r.keys()))
        )
    lines.sort()
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


ORACLED = sorted(entry_mod.oracle_sql().keys())
ALL = sorted(entry_mod.queries().keys())

# queries whose plan building runs Spark jobs beyond the footer reads
EAGER = {
    "corpus_verdicts": "validate_corpus runs its one action before returning",
    "near_dup_clusters": "connected components run before the labels return",
    "semantic_dedup": "the vector-length probe sizes and checks the input",
    "semantic_dedup_gram": "the vector-length probe sizes and checks the input",
    "bpe_tokenize_docs": "BPE merges are trained from collected word counts",
    "bpe_roundtrip_docs": "BPE merges are trained from collected word counts",
    "normalise_events_props": "the schema is inferred to build the decoder",
    "normalise_decode_events": "the schema is inferred to build the decoder",
    "schema_infer_events_props": "the inferred schema is a driver-side result",
    "schema_drift_events": "per-window schemas are inferred and diffed",
    "temperature_mix_docs": "per-source counts set the sampling rates",
}


def _run_owned(spark, monkeypatch, name, consume):
    """``(frame, consume(frame))`` for query ``name``, under the contract
    the module docstring states."""
    reads = []
    parquet = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet",
        lambda self, *p, **o: reads.append(p) or parquet(self, *p, **o),
    )
    before = persisted_rdd_ids(spark)
    with owned_caches():
        sdf, build_jobs = jobs_in(
            spark, f"build-{name}",
            lambda: entry_mod.queries()[name](spark, SF_DIR),
        )
        out = consume(sdf)
    assert persisted_rdd_ids(spark) <= before, f"{name}: caches left"
    # exact both ways, so the declared eager set cannot go stale
    assert (build_jobs > len(reads)) == (name in EAGER), (
        f"{name}: {build_jobs} jobs while building, {len(reads)} reads"
    )
    return sdf, out


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, monkeypatch, name):
    sdf, rows = _run_owned(spark, monkeypatch, name, lambda d: d.collect())
    spark_rows = [r.asDict() for r in rows]

    cur = ddb.execute(entry_mod.oracle_sql()[name])
    cols = [d[0] for d in cur.description]
    duck_rows = [dict(zip(cols, row)) for row in cur.fetchall()]

    assert sorted(spark_rows[0].keys() if spark_rows else sdf.columns) == sorted(
        cols
    ), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sh, dh = _value_hash(spark_rows), _value_hash(duck_rows)
    if sh != dh:
        # debugging aid: show first differing canonical line
        s_lines = sorted(
            "|".join(f"{k}={_canon(r[k])}" for k in sorted(r)) for r in spark_rows
        )
        d_lines = sorted(
            "|".join(f"{k}={_canon(r[k])}" for k in sorted(r)) for r in duck_rows
        )
        diffs = [
            (a, b) for a, b in zip(s_lines, d_lines) if a != b
        ][:3]
        raise AssertionError(f"{name}: value hash mismatch; first diffs {diffs}")


@pytest.mark.parametrize(
    "name", [n for n in ALL if n not in ORACLED]
)
def test_rows_only_queries_run(spark, monkeypatch, name):
    sdf, n = _run_owned(spark, monkeypatch, name, lambda d: d.count())
    assert n >= 0
    assert len(sdf.schema.fields) > 0


def test_entry_smoke(spark):
    out = entry_mod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert "passed" in out.columns
