"""``validate_corpus`` runs one Spark action and builds its verdicts on the
driver: job budget, plan shapes, the verdict schema per config, and the
two bugs the driver merge fixes (NULL ids as duplicates, a renamed source
column)."""

from __future__ import annotations

import pytest
from conftest import jobs_in, persisted_rdd_ids

from polars_genson_spark.config import ValidationConfig
from polars_genson_spark.operators.checks import duplicate_rows
from polars_genson_spark.operators.dedup import near_dup_clusters
from polars_genson_spark.operators.verdicts import (
    finalise_summary,
    validate_corpus,
)
from polars_genson_spark.session import local_frame
from polars_genson_spark.sources.corpus import (
    allowed_sources_df,
    generate_corpus,
)

CORPUS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_BASE = [
    ("source", "string", True),
    ("n_rows", "bigint", False),
    ("null_doc_id", "bigint", True),
    ("null_tokens", "bigint", True),
    ("null_n_tok", "bigint", True),
    ("min_n_tok", "int", True),
    ("max_n_tok", "int", True),
    ("avg_n_tok", "double", True),
    ("approx_distinct", "bigint", False),
    ("n_tok_mismatch", "bigint", True),
]
_COUNTS = [
    ("consistency_violations", "bigint", False),
    ("referential_violations", "bigint", False),
    ("duplicate_rows", "bigint", False),
]
_DRIFT = [
    ("chi2", "double", False),
    ("ks", "double", False),
    ("psi_rest", "double", False),
    ("drifted", "boolean", False),
]
_PASSED = [("passed", "boolean", True)]

# the verdict schema the lazy Catalyst assembly produced, per config:
# (ValidationConfig kwargs, validate_corpus kwargs, fields)
SCHEMAS = {
    "default": ({}, {}, _BASE + _COUNTS + _DRIFT + _PASSED),
    "with_fingerprint": (
        {},
        {"with_fingerprint": True},
        _BASE[:1] + [("_fp", "bigint", True)] + _BASE[1:]
        + _COUNTS + _DRIFT + _PASSED,
    ),
    "no_drift": ({"check_drift": False}, {}, _BASE + _COUNTS + _PASSED),
    "all_checks_off": (
        {"check_drift": False, "check_consistency": False},
        {"allowed": None, "exact_duplicates": False},
        _BASE + _PASSED,
    ),
}


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, 4000, seed=11).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def allowed(spark):
    return allowed_sources_df(spark)


def _python_rdd_leaves(df) -> list[str]:
    """Debug strings of the LogicalRDD leaves of ``df``'s analyzed plan
    (``createDataFrame(list)`` builds one over ``applySchemaToPythonRDD``)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            out.append(leaf.rdd().toDebugString())
    return out


def test_one_action_job_budget(spark, corpus, allowed):
    def op():
        report = validate_corpus(corpus, allowed)
        finalise_summary(report)
        report.violations.count()
        return report

    report, n_jobs = jobs_in(spark, "one_action_budget", op)
    report.release()
    assert n_jobs <= 10, f"validate + summary + violations.count ran {n_jobs} jobs"


def test_finalise_summary_runs_no_job(spark, corpus, allowed):
    report = validate_corpus(corpus, allowed)
    summary, n_jobs = jobs_in(
        spark, "finalise_no_job", lambda: finalise_summary(report)
    )
    report.release()
    assert n_jobs == 0, f"finalise_summary ran {n_jobs} jobs"
    assert summary["total_rows"] == 4000


def test_verdicts_local_relation_and_no_python_rdd(spark, corpus, allowed):
    report = validate_corpus(corpus, allowed)
    analyzed = report.verdicts._jdf.queryExecution().analyzed()
    assert analyzed.getClass().getSimpleName() == "LocalRelation"
    for name, df in (
        ("allowed", allowed),
        ("verdicts", report.verdicts),
        ("violations", report.violations),
    ):
        assert _python_rdd_leaves(df) == [], name
    # reading the verdicts again runs no rollup: the rows come back as built
    assert sorted(map(tuple, report.verdicts.collect())) == sorted(
        tuple(r.values()) for r in report.rows
    )
    report.release()


def test_all_checks_off_violations_are_local(spark, corpus):
    cfg = ValidationConfig(check_drift=False, check_consistency=False)
    report = validate_corpus(corpus, None, cfg, exact_duplicates=False)
    assert _python_rdd_leaves(report.violations) == []
    assert report.violations.count() == 0
    report.release()


def test_driver_union_find_labels_are_local(spark):
    pairs = local_frame(
        spark, [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    labels = near_dup_clusters(pairs)
    assert _python_rdd_leaves(labels) == []
    assert sorted(map(tuple, labels.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    ]


@pytest.mark.parametrize("name", list(SCHEMAS))
def test_verdict_schema_per_config(spark, corpus, allowed, name):
    cfg_kw, call_kw, fields = SCHEMAS[name]
    call_kw = dict(call_kw)
    allowed_arg = call_kw.pop("allowed", allowed)
    report = validate_corpus(
        corpus, allowed_arg, ValidationConfig(**cfg_kw), **call_kw
    )
    got = [
        (f.name, f.dataType.simpleString(), f.nullable)
        for f in report.verdicts.schema.fields
    ]
    report.release()
    assert got == fields


def test_input_cache_released_before_return(spark):
    df = generate_corpus(spark, 2000, seed=3)  # not cached by the caller
    before = persisted_rdd_ids(spark)
    report = validate_corpus(df, allowed_sources_df(spark))
    assert len(persisted_rdd_ids(spark) - before) == 1  # the violations
    report.unpersist_input()
    report.unpersist_input()  # idempotent
    report.release()
    assert persisted_rdd_ids(spark) - before == set()


def test_null_doc_ids_are_not_duplicates(spark):
    # "d" is duplicated across web and the NULL source, a partition too
    rows = [(None, [1], 1, "web"), (None, [2], 1, "web"), ("a", [3], 1, "web"),
            ("d", [4], 1, None), ("d", [5], 1, "web"), ("e", [6], 1, None)]
    df = local_frame(spark, rows, CORPUS_SCHEMA)
    report = validate_corpus(df, None, ValidationConfig(check_drift=False))
    per = finalise_summary(report)["per_partition"]
    assert {
        s: (r["consistency_violations"], r["duplicate_rows"])
        for s, r in per.items()
    } == {"web": (2, 1), None: (0, 1)}
    checks = sorted(
        (r["check"], r["source"] or "") for r in report.violations.collect()
    )
    assert checks == [("consistency", "web")] * 2 + [
        ("uniqueness", ""), ("uniqueness", "web"),
    ]
    report.release()
    assert [r["sources"] for r in duplicate_rows(df).collect()] == [
        ["web", None]
    ]


def test_renamed_source_column(spark, corpus, allowed):
    report = validate_corpus(corpus, allowed)
    summary = finalise_summary(report)
    renamed = validate_corpus(
        corpus.withColumnRenamed("source", "split"),
        allowed.withColumnRenamed("source", "split"),
        ValidationConfig(source_col="split"),
    )
    summary2 = finalise_summary(renamed)
    assert renamed.verdicts.columns[0] == "split"
    assert sorted(map(tuple, renamed.verdicts.collect())) == sorted(
        map(tuple, report.verdicts.collect())
    )
    assert renamed.drift == report.drift
    assert summary2["failed_partitions"] == summary["failed_partitions"]
    assert set(summary2["per_partition"]) == set(summary["per_partition"])
    # the violations frame keeps its documented ``source`` column
    assert renamed.violations.columns == ["check", "doc_id", "source", "reason"]
    assert sorted(map(tuple, renamed.violations.collect())) == sorted(
        map(tuple, report.violations.collect())
    )
    report.release()
    renamed.release()
