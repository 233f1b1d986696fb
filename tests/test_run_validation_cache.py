"""``run_validation`` releases every frame it persists.

Frames left cached outlive the call: Spark's cache manager matches a
later plan over the same path to them, so a validation that re-reads a
corpus whose files changed in between would be served the old verdicts.
The test swaps one ``source=`` partition's files between calls, with no
``refreshByPath``, and checks that the resumed verdicts equal a
from-scratch run and that the persistent-RDD count returns to its
pre-call value after every call.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from polars_genson_spark.jobs import run_validation
from polars_genson_spark.sources.corpus import allowed_sources_df, write_corpus

VERDICT_FIELDS = (
    "n_rows", "consistency_violations", "referential_violations",
    "duplicate_rows", "passed",
)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _validate(spark, corpus_dir, allowed, run_dir, **kw) -> dict:
    before = _persistent_rdds(spark)
    res = run_validation(
        spark, spark.read.parquet(corpus_dir), allowed, run_dir, **kw
    )
    assert _persistent_rdds(spark) == before
    return res


def _verdicts(res: dict) -> dict:
    return {
        s: {k: p[k] for k in VERDICT_FIELDS}
        for s, p in res["partitions"].items()
    }


def test_resume_after_file_swap_releases_caches(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    part_dir = os.path.join(corpus_dir, "source=books")
    variant = str(tmp_path / "books_b")
    write_corpus(spark, corpus_dir, 4000, seed=5)
    # same doc_ids and tokens (so duplicates and drift are unchanged),
    # plus a seeded sprinkle of n_tok mismatches: the books verdict
    # counts differ from the original files'
    bump = F.abs(F.xxhash64("doc_id")) % 20 == 0
    spark.read.parquet(part_dir).select(
        "doc_id", "tokens",
        F.when(bump, F.col("n_tok") + 1).otherwise(F.col("n_tok"))
        .alias("n_tok"),
    ).write.parquet(variant)
    allowed = allowed_sources_df(spark)
    run_dir = str(tmp_path / "run")

    fresh = _validate(spark, corpus_dir, allowed, run_dir)
    assert fresh["skipped"] == []

    shutil.rmtree(part_dir)
    shutil.copytree(variant, part_dir)

    resumed = _validate(spark, corpus_dir, allowed, run_dir)
    assert resumed["validated"] == ["books"]
    scratch = _validate(
        spark, corpus_dir, allowed, str(tmp_path / "ref"),
        resume=False, write_outputs=False,
    )
    assert _verdicts(resumed) == _verdicts(scratch)
    books = _verdicts(resumed)["books"]
    assert books["consistency_violations"] > (
        _verdicts(fresh)["books"]["consistency_violations"]
    )
