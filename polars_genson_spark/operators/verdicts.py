"""Per-partition pass/fail verdicts + violation-row assembly — the
generalisation of the reference's merge-then-validate shape (SURVEY.md §0)
from JSON columns to the pre-tokenized corpus table.

"Partition" here is the table partition key (``source`` — the Iceberg
identity partition in the target layout), so verdicts line up with the
physical layout a 1000-executor cluster would prune on.

One wide-agg pass computes stats + HLL uniqueness per source. Row-level
violations (consistency + referential) come from a SINGLE corpus scan: the
consistency predicate and the broadcast-left-join referential marker are
evaluated together and exploded into violation rows, so the corpus is not
rescanned per check. Exact duplicates are one wide shuffle with the
per-row sources carried via ``collect_list`` — no join-back. The combined
violations frame is persisted (violation rows are rate-bounded and small),
so per-source counts, the verdicts join, and any downstream
``violations.count()``/write reuse it instead of recomputing the scans.
Drift runs on the KB-sized histogram rollup. Everything else is
metadata-sized.

The suite runs serially: ``validate_corpus`` plans the stats, violation
and duplicate passes lazily, collects the drift histogram (the one job
it runs itself) and returns; the remaining passes run when the persisted
verdicts frame is first read (``finalise_summary``, or the caller's
writes).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ValidationConfig
from .checks import consistency_reason_expr, drift_from_histogram
from .stats import token_id_histogram


def _nullsafe_broadcast_left(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """Broadcast left join that also matches NULL keys. A plain equi-join
    never matches NULL = NULL, so a NULL-source group's violation counts
    (and drift row) would come back null, fillna() would zero them, and a
    partition with real violations would be reported as passed."""
    r = right.withColumnRenamed(key, "_rkey")
    return left.join(
        F.broadcast(r), F.col(key).eqNullSafe(F.col("_rkey")), "left"
    ).drop("_rkey")


@dataclass
class ValidationReport:
    verdicts: DataFrame
    violations: DataFrame
    drift: list[dict]
    summary: dict[str, Any] = field(default_factory=dict)
    # the input frame validate_corpus persisted for its multi-pass scan
    # (None when the caller had already cached it)
    _input_cache: DataFrame | None = None

    def passed(self) -> bool:
        return bool(self.summary.get("all_passed"))

    def unpersist_input(self) -> None:
        if self._input_cache is not None:
            self._input_cache.unpersist()
            self._input_cache = None

    def release(self) -> None:
        """Unpersist everything the report holds: the input cache, the
        verdicts and the violations. Call once the last reader is done."""
        self.unpersist_input()
        self.verdicts.unpersist()
        self.violations.unpersist()


def validate_corpus(
    df: DataFrame,
    allowed_sources: DataFrame | None = None,
    cfg: ValidationConfig | None = None,
    exact_duplicates: bool = True,
    drift_reference: DataFrame | None = None,
    with_fingerprint: bool = False,
) -> ValidationReport:
    """Run the full validation suite; returns per-source verdicts plus the
    violation rows (lazily evaluated DataFrames).

    ``drift_reference``: optional frame to build the drift baseline from
    instead of ``df`` itself. Drift is each-source-vs-the-rest, so when
    ``df`` is a resume SUBSET of the corpus, "the rest" would otherwise
    shrink to the revalidated cohort and chi²/KS/PSI would disagree with
    a from-scratch run. Passing the full corpus here restores identical
    baselines at the cost of one extra one-pass histogram rollup — the
    same cost class as the resume fingerprint scan. Only drift uses it;
    stats and violations still cover ``df`` alone.

    ``with_fingerprint``: also compute the resume content fingerprint
    (bit_xor of per-row xxhash64 — checkpoint.partition_fingerprints'
    aggregate) INSIDE the stats scan, emitted as verdict column ``_fp``.
    A fresh run needs no fingerprints before validating, so folding the
    hash into this pass retires what was a second full-corpus scan
    (~20% of the 100M-row job's wall)."""
    cfg = cfg or ValidationConfig()
    spark = df.sparkSession
    c = F.col
    src = cfg.source_col

    # The suite makes up to four passes over ``df`` (stats, row-level
    # violations, duplicate rollup, drift histogram). When the caller
    # hands in a non-cached derived frame, every pass recomputes its
    # lineage (tokenisation etc.) from the source. Persist it for the
    # report's lifetime — spill-backed, so at scale this degrades to
    # local-disk re-reads instead of recompute+re-scan, the standard
    # multi-pass trade (guide §5 "reused AND recomputing is more
    # expensive"). Skipped when the caller already persisted (e.g. the
    # 1M-row bench corpus) to avoid double-caching. Released by
    # finalise_summary / report.unpersist_input(); until then Spark's
    # LRU eviction bounds the cost.
    _own_cache = False
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        df = df.persist()
        _own_cache = True

    fp_cols = (
        [
            F.bit_xor(
                F.xxhash64(cfg.doc_id_col, cfg.tokens_col, cfg.n_tok_col)
            ).alias("_fp")
        ]
        if with_fingerprint
        else []
    )
    # ---- single-pass stats + HLL uniqueness (one shuffle, map-combined) ----
    base = df.groupBy(src).agg(
        *fp_cols,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(c(cfg.doc_id_col).isNull().cast("long")).alias("null_doc_id"),
        F.sum(c(cfg.tokens_col).isNull().cast("long")).alias("null_tokens"),
        F.sum(c(cfg.n_tok_col).isNull().cast("long")).alias("null_n_tok"),
        F.min(cfg.n_tok_col).alias("min_n_tok"),
        F.max(cfg.n_tok_col).alias("max_n_tok"),
        F.round(F.avg(cfg.n_tok_col), 4).alias("avg_n_tok"),
        F.approx_count_distinct(cfg.doc_id_col, cfg.hll_rsd).alias(
            "approx_distinct"
        ),
        F.sum(
            (c(cfg.n_tok_col) != F.size(c(cfg.tokens_col))).cast("long")
        ).alias("n_tok_mismatch"),
    )

    check_ref = allowed_sources is not None and cfg.check_referential
    check_dup = exact_duplicates and cfg.check_uniqueness
    check_cons = cfg.check_consistency

    # ---- consistency + referential: ONE corpus scan ----
    # A row may violate both checks; array+explode emits one violation row
    # per violated check, matching the per-check union semantics without a
    # second scan of the corpus.
    # the ONE shared reason chain (checks.consistency_reason_expr): a
    # third inline copy here once silently missed the token-range and
    # seq-length checks that the batch/stream paths gained
    cons_reason = consistency_reason_expr(cfg)
    marked = df
    if check_ref:
        marker = allowed_sources.select(
            c(cfg.source_col), F.lit(True).alias("_src_ok")
        ).dropDuplicates([cfg.source_col])
        marked = df.join(F.broadcast(marker), cfg.source_col, "left")
    viol_structs = []
    if check_cons:
        viol_structs.append(
            F.when(
                cons_reason.isNotNull(),
                F.struct(
                    F.lit("consistency").alias("check"),
                    cons_reason.alias("reason"),
                ),
            )
        )
    if check_ref:
        viol_structs.append(
            F.when(
                c("_src_ok").isNull(),
                F.struct(
                    F.lit("referential").alias("check"),
                    F.lit("unknown_source").alias("reason"),
                ),
            )
        )
    violation_frames: list[DataFrame] = []
    if viol_structs:
        viol_arr = F.filter(
            F.array(*viol_structs), lambda x: x.isNotNull()
        )
        row_viol = (
            marked.where(F.size(viol_arr) > 0)
            .select(
                c(cfg.doc_id_col).alias("doc_id"),
                c(cfg.source_col).alias("source"),
                F.explode(viol_arr).alias("v"),
            )
            .select("v.check", "doc_id", "source", "v.reason")
        )
        violation_frames.append(row_viol)

    # ---- exact duplicates: one wide shuffle, sources carried along ----
    if check_dup:
        dup_grp = (
            df.groupBy(cfg.doc_id_col)
            .agg(
                F.count(F.lit(1)).alias("dup_count"),
                F.collect_list(cfg.source_col).alias("_sources"),
            )
            .where(F.col("dup_count") > 1)
        )
        dup_viol = dup_grp.select(
            F.lit("uniqueness").alias("check"),
            c(cfg.doc_id_col).alias("doc_id"),
            F.explode("_sources").alias("source"),
            F.lit("duplicate_doc_id").alias("reason"),
        )
        violation_frames.append(dup_viol)

    if violation_frames:
        violations = violation_frames[0]
        for vf in violation_frames[1:]:
            violations = violations.unionByName(vf)
    else:  # every row-level check disabled: empty frame, stable schema
        doc_t = df.schema[cfg.doc_id_col].dataType.simpleString()
        violations = spark.createDataFrame(
            [], f"check string, doc_id {doc_t}, source string, reason string"
        )
    violations = violations.persist()

    # ---- per-source violation counts from the persisted frame ----
    is_check = lambda name: (c("check") == name).cast("long")  # noqa: E731
    count_cols = []
    if check_cons:
        count_cols.append(
            F.sum(is_check("consistency")).alias("consistency_violations")
        )
    if check_ref:
        count_cols.append(
            F.sum(is_check("referential")).alias("referential_violations")
        )
    if check_dup:
        count_cols.append(F.sum(is_check("uniqueness")).alias("duplicate_rows"))
    viol_counts = (
        violations.groupBy(c("source").alias(src)).agg(*count_cols)
        if count_cols
        else None
    )

    # ---- drift (KB-sized rollup → driver) ----
    drift: list[dict] = []
    if cfg.check_drift:
        drift_src = drift_reference if drift_reference is not None else df
        hist = token_id_histogram(drift_src, cfg).collect()
        drift = drift_from_histogram((r.asDict() for r in hist), cfg)
    if drift:
        drift_df = spark.createDataFrame(
            [(d["source"], float(d["chi2"]), float(d["ks"]),
              float(d["psi_rest"]), bool(d["drifted"]))
             for d in drift],
            f"{src} string, chi2 double, ks double, psi_rest double,"
            " drifted boolean",
        )
    else:
        drift_df = None

    # ---- assemble verdicts (null-safe joins: NULL is a legal source) ----
    verdicts = base
    for extra in (viol_counts, drift_df):
        if extra is not None:
            verdicts = _nullsafe_broadcast_left(verdicts, extra, src)
    zero = F.lit(0)
    verdicts = verdicts.fillna(
        {
            **({"consistency_violations": 0} if check_cons else {}),
            **({"referential_violations": 0} if check_ref else {}),
            **({"duplicate_rows": 0} if check_dup else {}),
        }
    )
    if drift_df is not None:
        verdicts = verdicts.fillna(
            {"drifted": False, "chi2": 0.0, "ks": 0.0, "psi_rest": 0.0}
        )

    # max_null_rate: the stats-side pass criterion — a partition whose
    # null-doc_id fraction exceeds the budget fails even when the
    # row-level consistency check is disabled (default 0.0 = no nulls).
    pass_expr = (
        c("null_doc_id") <= F.lit(cfg.max_null_rate) * c("n_rows")
    )
    if check_cons:
        pass_expr = pass_expr & (c("consistency_violations") == zero)
    if check_ref:
        pass_expr = pass_expr & (c("referential_violations") == zero)
    if check_dup:
        pass_expr = pass_expr & (c("duplicate_rows") == zero)
    if drift_df is not None:
        pass_expr = pass_expr & (~c("drifted"))
    verdicts = verdicts.withColumn("passed", pass_expr).persist()

    return ValidationReport(
        verdicts=verdicts,
        violations=violations,
        drift=drift,
        _input_cache=df if _own_cache else None,
    )


def finalise_summary(report: ValidationReport) -> dict[str, Any]:
    """Collect the (small) verdicts table and build the run summary."""
    rows = [r.asDict() for r in report.verdicts.collect()]
    report.unpersist_input()
    all_passed = all(r["passed"] for r in rows)
    report.summary = {
        "partitions": len(rows),
        "all_passed": all_passed,
        # None-safe sort: a NULL source is a legal partition key and must
        # not TypeError against the string keys
        "failed_partitions": sorted(
            (r["source"] for r in rows if not r["passed"]),
            key=lambda s: (s is None, s or ""),
        ),
        "total_rows": sum(r["n_rows"] for r in rows),
        "per_partition": {r["source"]: r for r in rows},
    }
    return report.summary
