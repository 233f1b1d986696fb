"""Per-partition pass/fail verdicts + violation-row assembly — the
generalisation of the reference's merge-then-validate shape (SURVEY.md §0)
from JSON columns to the pre-tokenized corpus table.

"Partition" here is the table partition key (``source`` — the Iceberg
identity partition in the target layout), so verdicts line up with the
physical layout a 1000-executor cluster would prune on.

The suite folds the corpus into three KB-sized per-source rollups and
merges them once on the driver, the shape of the reference's
``add_schema`` fold:

- stats + HLL uniqueness (one wide aggregate, map-combined);
- violation counts, aggregated from the violations frame;
- the token-value drift histogram.

Row-level violations (consistency + referential) come from a SINGLE
corpus scan: the consistency predicate and the broadcast-left-join
referential marker are evaluated together and exploded into violation
rows. Exact duplicates are one wide shuffle with the per-row sources
carried via ``collect_list`` — no join-back. The violations frame is
persisted (violation rows are rate-bounded and small).

``validate_corpus`` is eager: it runs ONE action, a ``collect()`` of the
three rollups tagged and unioned, so AQE submits their map stages
together, and that action also materialises the persisted violations.
The driver then computes drift, merges counts and drift per source
(null-safe: NULL is a legal source) and builds the verdicts as a JVM
``LocalRelation``. Reading ``report.verdicts`` or ``finalise_summary``
runs no job; what stays lazy is ``report.violations``, whose reads
(``count()``, the report write) are served from its cache.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ValidationConfig
from ..session import local_frame, persist, release
from .checks import consistency_reason_expr, drift_from_histogram
from .stats import token_id_histogram

# the rollup tag column of the one collected union
_ROLLUP = "_rollup"
_DRIFT_FIELDS = (
    T.StructField("chi2", T.DoubleType(), False),
    T.StructField("ks", T.DoubleType(), False),
    T.StructField("psi_rest", T.DoubleType(), False),
    T.StructField("drifted", T.BooleanType(), False),
)
# the drift fill of a source the histogram has no row for
_NO_DRIFT = {"chi2": 0.0, "ks": 0.0, "psi_rest": 0.0, "drifted": False}


@dataclass
class ValidationReport:
    """What ``validate_corpus`` returns. ``verdicts`` is a JVM
    ``LocalRelation`` of the per-source rows (reading it runs no rollup
    again); ``violations`` is the persisted violation-row frame, already
    materialised; ``drift`` holds the per-source drift dicts."""

    verdicts: DataFrame
    violations: DataFrame
    drift: list[dict]
    summary: dict[str, Any] = field(default_factory=dict)
    # the verdict rows as dicts, in the verdicts frame's column order
    rows: list[dict] = field(default_factory=list)
    source_col: str = "source"

    def passed(self) -> bool:
        return bool(self.summary.get("all_passed"))

    def unpersist_input(self) -> None:
        """No-op: ``validate_corpus`` releases the input cache it took
        before it returns. Kept so existing callers keep working."""

    def release(self) -> None:
        """Release the violations frame, as leaving an enclosing
        ``owned_caches()`` block does. Call once its last reader is done."""
        release(self.violations)


def validate_corpus(
    df: DataFrame,
    allowed_sources: DataFrame | None = None,
    cfg: ValidationConfig | None = None,
    exact_duplicates: bool = True,
    drift_reference: DataFrame | None = None,
    with_fingerprint: bool = False,
) -> ValidationReport:
    """Run the full validation suite; returns per-source verdicts plus the
    violation rows.

    Eager by design: the call runs one Spark action (the three per-source
    rollups, collected together) and builds the verdicts on the driver, so
    the returned verdicts are a ``LocalRelation`` and the violations frame
    is already cached. Release it with ``report.release()``.

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

    # The one action reads ``df`` from up to three rollups (stats,
    # violations, drift histogram). When the caller hands in a non-cached
    # derived frame, each would recompute its lineage (tokenisation etc.)
    # from the source. Persist it for the action — spill-backed, so at
    # scale this degrades to local-disk re-reads instead of
    # recompute+re-scan, the standard multi-pass trade (guide §5 "reused
    # AND recomputing is more expensive"). Skipped when the caller
    # already persisted (e.g. the 1M-row bench corpus) to avoid
    # double-caching; released before this function returns.
    lvl = df.storageLevel
    own_input = not (lvl.useMemory or lvl.useDisk)
    if own_input:
        df = df.persist()

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
    # NULL ids are not duplicates of each other (SQL's doc_id IN (...)
    # never matches NULL); they are null_doc_id consistency violations.
    # Sources ride in structs: collect_list drops NULLs, a legal source
    if check_dup:
        dup_grp = (
            df.where(c(cfg.doc_id_col).isNotNull())
            .groupBy(cfg.doc_id_col)
            .agg(
                F.count(F.lit(1)).alias("dup_count"),
                F.collect_list(F.struct(c(src).alias("source")))
                .alias("_sources"),
            )
            .where(F.col("dup_count") > 1)
        )
        dup_viol = dup_grp.select(
            F.lit("uniqueness").alias("check"),
            c(cfg.doc_id_col).alias("doc_id"),
            F.inline("_sources"),
            F.lit("duplicate_doc_id").alias("reason"),
        )
        violation_frames.append(dup_viol)

    if violation_frames:
        violations = reduce(DataFrame.unionByName, violation_frames)
    else:  # every row-level check disabled: empty frame, stable schema
        doc_t = df.schema[cfg.doc_id_col].dataType.simpleString()
        violations = local_frame(
            spark,
            [],
            f"check string, doc_id {doc_t}, source string, reason string",
        )
    violations = persist(violations)

    # ---- the three rollups, tagged and collected in ONE action ----
    count_checks = [
        (name, check)
        for name, check, on in (
            ("consistency_violations", "consistency", check_cons),
            ("referential_violations", "referential", check_ref),
            ("duplicate_rows", "uniqueness", check_dup),
        )
        if on
    ]
    count_names = [name for name, _ in count_checks]
    rollups = {"base": base}
    if count_checks:
        rollups["counts"] = violations.groupBy(c("source").alias(src)).agg(
            *(
                F.sum((c("check") == check).cast("long")).alias(name)
                for name, check in count_checks
            )
        )
    if cfg.check_drift:
        rollups["hist"] = token_id_histogram(
            drift_reference if drift_reference is not None else df, cfg
        )
    tagged = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        (r.withColumn(_ROLLUP, F.lit(tag)) for tag, r in rollups.items()),
    )
    try:
        collected = tagged.collect()
    finally:
        if own_input:
            df.unpersist()
    parts: dict[str, list[dict]] = {tag: [] for tag in rollups}
    for r in collected:
        d = r.asDict()
        tag = d[_ROLLUP]
        parts[tag].append({k: d[k] for k in rollups[tag].columns})

    # ---- driver merge: counts and drift per source, null-safe ----
    drift = drift_from_histogram(parts.get("hist", []), cfg)
    counts = {r[src]: r for r in parts.get("counts", [])}
    drift_by = {d["source"]: d for d in drift}
    fields = list(base.schema.fields)
    fields += [T.StructField(n, T.LongType(), False) for n in count_names]
    if drift:
        fields += _DRIFT_FIELDS
    fields.append(T.StructField("passed", T.BooleanType(), True))

    rows = parts["base"]
    for row in rows:
        got = counts.get(row[src], {})
        for n in count_names:
            row[n] = got.get(n) or 0
        # max_null_rate: the stats-side pass criterion — a partition
        # whose null-doc_id fraction exceeds the budget fails even when
        # the row-level consistency check is disabled (default 0.0 = no
        # nulls). Same double arithmetic as the SQL form
        # null_doc_id <= max_null_rate * n_rows.
        passed = float(row["null_doc_id"]) <= cfg.max_null_rate * float(
            row["n_rows"]
        ) and all(row[n] == 0 for n in count_names)
        if drift:
            d = drift_by.get(row[src], _NO_DRIFT)
            row.update(
                chi2=float(d["chi2"]),
                ks=float(d["ks"]),
                psi_rest=float(d["psi_rest"]),
                drifted=bool(d["drifted"]),
            )
            passed = passed and not row["drifted"]
        row["passed"] = passed
    verdicts = local_frame(
        spark,
        [tuple(r[f.name] for f in fields) for r in rows],
        T.StructType(fields),
    )
    return ValidationReport(
        verdicts=verdicts,
        violations=violations,
        drift=drift,
        rows=rows,
        source_col=src,
    )


def finalise_summary(report: ValidationReport) -> dict[str, Any]:
    """Build the run summary from the verdict rows ``validate_corpus``
    already holds; submits no Spark job."""
    src = report.source_col
    rows = [dict(r) for r in report.rows]
    report.summary = {
        "partitions": len(rows),
        "all_passed": all(r["passed"] for r in rows),
        # None-safe sort: a NULL source is a legal partition key and must
        # not TypeError against the string keys
        "failed_partitions": sorted(
            (r[src] for r in rows if not r["passed"]),
            key=lambda s: (s is None, s or ""),
        ),
        "total_rows": sum(r["n_rows"] for r in rows),
        "per_partition": {r[src]: r for r in rows},
    }
    return report.summary
