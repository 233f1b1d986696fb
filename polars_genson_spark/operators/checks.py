"""Constraint checks: uniqueness (HLL + exact), referential (broadcast
anti-join + Bloom prefilter for large dims), consistency, and
distribution-drift (chi² / KS on token histograms).

Scale notes (the 100 TB story):
- uniqueness: ``approx_count_distinct`` (HyperLogLog++) is a map-side
  aggregate — one pass, no wide shuffle; the exact duplicate-row listing is
  a separate opt-in groupBy on doc_id (the only genuinely wide shuffle in
  the engine; AQE + salting handle skew).
- referential: a ~20-row dim is broadcast → anti-join never shuffles the
  fact table. For dims too large to broadcast, ``bloom_prefilter`` drops
  the overwhelming majority of matching rows with a broadcast Bloom filter
  (DataFrame.stat.bloomFilter, fpp configurable) so only candidate
  violations reach the join.
- drift: computed on the per-(source, bucket) histogram table — KB-sized on
  the driver regardless of corpus size.
"""

from __future__ import annotations

import math
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ValidationConfig


# ---------------------------------------------------------------------------
# Uniqueness
# ---------------------------------------------------------------------------


def uniqueness_summary(
    df: DataFrame, cfg: ValidationConfig | None = None
) -> DataFrame:
    """Per-source row counts vs HLL distinct doc_id estimates."""
    cfg = cfg or ValidationConfig()
    return df.groupBy(cfg.source_col).agg(
        F.count(cfg.doc_id_col).alias("n_rows"),
        F.approx_count_distinct(cfg.doc_id_col, cfg.hll_rsd).alias(
            "approx_distinct"
        ),
    )


def duplicate_rows(
    df: DataFrame, cfg: ValidationConfig | None = None
) -> DataFrame:
    """Exact duplicate doc_ids: (doc_id, dup_count, sources). The wide
    shuffle; run after the HLL summary has flagged which sources need it.
    NULL ids are not duplicates of each other: they are ``null_doc_id``
    consistency violations. A NULL source is kept (sorted last): sources
    are collected as structs, because ``collect_set`` drops NULLs."""
    cfg = cfg or ValidationConfig()
    src = cfg.source_col
    return (
        df.where(F.col(cfg.doc_id_col).isNotNull())
        .groupBy(cfg.doc_id_col)
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.array_sort(
                F.transform(F.collect_set(F.struct(src)), lambda s: s[src])
            ).alias("sources"),
        )
        .where(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# Referential
# ---------------------------------------------------------------------------


def referential_violations(
    df: DataFrame,
    allowed: DataFrame,
    cfg: ValidationConfig | None = None,
) -> DataFrame:
    """Rows whose ``source`` is not in the allowed-sources dimension.

    The dim is broadcast — no shuffle of the fact side.
    """
    cfg = cfg or ValidationConfig()
    return df.join(F.broadcast(allowed), cfg.source_col, "left_anti")


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    n = max(n, 1)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2)) + 1
    m = ((m + 63) // 64) * 64  # round up to whole uint64 words
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_positions_batch(values, m_bits: int, k: int):
    """(n, k) position matrix via double hashing, fully array-wise.

    h1/h2 come from pandas' C-vectorized 64-bit hash (SipHash over the
    string bytes, deterministic under a fixed 16-byte key — no Python
    per-value loop at all), then ``(h1 + i*h2) mod 2^64 mod m_bits``
    broadcasts over i in numpy. A batch of B values costs two vectorized
    hash passes plus O(B·k) arithmetic instead of B·k Python iterations
    with a hashlib call per value (the round-1 shape)."""
    import numpy as np
    import pandas as pd

    s = pd.Series(values, dtype="object").astype(str)
    h1 = pd.util.hash_pandas_object(
        s, index=False, hash_key="spark-graft-h1!!"
    ).to_numpy(dtype=np.uint64)
    # h2 from a splitmix64-style remix of h1 (vectorized) — one hash pass
    # instead of two; |1 keeps the stride odd so all k probes are distinct
    h2 = (h1 ^ (h1 >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h2 = (h2 ^ (h2 >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h2 = (h2 ^ (h2 >> np.uint64(31))) | np.uint64(1)
    idx = np.arange(k, dtype=np.uint64)[None, :]
    # uint64 arithmetic wraps silently — that wraparound IS the definition
    # of the double-hash family here (build and probe share it)
    pos = (h1[:, None] + idx * h2[:, None]) % np.uint64(m_bits)
    return pos.astype(np.int64)


def build_bloom_filter(
    dim: DataFrame,
    column: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> dict:
    """Distributed Bloom-filter build: each partition of the dimension
    produces a packed uint64 bitmap (mapInPandas), the driver ORs the
    partials — an associative reduce, so the dim is never collected.

    (pyspark exposes no Python-side DataFrame.stat.bloomFilter; this is
    the same construction, sized by the standard m = -n·ln p / ln²2.)
    """
    import numpy as np

    if expected_items is None:
        expected_items = dim.count()
    m_bits, k = _bloom_params(expected_items, fpp)
    words = m_bits // 64

    def partial(batches):
        bitmap = np.zeros(words, dtype=np.uint64)
        for pdf in batches:
            vals = pdf[column].dropna()
            if not len(vals):
                continue
            pos = _bloom_positions_batch(vals.tolist(), m_bits, k)
            bits = np.left_shift(np.uint64(1), (pos & 63).astype(np.uint64))
            np.bitwise_or.at(bitmap, pos >> 6, bits)
        yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    parts = (
        dim.select(column).mapInPandas(partial, "bitmap binary").collect()
    )
    bitmap = np.zeros(words, dtype=np.uint64)
    for r in parts:
        bitmap |= np.frombuffer(r["bitmap"], dtype=np.uint64)
    return {"bitmap": bitmap.tobytes(), "m_bits": m_bits, "k": k}


def bloom_prefilter(
    df: DataFrame,
    column: str,
    allowed: DataFrame,
    allowed_column: str | None = None,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Keep only rows whose ``column`` is definitely NOT in ``allowed`` —
    the Bloom-filter prefilter for referential checks against dims too
    large to broadcast-join cheaply.

    Contract (Bloom has no false NEGATIVES, so ``might_contain=False`` ⇒
    definitely absent): every row this returns is a TRUE violation, but a
    true violation is *missed* with probability ≈ ``fpp`` (its key
    false-positives as present and is dropped). The output is therefore a
    ≈(1−fpp) sample of the violation set — an approximate check that
    trades completeness for never shuffling the fact table against a
    too-big-to-broadcast dim. Use :func:`referential_violations` (exact
    anti-join) when completeness is required, or lower ``fpp`` (memory
    grows ~1.44·log2(1/fpp) bits/key) to tighten the miss rate. The
    missed rows cannot be recovered from this output by any downstream
    join — they are indistinguishable from genuine matches here.
    """
    import numpy as np

    allowed_column = allowed_column or column
    bloom = build_bloom_filter(allowed, allowed_column, expected_items, fpp)
    bc = df.sparkSession.sparkContext.broadcast(bloom)

    @F.pandas_udf("boolean")
    def might_contain(s: pd.Series) -> pd.Series:
        b = bc.value
        bitmap = np.frombuffer(b["bitmap"], dtype=np.uint64)
        m_bits, k = b["m_bits"], b["k"]
        out = np.zeros(len(s), dtype=bool)
        nn = s.notna().to_numpy()
        if nn.any():
            pos = _bloom_positions_batch(s[nn].tolist(), m_bits, k)
            bits = np.left_shift(np.uint64(1), (pos & 63).astype(np.uint64))
            out[nn] = ((bitmap[pos >> 6] & bits) != 0).all(axis=1)
        return pd.Series(out)

    return df.where(~might_contain(F.col(column)))


# ---------------------------------------------------------------------------
# Consistency
# ---------------------------------------------------------------------------


def consistency_reason_expr(cfg: ValidationConfig):
    """The ONE consistency when-chain, shared by the batch and streaming
    paths so the two can never diverge (a copy-pasted chain once missed
    token_out_of_range on the streaming side)."""
    c = F.col
    chain = (
        F.when(c(cfg.doc_id_col).isNull(), F.lit("null_doc_id"))
        .when(c(cfg.tokens_col).isNull(), F.lit("null_tokens"))
        .when(c(cfg.n_tok_col).isNull(), F.lit("null_n_tok"))
        .when(
            c(cfg.n_tok_col) != F.size(c(cfg.tokens_col)),
            F.lit("n_tok_mismatch"),
        )
    )
    if cfg.check_token_range:
        chain = chain.when(
            F.exists(
                c(cfg.tokens_col),
                lambda t: (t < 0) | (t >= F.lit(cfg.vocab_size)),
            ),
            F.lit("token_out_of_range"),
        )
    # bounds branches built conditionally in PYTHON (None/0 = unchecked,
    # per the config contract — a lit(bool)&... construction flagged
    # every doc when max_seq_len=0)
    if cfg.min_seq_len:
        chain = chain.when(
            c(cfg.n_tok_col) < F.lit(cfg.min_seq_len),
            F.lit("seq_too_short"),
        )
    if cfg.max_seq_len:
        chain = chain.when(
            c(cfg.n_tok_col) > F.lit(cfg.max_seq_len),
            F.lit("seq_len_exceeded"),
        )
    return chain


def consistency_violations(
    df: DataFrame, cfg: ValidationConfig | None = None
) -> DataFrame:
    """Rows violating the structural invariants: null doc_id/tokens/n_tok,
    n_tok != size(tokens), or any token id outside [0, vocab_size) —
    the pre-tokenized corpus's referential integrity against its own
    tokenizer vocabulary."""
    cfg = cfg or ValidationConfig()
    c = F.col
    reason = consistency_reason_expr(cfg)
    return (
        df.withColumn("reason", reason)
        .where(F.col("reason").isNotNull())
        .select(cfg.doc_id_col, cfg.source_col, "reason", cfg.n_tok_col,
                F.size(cfg.tokens_col).alias("actual_len"))
    )


# ---------------------------------------------------------------------------
# Drift (chi-square + KS on token-id histograms)
# ---------------------------------------------------------------------------


def _chi2_sf(x: float, k: int) -> float:
    """Survival function of chi² via the Wilson–Hilferty normal
    approximation — ~30 lines beats a scipy dependency (SURVEY.md §7.1.5)."""
    if k <= 0:
        return 1.0
    if x <= 0:
        return 1.0
    z = ((x / k) ** (1.0 / 3.0) - (1.0 - 2.0 / (9.0 * k))) / math.sqrt(
        2.0 / (9.0 * k)
    )
    return 0.5 * math.erfc(z / math.sqrt(2.0))


def drift_from_histogram(
    hist_rows: Iterable, cfg: ValidationConfig | None = None
) -> list[dict]:
    """Driver-side drift tests on (source, bucket, cnt) rows. The source
    is read from ``cfg.source_col``; each returned dict names it
    ``source``.

    For each source: the full 2×B chi² homogeneity test of (source row,
    rest row) — expected cell counts from the pooled marginals, BOTH cells
    summed — plus the KS D-statistic between the empirical CDFs. Summing
    only the source cells (an earlier version) silently diluted drift for
    a dominant source: with 99% of the mass, e_s ≈ o_s by construction and
    the statistic stayed near zero however far the source drifted, while
    the rest-row cells (where the deviation actually shows) went uncounted.
    Returns one dict per source.
    """
    cfg = cfg or ValidationConfig()
    counts: dict[str, dict[int, int]] = {}
    for r in hist_rows:
        counts.setdefault(r[cfg.source_col], {})[int(r["bucket"])] = int(
            r["cnt"]
        )
    if not counts:
        return []
    all_buckets = sorted({b for d in counts.values() for b in d})
    totals = {s: sum(d.values()) for s, d in counts.items()}
    grand = sum(totals.values())
    # per-bucket pooled totals ONCE — O(S·B); recomputing the rest-count
    # inside the source loop was O(S²·B) driver work for the same numbers
    pooled = {
        b: sum(d.get(b, 0) for d in counts.values()) for b in all_buckets
    }

    out = []
    # None-safe sort: a NULL source is a legal histogram key
    for s in sorted(counts, key=lambda k: (k is None, k or "")):
        d = counts[s]
        n_s = totals[s]
        n_rest = grand - n_s
        if n_s == 0 or n_rest == 0:
            out.append(
                {"source": s, "chi2": 0.0, "p_value": 1.0, "ks": 0.0,
                 "psi_rest": 0.0, "drifted": False}
            )
            continue
        chi2 = 0.0
        dof = 0
        cdf_s = 0.0
        cdf_r = 0.0
        ks = 0.0
        psi = 0.0
        eps = 1e-6
        for b in all_buckets:
            o_s = d.get(b, 0)
            tot_b = pooled[b]
            o_r = tot_b - o_s
            if tot_b == 0:
                continue
            e_s = tot_b * n_s / grand
            e_r = tot_b * n_rest / grand
            if e_s > 0 and e_r > 0:
                chi2 += (o_s - e_s) ** 2 / e_s + (o_r - e_r) ** 2 / e_r
                dof += 1
            cdf_s += o_s / n_s
            cdf_r += o_r / n_rest
            ks = max(ks, abs(cdf_s - cdf_r))
            # leave-one-out PSI (baseline = pooled REST, like the chi²/KS
            # comparisons here) — named psi_rest to distinguish it from
            # psi_drift's pooled-including-self convention
            p_b = max(o_s / n_s, eps)
            q_b = max(o_r / n_rest, eps)
            psi += (p_b - q_b) * math.log(p_b / q_b)
        p = _chi2_sf(chi2, max(dof - 1, 1))
        out.append(
            {
                "source": s,
                "chi2": round(chi2, 4),
                "p_value": p,
                "ks": round(ks, 6),
                "psi_rest": round(psi, 4),
                "drifted": bool(p < cfg.drift_alpha and ks >= cfg.ks_threshold),
            }
        )
    return out


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    bucket_width: float = 200.0,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per group against the pooled corpus
    distribution INCLUDING the group itself — the production-monitoring
    convention (current window vs overall reference; PSI > 0.2 ≈ action
    threshold). NOTE the baseline differs from the verdicts' ``psi_rest``
    column, which is leave-one-out (group vs pooled REST, matching the
    chi²/KS comparisons): for a dominant group, including itself dilutes
    its own drift — use psi_rest when asking "does this source deviate
    from the others", use this when asking "how far is this slice from
    the corpus profile".

    Fully distributed and SQL-expressible: one scan + one (group, bucket)
    count shuffle; everything after runs on KB-sized rollups (|groups| ×
    |buckets| grid), so the plan is corpus-size-independent past the
    first aggregation, like the chi²/KS rollup.

    Zero-count source buckets take ``eps`` (standard PSI smoothing); the
    pooled q is never zero because the grid is built from observed
    buckets only.
    """
    b = df.select(
        F.col(group_col).alias("grp"),
        F.floor(F.col(value_col) / F.lit(bucket_width)).alias("bucket"),
    )
    # the (group, bucket) rollup feeds four branches of the one plan;
    # exchange reuse computes its shuffle once, with no cache to release
    counts = b.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("grp").agg(F.sum("c").alias("n_g"))
    overall = counts.groupBy("bucket").agg(F.sum("c").alias("c_b"))
    grand = counts.agg(F.sum("c").alias("g"))
    grid = totals.crossJoin(F.broadcast(overall)).crossJoin(
        F.broadcast(grand)
    )
    j = grid.join(counts, ["grp", "bucket"], "left").select(
        "grp",
        F.greatest(
            F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("n_g"),
            F.lit(eps),
        ).alias("p"),
        (F.col("c_b").cast("double") / F.col("g")).alias("q"),
    )
    return (
        j.groupBy("grp")
        .agg(
            F.round(
                F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
                4,
            ).alias("psi")
        )
        .select(F.col("grp").alias(group_col), "psi")
    )


def psi_temporal(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_width: float = 10.0,
    eps: float = 1e-6,
) -> DataFrame:
    """Day-over-day PSI of a value distribution — drift along the TIME
    axis (each day vs the previous day), complementing
    :func:`psi_drift`'s cross-source axis.

    Shape: one scan → (day, bucket) counts; adjacent days align via a
    full outer self-join of the KB-sized rollup on bucket (missing
    buckets take the eps floor on their side). Everything after the
    first aggregation is calendar-sized, not corpus-sized.
    """
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    b = df.select(
        day.alias("day"),
        F.floor(F.col(value_col) / F.lit(bucket_width)).alias("bucket"),
    )
    # shared by the branches below through exchange reuse, like psi_drift
    counts = b.groupBy("day", "bucket").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("day").agg(F.sum("c").alias("n"))
    cur = (
        counts.join(totals, "day")
        .select(
            "day",
            "bucket",
            (F.col("c").cast("double") / F.col("n")).alias("p"),
        )
    )
    prev = cur.select(
        F.date_format(F.date_add(F.to_date("day"), 1), "yyyy-MM-dd")
        .alias("day"),
        F.col("bucket"),
        F.col("p").alias("q"),
    )
    aligned = cur.join(prev, ["day", "bucket"], "full")
    # a (day, bucket) missing on one side means probability 0 → eps floor
    p = F.greatest(F.coalesce(F.col("p"), F.lit(0.0)), F.lit(eps))
    q = F.greatest(F.coalesce(F.col("q"), F.lit(0.0)), F.lit(eps))
    out = (
        aligned.groupBy("day")
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 4).alias("psi"),
            F.max(F.col("q").isNotNull().cast("int")).alias("_has_prev"),
        )
        .where(F.col("_has_prev") == 1)  # first day has no baseline
        .drop("_has_prev")
        # the +1 shift also manufactures rows for the day AFTER the last
        # observed day (and after any gap) — p all-eps, q real, a huge
        # bogus PSI. Only days that actually have data may report.
        .join(totals.select("day"), "day", "left_semi")
    )
    return out
