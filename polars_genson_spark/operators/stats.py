"""Per-column / per-partition statistics — pure DataFrame aggregations.

Everything here is expressible as Catalyst aggregates (whole-stage codegen,
map-side partial aggregation), so the only shuffle is the tiny
per-(source, bucket) rollup. SURVEY.md §7.1 step 3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ValidationConfig


def column_stats(df: DataFrame, cfg: ValidationConfig | None = None) -> DataFrame:
    """Per-source column stats: counts, null rates, n_tok min/max/mean,
    token totals. One row per source."""
    cfg = cfg or ValidationConfig()
    c = F.col
    return (
        df.groupBy(cfg.source_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(c(cfg.doc_id_col).isNull().cast("long")).alias("null_doc_id"),
            F.sum(c(cfg.tokens_col).isNull().cast("long")).alias("null_tokens"),
            F.sum(c(cfg.n_tok_col).isNull().cast("long")).alias("null_n_tok"),
            F.min(cfg.n_tok_col).alias("min_n_tok"),
            F.max(cfg.n_tok_col).alias("max_n_tok"),
            F.round(F.avg(cfg.n_tok_col), 4).alias("avg_n_tok"),
            # size() behind a not-null guard: ANSI-off size(null) = -1
            # would silently subtract one per null-tokens row
            F.sum(
                F.when(
                    c(cfg.tokens_col).isNotNull(), F.size(c(cfg.tokens_col))
                ).cast("long")
            ).alias("total_tokens"),
        )
    )


def token_length_histogram(
    df: DataFrame, cfg: ValidationConfig | None = None
) -> DataFrame:
    """Histogram of sequence lengths per source: (source, bucket, cnt).

    bucket = floor(n_tok / bucket_width). Map-side combine keeps the
    shuffle at |sources| × |buckets| rows regardless of input size.
    """
    cfg = cfg or ValidationConfig()
    # floor, not cast-truncation — matches the streaming PSI's pandas //
    # on the same lengths (they diverge for negative corrupt values)
    bucket = F.floor(F.col(cfg.n_tok_col) / cfg.token_hist_bucket)
    return (
        df.where(F.col(cfg.n_tok_col).isNotNull())
        .groupBy(F.col(cfg.source_col), bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_id_histogram(
    df: DataFrame,
    cfg: ValidationConfig | None = None,
    use_arrow: bool = False,
) -> DataFrame:
    """Histogram of token *values* per source for drift tests:
    (source, bucket, cnt) with bucket = token_id // (vocab/buckets).

    Two kernels; both shuffle ≤ |sources| × buckets × partitions rows —
    independent of corpus size, the plan that survives 100 TB:

    - default: Catalyst explode + two-phase hash aggregate — partial agg
      runs before the exchange, the whole pipeline stays in whole-stage
      codegen. Best parallel scaling (no Python transfer) and fastest at
      high parallelism. ``validate_corpus`` uses this one.
    - ``use_arrow=True``: one ``mapInArrow`` pass — token arrays are
      flattened zero-copy per batch (``ListArray.flatten``) and reduced with
      ``np.bincount`` keyed by dictionary-encoded source (no per-row
      Python). ~3× faster per core at low parallelism, but pays the Arrow
      transfer of the tokens column to Python workers.
    """
    cfg = cfg or ValidationConfig()
    width = max(1, cfg.vocab_size // cfg.token_id_buckets)
    src_col, tok_col = cfg.source_col, cfg.tokens_col
    if not use_arrow:
        tok = F.explode(F.col(tok_col)).alias("tok")
        exploded = df.select(F.col(src_col), tok)
        return (
            exploded.groupBy(
                src_col,
                # floor division, NOT cast-truncation: cast truncates
                # toward zero, silently merging negative (out-of-range)
                # ids in (-width, 0) into valid bucket 0 — and diverging
                # from the arrow kernel's // (floor), so the two
                # "equivalent" kernels disagreed on corrupt shards
                F.floor(F.col("tok") / width).alias("bucket"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    import numpy as np
    import pyarrow as pa

    n_buckets = (cfg.vocab_size + width - 1) // width

    def hist_batches(batches):
        import pyarrow.compute as pc

        acc: dict[str, np.ndarray] = {}
        extras: dict[str, dict[int, int]] = {}  # out-of-range buckets
        for batch in batches:
            src = batch.column(0)
            toks = batch.column(1)
            # flatten() honours offsets and skips null rows' values;
            # null-length → 0 keeps np.repeat aligned with flatten().
            flat = toks.flatten().to_numpy(zero_copy_only=False)
            if flat.size == 0:
                continue
            lengths = pc.fill_null(pc.list_value_length(toks), 0).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            enc = pc.dictionary_encode(src)
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            names = enc.dictionary.to_pylist()
            n_src = len(names)
            if np.issubdtype(flat.dtype, np.floating):  # null elements
                keep = ~np.isnan(flat)
                # drop NaNs while keeping per-row source attribution
                codes_rep = np.repeat(codes, lengths)[keep]
                flat = flat[keep].astype(np.int64)
            else:
                codes_rep = np.repeat(codes, lengths)
                flat = flat.astype(np.int64)
            b = flat // width
            in_range = (b >= 0) & (b < n_buckets) & (codes_rep >= 0)
            combined = codes_rep[in_range] * n_buckets + b[in_range]
            h = np.bincount(combined, minlength=n_src * n_buckets)
            for i, name in enumerate(names):
                part = h[i * n_buckets : (i + 1) * n_buckets]
                if not part.any():
                    continue
                tot = acc.setdefault(name, np.zeros(n_buckets, np.int64))
                tot += part
            if not in_range.all():
                oob = ~in_range
                for code, bucket in zip(
                    codes_rep[oob].tolist(), b[oob].tolist()
                ):
                    name = names[code] if code >= 0 else None
                    ex = extras.setdefault(name, {})
                    ex[bucket] = ex.get(bucket, 0) + 1
        for s in set(acc) | set(extras):
            h = acc.get(s)
            buckets: list[int] = []
            counts: list[int] = []
            if h is not None:
                nz = np.nonzero(h)[0]
                buckets = nz.tolist()
                counts = h[nz].tolist()
            for v, cc in extras.get(s, {}).items():
                buckets.append(v)
                counts.append(cc)
            yield pa.RecordBatch.from_pydict(
                {
                    src_col: pa.array([s] * len(buckets), pa.string()),
                    "bucket": pa.array(buckets, pa.int64()),
                    "cnt": pa.array(counts, pa.int64()),
                }
            )

    partials = df.select(src_col, tok_col).mapInArrow(
        hist_batches, f"{src_col} string, bucket long, cnt long"
    )
    return partials.groupBy(src_col, "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Skew diagnosis for a prospective shuffle key: the top-k heaviest
    key values with their share of all rows and the ratio to a perfectly
    uniform key (share × distinct-keys). A ratio ≫ 1 on a planned
    groupBy/join key says "salt this" BEFORE the job stalls on one
    straggler task — the measurement half of the salting story.

    One count shuffle on the key; the distinct-key total is an exact
    count over the rollup. Top-k selection is orderBy+limit — Spark's
    TakeOrderedAndProject (per-partition top-k, k-row merge), NOT a
    global row_number window, which would funnel the whole |distinct
    keys| rollup through one task; the rank window then runs on the k
    surviving rows only.
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("key")).limit(top_k)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key"))
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            F.col("key").cast("string").alias("key"),
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("cnt") * F.col("n_keys") / F.col("total"), 4
            ).alias("skew_ratio"),
        )
    )
