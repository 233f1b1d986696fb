"""Approximate-nearest-neighbour search over an embedding column
(``array<float>``).

- brute-force cosine top-k: the correctness baseline; dot products via
  ``F.zip_with`` + ``F.aggregate`` (JVM codegen, no Python)
- LSH-bucketed variant (random-hyperplane signatures): the scale path —
  the self-join runs per bucket, so comparisons are bounded by bucket
  population, not |N|².
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import persist

_LOG = logging.getLogger(__name__)


def _lit_vec(vals):
    """A double-array literal built in ONE py4j call (F.expr over a
    generated SQL string) instead of one F.lit call per element — at 8
    LSH tables x 4 planes x 64 dims the per-element form costs ~2000
    py4j round trips and dominated DataFrame CONSTRUCTION (8 s before
    execution even started). String round-trip via repr is bit-exact:
    Spark's string->double cast is correctly rounded, so the literal
    values are identical to F.lit(float(x)) and every oracle hash is
    unchanged."""
    def spell(x):
        x = float(x)
        if math.isnan(x):
            return "'NaN'"
        if math.isinf(x):
            # python repr 'inf' is NOT castable; Spark needs 'Infinity'
            return "'Infinity'" if x > 0 else "'-Infinity'"
        return f"'{x!r}'"

    inner = ",".join(f"CAST({spell(x)} AS DOUBLE)" for x in vals)
    return F.expr(f"array({inner})")


def _dot(a, b):
    # cast BEFORE multiplying: float32*float32 rounds to float32 first,
    # which both loses precision and diverges from any pure-double
    # reference computation (e.g. the DuckDB oracles) by ~1e-8
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_normalized(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "vec_norm"
) -> DataFrame:
    """L2-normalise once up front so cosine == dot everywhere downstream."""
    n = _norm(F.col(vec_col))
    return df.withColumn(
        out_col,
        F.when(
            n > 0, F.transform(F.col(vec_col), lambda x: x.cast("double") / n)
        ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0.0))),
    )


def cosine_similarity_col(a, b):
    """Cosine similarity expression between two array columns."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k rows by cosine similarity to one query vector (broadcast as a
    literal array; a single narrow scan + TakeOrdered — no shuffle)."""
    q = _lit_vec(query)
    sim = cosine_similarity_col(F.col(vec_col), q)
    return (
        df.select(id_col, F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def pairwise_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: DataFrame | None = None,
) -> DataFrame:
    """All-pairs top-k neighbours (brute force, id_a != id_b). The
    correctness oracle for the LSH variant — O(N²) compare, use only on
    samples or after blocking."""
    left = with_normalized(df, vec_col).select(
        F.col(id_col).alias("id_a"), F.col("vec_norm").alias("va")
    )
    right = with_normalized(df, vec_col).select(
        F.col(id_col).alias("id_b"), F.col("vec_norm").alias("vb")
    )
    pairs = left.join(right, F.col("id_a") != F.col("id_b"))
    sim = F.round(_dot(F.col("va"), F.col("vb")), 6)
    w = Window.partitionBy("id_a").orderBy(
        F.col("cosine").desc(), F.col("id_b")
    )
    return (
        pairs.select("id_a", "id_b", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box–Muller over a
    splitmix-style hash) — same planes on every executor, no RNG state."""
    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(0, dim, 2):
            h = (seed * 0x9E3779B97F4A7C15 + p * 0x517CC1B727220A95 + d) & (
                2**64 - 1
            )
            h ^= h >> 33
            h = (h * 0xFF51AFD7ED558CCD) & (2**64 - 1)
            h ^= h >> 33
            u1 = ((h & 0xFFFFFFFF) + 1) / 4294967297.0
            u2 = ((h >> 32) + 1) / 4294967297.0
            r = math.sqrt(-2.0 * math.log(u1))
            vals.append(r * math.cos(2 * math.pi * u2))
            if d + 1 < dim:
                vals.append(r * math.sin(2 * math.pi * u2))
        planes.append(vals[:dim])
    return planes


def with_lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    out_col: str = "bucket",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH signature: bit p = sign(v · r_p). Vectors with
    equal signatures fall in the same cosine-neighbourhood bucket.

    The whole signature is ONE generated SQL expression (single py4j
    call, single parse): per-plane `F.when(_dot(...))` chains cost ~2×
    n_planes python-lambda→Catalyst conversions each, which dominated
    DataFrame construction for multi-table tagging. The inner fold is
    textually identical to `_dot` (zip_with then left-to-right add), so
    every bucket bit — and every oracle hash — is unchanged."""
    planes = _hyperplanes(dim, n_planes, seed)
    planes2d = ",".join(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in p) + ")"
        for p in planes
    )
    sql = (
        f"aggregate(sequence(1, {n_planes}), 0L, (acc, i) -> acc | "
        "shiftleft(CASE WHEN aggregate(zip_with("
        f"`{vec_col}`, element_at(array({planes2d}), i), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        "(a, v) -> a + v) > 0 THEN 1L ELSE 0L END, i - 1))"
    )
    return df.withColumn(out_col, F.expr(sql))


def _multi_table_tagged(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
    seed: int,
) -> DataFrame:
    """(id, table, bucket, vec_norm) rows for L independent LSH tables —
    the multi-probe trick that turns per-table recall p into
    1-(1-p)^L overall while keeping each self-join bucket-local.

    Null vectors are dropped up front: a null signature fold yields
    bucket 0 in EVERY table, so a corpus with even 1% null embeddings
    would pile them into one degenerate hot cell per table (quadratic
    pair blowup) and emit null-cosine rows that still rank into top-k."""
    normed = with_normalized(df, vec_col).where(
        F.col("vec_norm").isNotNull()
    )
    for t in range(n_tables):
        normed = with_lsh_bucket(
            normed, dim, n_planes, "vec_norm", out_col=f"_b{t}", seed=seed + 101 * t
        )
    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"), F.col(f"_b{t}").alias("bucket")
                )
                for t in range(n_tables)
            ]
        )
    ).alias("tb")
    return normed.select(
        F.col(id_col).alias("id"), "vec_norm", entries
    ).select("id", "vec_norm", "tb.table", "tb.bucket")


def lsh_topk(
    df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    bucket_max: int | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k: candidates only within an LSH bucket of
    any of ``n_tables`` independent tables; comparisons are bounded by
    bucket populations, never |N|². The tagged table is persisted, so
    normalisation + bucket signatures compute once, not per self-join
    side.

    ``bucket_max`` (None = unlimited) drops (table, bucket) cells with
    more entries than the cap before the self-join: one degenerate bucket
    of L vectors contributes L² pairs and a straggler task at scale.
    Vectors stay reachable through the other ``n_tables - 1`` tables."""
    from .dedup import _cap_hot_buckets

    tagged = persist(_multi_table_tagged(
        df, dim, n_planes, n_tables, id_col, vec_col, seed
    ))
    if bucket_max is not None:
        tagged = _cap_hot_buckets(
            tagged, ["table", "bucket"], bucket_max, "lsh_topk"
        )
    a, b = tagged.alias("a"), tagged.alias("b")
    # candidates once per UNORDERED pair (id_a < id_b): cosine is
    # symmetric, so computing it per ordered pair doubles the interpreted
    # 64-element fold work; mirror the scored pair instead
    half = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec_norm").alias("va"),
            F.col("b.vec_norm").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
    )
    # explode, not union: a self-union would put `half` in the plan twice
    # and recompute every dot product; the explode fans each scored row
    # into its two orientations in the same pass
    pairs = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_a"),
                    F.col("id_b").alias("id_b"),
                    F.col("cosine").alias("cosine"),
                ),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.col("cosine").alias("cosine"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    w = Window.partitionBy("id_a").orderBy(
        F.col("cosine").desc(), F.col("id_b")
    )
    return pairs.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold)
    via multi-table LSH blocking — the embedding leg of the dedup suite.
    High thresholds mean tiny angles, so even few planes catch near-dups
    with high probability per table. The tagged table is persisted, as
    in :func:`lsh_topk`."""
    tagged = persist(_multi_table_tagged(
        df, dim, n_planes, n_tables, id_col, vec_col, seed
    ))
    a, b = tagged.alias("a"), tagged.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vec_norm").alias("va"),
            F.col("b.vec_norm").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(_dot(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + probed bucket join
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[float]]:
    """Train the IVF coarse quantizer with MLlib KMeans (distributed).

    Returns centroid vectors as plain lists — KB-sized, broadcast into
    literal expressions downstream so assignment stays in codegen."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_centroids < 2:
        raise ValueError(
            "n_centroids must be >= 2 (MLlib KMeans constraint); "
            "for a single bucket use pairwise_topk (brute force)"
        )
    # null vectors cannot train the quantizer (array_to_vector throws on
    # null) and carry no geometry anyway
    normed = with_normalized(df, vec_col).where(
        F.col("vec_norm").isNotNull()
    )
    feats = normed.select(array_to_vector("vec_norm").alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _centroid_ranks(vec_col_expr, centroids: list[list[float]]):
    """Array of centroid indices sorted by descending dot product."""
    scored = F.array(
        *[
            F.struct(
                _dot(vec_col_expr, _lit_vec(c)).alias("score"),
                F.lit(i).alias("idx"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    ranked = F.reverse(F.array_sort(scored))
    return F.transform(ranked, lambda s: s["idx"])


def ivf_topk(
    df: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    bucket_max: int | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k via IVF: every vector is indexed under
    its nearest centroid; as a query it probes its ``n_probe`` nearest
    centroid buckets. Comparisons are bounded by bucket populations — the
    coarse-quantizer sibling of :func:`lsh_topk` (the brief's "IVF or
    LSH" scale path; both provided).

    Pass precomputed ``centroids`` (e.g. from :func:`train_ivf_centroids`
    on a sample) to skip training; at 100 TB you train the quantizer once
    on a small sample and reuse it for every shard.

    ``bucket_max`` (None = unlimited) drops over-populated centroid
    buckets from BOTH the member and probe sides before the join: a hot
    centroid cell contributes |members| × |probes| pairs, so capping both
    bounds the worst cell at bucket_max². (The right long-term fix for a
    persistently hot centroid is retraining with more centroids; the cap
    is the runtime guard.)"""
    if centroids is None:
        centroids = train_ivf_centroids(
            df, n_centroids, vec_col, seed=seed
        )

    # null vectors can neither index nor probe (their centroid ranks are
    # arbitrary and their cosines null) — drop them like the LSH path
    normed = (
        with_normalized(df, vec_col)
        .where(F.col("vec_norm").isNotNull())
        .select(F.col(id_col).alias("id"), "vec_norm")
    )
    ranks = _centroid_ranks(F.col("vec_norm"), centroids)
    tagged = normed.withColumn("_ranks", ranks)
    members = tagged.select(
        "id", "vec_norm", F.element_at("_ranks", 1).alias("bucket")
    )
    queries = tagged.select(
        "id",
        F.col("vec_norm").alias("qvec"),
        F.explode(F.slice("_ranks", 1, n_probe)).alias("bucket"),
    )
    members, queries = persist(members), persist(queries)
    if bucket_max is not None:
        from .dedup import _cap_hot_buckets

        members = _cap_hot_buckets(
            members, ["bucket"], bucket_max, "ivf_topk(members)"
        )
        queries = _cap_hot_buckets(
            queries, ["bucket"], bucket_max, "ivf_topk(probes)"
        )

    pairs = (
        queries.alias("a")
        .join(
            members.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(_dot(F.col("a.qvec"), F.col("b.vec_norm")), 6).alias(
                "cosine"
            ),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("cosine").desc(), F.col("id_b")
    )
    return pairs.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# Above this many centroids, per-centroid literal expressions stop being
# the right assignment plan (k dot-product exprs per row bloat codegen);
# assignment switches to one BLAS matmul per Arrow batch instead.
_LITERAL_ASSIGN_MAX = 256


def _auto_clusters(n: int, per_cluster: int = 2048) -> int:
    """Cluster count targeting ``per_cluster`` vectors each, clamped to
    [8, 4096]. ~2k vectors per cluster keeps the cluster-local self-join
    at ~4M cosine pairs per cluster. Above ``_LITERAL_ASSIGN_MAX`` the
    vectorized assignment path engages automatically; 4096 bounds the
    broadcast centroid matrix (4096 × dim doubles ≈ 2 MB at dim 64)."""
    return max(8, min(4096, -(-n // per_cluster)))


def _assign_clusters_vectorized(normed_cents: list[list[float]]):
    """(cluster, csim) assignment as ONE numpy/BLAS matmul per Arrow
    batch — the >``_LITERAL_ASSIGN_MAX``-centroid path where building k
    literal dot-product expressions per row would bloat the codegen'd
    plan beyond what the JVM JITs well. The centroid matrix rides the
    UDF closure broadcast (k × dim doubles — MBs at worst).

    Tie-break parity with the literal path: ``_centroid_ranks`` reverses
    an ascending (score, idx) sort, so equal top scores pick the LARGEST
    centroid index; the reversed-argmax below reproduces that exactly.
    Null vectors yield null (cluster, csim), matching the literal path
    (they can never match the self-join and always survive)."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(normed_cents, dtype=np.float64)  # (k, dim)
    k = cmat.shape[0]

    @pandas_udf("struct<cluster: int, csim: double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        n = len(vecs)
        cluster = np.full(n, -1, dtype=np.int64)
        csim = np.full(n, np.nan, dtype=np.float64)
        mask = vecs.notna().to_numpy()
        if mask.any():
            x = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
            )  # (m, dim)
            scores = x @ cmat.T  # (m, k): the whole batch in one matmul
            best = k - 1 - np.argmax(scores[:, ::-1], axis=1)
            cluster[mask] = best
            csim[mask] = scores[np.arange(scores.shape[0]), best]
        return pd.DataFrame(
            {
                "cluster": pd.array(
                    [int(c) if m else None for c, m in zip(cluster, mask)],
                    dtype="Int32",
                ),
                "csim": [
                    float(s) if m else None for s, m in zip(csim, mask)
                ],
            }
        )

    return assign


# Column-block width cap for the per-cluster Gram matrix: bound the
# largest intermediate (m rows x B cols of float64) to ~64 MB per block
# regardless of cluster size, so one skewed hot cluster cannot OOM its
# executor. 2**23 doubles = 64 MiB.
_GRAM_BLOCK_DOUBLES = 2**23


def _round6_gt(g, threshold: float):
    """round(g, 6) > threshold with SPARK's rounding semantics.

    ``np.round`` (binary-scaled half-even) and Spark's ``F.round``
    (HALF_UP on the shortest decimal repr, BigDecimal.valueOf) disagree
    on some boundary doubles (e.g. 0.1234565 → 0.123456 vs 0.123457),
    which would let the gram and join backends produce different discard
    sets at the threshold — breaking the pinned bit-identical parity.
    Values further than 1e-6 from the threshold are decided identically
    by both roundings (6-dp rounding moves a value by at most 5e-7), so
    only the narrow band pays the exact per-element Decimal replication
    of Spark's rule."""
    from decimal import ROUND_HALF_UP, Decimal

    hit = g > threshold + 1e-6
    band = np.abs(g - threshold) <= 1e-6
    if band.any():
        q = Decimal("0.000001")
        exact = np.array(
            [
                float(
                    Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)
                )
                for v in np.ravel(g[band])
            ]
        )
        hit[band] = exact > threshold
    return hit


def _gram_discards(tagged: DataFrame, threshold: float) -> DataFrame:
    """Cluster-local discard set via one BLAS Gram matrix per cluster
    (``applyInPandas`` over ``groupBy(cluster)``) — the vectorized
    replacement for the pairwise self-join.

    EXACT parity with the join predicate in :func:`semantic_dedup`
    (pinned by test + the driver's DuckDB value-hash oracle):

    - pair similarity is ``round(dot, 6) > threshold``, reproduced as
      ``np.round(G, 6) > threshold`` on the same float64 inputs;
    - "y ranks before x" is the strict tuple order
      ``(csim_y, id_y) < (csim_x, id_x)`` — rows are sorted by that
      tuple and a column bound of *first index of x's tie group*
      excludes exact-duplicate (csim, id) tuples, matching the join's
      strict comparison (and its ``a.id != b.id`` guard);
    - discarded rows still count as earlier-ranked neighbours for later
      rows, exactly like the join against the full ``tagged`` set.

    Scale shape: same single shuffle on ``cluster`` as the self-join,
    but each cluster's m² pair similarities collapse into blockwise
    ``X @ X[s:s+B].T`` matmuls (~100x fewer Python/JVM crossings than
    m² codegen dot products, and BLAS beats codegen per FLOP). Memory is
    bounded at ~64 MB per block via ``_GRAM_BLOCK_DOUBLES``; one cluster
    is one task, so ``n_clusters`` (auto ~2k rows each) is also the
    parallelism knob. Null-cluster rows (null vectors) can never match
    and are never discarded — the group emits no ids, like the join.
    """
    id_field = tagged.schema["id"]
    out_schema = f"id {id_field.dataType.simpleString()}"

    def find(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        empty = pdf.iloc[0:0][["id"]]
        if m < 2 or pdf["cluster"].isna().any():
            return empty
        order = pdf.sort_values(
            ["csim", "id"], kind="mergesort"
        ).reset_index(drop=True)
        x = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in order["vec_norm"]]
        )  # (m, dim)
        csim = order["csim"].to_numpy()
        ids = order["id"].to_numpy()
        # first index of each equal-(csim, id) run: only STRICTLY
        # smaller tuples rank before a row
        new_run = np.ones(m, dtype=bool)
        new_run[1:] = (csim[1:] != csim[:-1]) | (ids[1:] != ids[:-1])
        tie_start = np.maximum.accumulate(
            np.where(new_run, np.arange(m), 0)
        )
        drop = np.zeros(m, dtype=bool)
        block = max(1, _GRAM_BLOCK_DOUBLES // m)
        for s in range(0, m, block):
            e = min(s + block, m)
            g = x @ x[s:e].T  # (m, e-s)
            hit = _round6_gt(g, threshold)
            # row j counts against column i=s+c only when j ranks
            # strictly before i's tie group
            mask = np.arange(m)[:, None] < tie_start[s:e][None, :]
            drop[s:e] = (hit & mask).any(axis=0)
        return order.loc[drop, ["id"]]

    return tagged.groupBy("cluster").applyInPandas(find, out_schema)


def semantic_dedup(
    df: DataFrame,
    dim: int,
    n_clusters: int | None = None,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    centroids: list[list[float]] | None = None,
    return_discards: bool = False,
    pair_backend: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster by nearest centroid, then inside each
    cluster discard every item that has a ``threshold``-close neighbour
    ranking before it — where "before" is the paper's keep-the-least-
    typical rule: lower centroid similarity wins, id breaks ties.

    The discard test is rank-based, not greedy-sequential, so it is a
    single cluster-local pass (no iteration, no driver loop):
    drop x  ⇔  ∃ y in cluster(x): cos(x,y) > τ and
                (sim_c(y), y.id) < (sim_c(x), x.id)
    computed by ``pair_backend``: ``"join"`` is a cluster-local codegen
    self-join (AQE-splittable, best for small populations); ``"gram"``
    is one blockwise BLAS Gram matrix per cluster inside
    ``applyInPandas`` (:func:`_gram_discards` — ~10x fewer cycles per
    pair at scale, memory bounded per block); ``"auto"`` (default)
    picks gram at >=50k vectors. Both produce identical discard sets
    (pinned by test and by the driver's DuckDB oracle). Skew trade-off:
    the gram path pins one cluster to one task (memory stays bounded,
    but a hot centroid elongates that task — its m² work is still ~10x
    cheaper than the join's), while the join path lets AQE split a hot
    cluster across tasks; with heavily skewed assignments prefer more
    clusters (the real SemDeDup remedy) or ``pair_backend="join"``.

    Scale shape: one scan to normalise + assign (all codegen, centroids
    are broadcast literals), one shuffle on cluster id for the self-join,
    one anti-join on the discard set. The self-join's cost is
    Σ|cluster|² ≈ N²/k, so ``n_clusters`` MUST grow with the corpus —
    ``n_clusters=None`` (the default) auto-sizes it to
    ``clamp(ceil(n / 2048), 8, 4096)`` from a row count piggybacked on
    the dim probe, targeting ~2k vectors per cluster. A fixed small k at
    scale is quadratic death: 200k vectors in 8 clusters is ~312M cosine
    pairs PER CLUSTER (observed as a >30-min 8-task stage in the 10M-row
    scale run); the same vectors at the auto k=98 are ~2M pairs per
    cluster. Assignment picks its plan by k: up to
    ``_LITERAL_ASSIGN_MAX`` (256) centroids it builds k broadcast-literal
    dot products per row (whole-stage codegen, zero Python); past that —
    where k expressions per row bloat the codegen'd plan — it switches to
    ``_assign_clusters_vectorized``, one numpy/BLAS matmul per Arrow
    batch with exact tie-break parity (pinned by test).

    Returns survivors: (id, cluster, centroid_sim) with cosine rounded
    to 6 dp for representation-stable comparison. With
    ``return_discards=True`` returns the dropped ids instead — the SMALL
    side, the one a caller should broadcast into an anti-join (the
    survivor set is corpus-sized).
    """
    # zip_with pads length mismatches with nulls, which would null every
    # centroid similarity and make the discard predicate silently false —
    # a no-op dedup that LOOKS like it ran. Fail loudly instead: one
    # narrow-column aggregate over ALL rows (a .first() probe validated
    # only row 1 and choked on a leading null vector), negligible next
    # to the self-join this op runs anyway. Null vectors are allowed —
    # they can never match anything and survive with null centroid_sim.
    # size() only inside a not-null guard: with ANSI off, size(null) is
    # -1 (not null), which would make the probe report a phantom lo=-1
    # and reject a corpus whose null vectors are explicitly allowed
    _sz = F.when(
        F.col(vec_col).isNotNull(), F.size(F.col(vec_col))
    )
    probe = df.agg(
        F.min(_sz).alias("lo"),
        F.max(_sz).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if probe["lo"] is not None and not (probe["lo"] == probe["hi"] == dim):
        raise ValueError(
            f"dim={dim} but {vec_col!r} vector lengths span "
            f"[{probe['lo']}, {probe['hi']}]"
        )
    if centroids is None:
        if n_clusters is None:
            n_clusters = _auto_clusters(int(probe["n"] or 1))
            _LOG.info(
                "semantic_dedup: auto n_clusters=%d for %d vectors",
                n_clusters,
                probe["n"],
            )
        centroids = _hyperplanes(dim, n_clusters, seed)
    # normalise centroids so centroid_sim is a true cosine
    normed_cents = []
    for c in centroids:
        nrm = math.sqrt(sum(x * x for x in c)) or 1.0
        normed_cents.append([x / nrm for x in c])

    normed = with_normalized(df, vec_col).select(
        F.col(id_col).alias("id"), "vec_norm"
    )
    if len(normed_cents) > _LITERAL_ASSIGN_MAX:
        assign = _assign_clusters_vectorized(normed_cents)
        tagged = normed.select(
            "id",
            "vec_norm",
            assign(F.col("vec_norm")).alias("_a"),
        ).select(
            "id",
            "vec_norm",
            F.col("_a.cluster").alias("cluster"),
            F.col("_a.csim").alias("csim"),
        )
    else:
        # ONE scored array serves both outputs: the top-ranked struct
        # carries (score, idx), so cluster AND csim come from k dot
        # products per row, not 2k (a second sims array existed purely
        # to re-derive the score the sort already computed)
        scored = F.array(
            *[
                F.struct(
                    _dot(F.col("vec_norm"), _lit_vec(c)).alias("score"),
                    F.lit(i).alias("idx"),
                )
                for i, c in enumerate(normed_cents)
            ]
        )
        top = F.element_at(F.reverse(F.array_sort(scored)), 1)
        # null vector -> null cluster/csim (ranks over null scores would
        # pick an arbitrary index; keep parity with the vectorized path)
        not_null = F.col("vec_norm").isNotNull()
        tagged = normed.select(
            "id",
            "vec_norm",
            F.when(not_null, top["idx"]).alias("cluster"),
            F.when(not_null, top["score"]).alias("csim"),
        )
    if pair_backend not in ("auto", "join", "gram"):
        raise ValueError(
            f"pair_backend must be auto|join|gram, got {pair_backend!r}"
        )
    tagged = persist(tagged)
    if pair_backend == "auto":
        # Small populations: the codegen self-join's per-pair cost is
        # negligible and AQE can split a skewed cluster across tasks.
        # At scale the Gram path wins ~10x on the Sigma|cluster|^2 pair
        # work (one BLAS matmul per column block vs m^2 codegen dot
        # products) — measured on the 1M-vector corpus in BENCH.md.
        pair_backend = "gram" if int(probe["n"] or 0) >= 50_000 else "join"
        _LOG.info("semantic_dedup: auto pair_backend=%s", pair_backend)
    if pair_backend == "gram":
        discard = _gram_discards(tagged, threshold)
    else:
        a, b = tagged.alias("a"), tagged.alias("b")
        discard = (
            a.join(
                b,
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col("a.id") != F.col("b.id"))
                & (
                    F.round(
                        _dot(F.col("a.vec_norm"), F.col("b.vec_norm")), 6
                    )
                    > threshold
                )
                & (
                    (F.col("b.csim") < F.col("a.csim"))
                    | (
                        (F.col("b.csim") == F.col("a.csim"))
                        & (F.col("b.id") < F.col("a.id"))
                    )
                ),
                "left_semi",
            )
        ).select("id")
    if return_discards:
        return discard
    return (
        tagged.join(discard, "id", "left_anti")
        .select(
            "id",
            "cluster",
            F.round("csim", 6).alias("centroid_sim"),
        )
    )



def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Embedding-level decontamination: corpus items whose embedding is
    ``threshold``-close (cosine) to ANY benchmark item — catches
    paraphrased eval-set leakage the n-gram decontaminator
    (operators/decontaminate.py) cannot see.

    Scale shape: BOTH sides get the same multi-table LSH signatures
    (shared hyperplanes, so near-identical vectors collide with high
    probability per table); the join is corpus-entries × benchmark-
    entries on (table, bucket) with the benchmark side broadcast (eval
    sets are small — thousands of rows × n_tables entries). Comparisons
    are bounded by benchmark bucket populations, never |corpus|×|bench|.

    Returns (id, max_cosine, bench_id) — one row per contaminated
    corpus item, with the closest benchmark match (ties broken by
    lowest bench id at equal cosine)."""
    c = _multi_table_tagged(
        corpus, dim, n_planes, n_tables, id_col, vec_col, seed
    )
    b = _multi_table_tagged(
        benchmark, dim, n_planes, n_tables, id_col, vec_col, seed
    )
    pairs = (
        c.alias("c")
        .join(
            F.broadcast(b.alias("b")),
            (F.col("c.table") == F.col("b.table"))
            & (F.col("c.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("c.id").alias("id"),
            F.col("b.id").alias("bench_id"),
            F.col("c.vec_norm").alias("vc"),
            F.col("b.vec_norm").alias("vb"),
        )
        .dropDuplicates(["id", "bench_id"])
        .select(
            "id",
            "bench_id",
            F.round(_dot(F.col("vc"), F.col("vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    # row_number over (cosine DESC, bench_id ASC) picks both outputs —
    # unlike a max-of-struct with a negated id it works for ANY id type
    # (negating a string id casts to double and yields NULL silently)
    w = Window.partitionBy("id").orderBy(
        F.col("cosine").desc(), F.col("bench_id").asc()
    )
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("id", F.col("cosine").alias("max_cosine"), "bench_id")
    )
