"""Deduplication operators for training-data pipelines.

All hot-path computation is JVM-side (higher-order array functions over
``split``/``transform``/``aggregate`` + ``xxhash64``) — no Python in the
row path. The LSH variants are the 100 TB scale path: candidate
generation is a groupBy on (band, band_hash) whose output is bounded by
actual collisions, never the full pairwise cross product.

- exact:      hash-groupBy on the full text (or its xxhash64)
- MinHash:    shingle → per-permutation min-hash → band → bucket join
- SimHash:    64-bit sign-aggregated word-hash fingerprint, banded
- n-gram Jaccard: exact pairwise similarity via shingle inverted index
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint, local_frame, persist, release

# THE shared split + raw-shingle expressions (text.py) — dedup shingling,
# tokenization, and quality stats must never diverge on normalisation
from .text import _raw_shingles, _words

log = logging.getLogger(__name__)


def _cap_hot_buckets(
    entries: DataFrame, key_cols: list[str], bucket_max: int, what: str
) -> DataFrame:
    """Drop LSH buckets whose population exceeds ``bucket_max`` before a
    bucket self-join.

    A bucket of L entries contributes L² candidate pairs, so one
    degenerate bucket (boilerplate-heavy shards hashing identically, a
    hot IVF centroid) turns the self-join into a near cross-product and
    a single straggler task at scale — the same failure mode ``df_max``
    caps for hot shingles in :func:`ngram_jaccard_pairs`. Entries in an
    over-full bucket are simply not candidates *via that bucket*; with
    banding they usually remain reachable through their other bands.
    The dropped-bucket list is rollup-sized (only buckets above the
    cap), so the anti-join build side is tiny and collecting it is a
    KB-sized aggregate, not a corpus pass.
    """
    hot = (
        entries.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > bucket_max)
        .select(*key_cols)
    )
    # one collect of the rollup-sized hot key list, rebuilt as a literal
    # frame: no cache stays pinned behind the returned plan
    hot_rows = hot.collect()
    if not hot_rows:
        return entries  # common case: no degenerate bucket
    log.warning(
        "%s: dropping %d bucket(s) with > %d entries from candidate "
        "generation (pairs from these buckets are not examined)",
        what, len(hot_rows), bucket_max,
    )
    hot_keys = local_frame(entries.sparkSession, hot_rows, hot.schema)
    return entries.join(F.broadcast(hot_keys), key_cols, "left_anti")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, doc_ids, keep).

    Groups on xxhash64(text) so the shuffle key is 8 bytes, not the
    document; ``keep`` is the smallest id (the canonical survivor).
    """
    return (
        df.groupBy(F.xxhash64(text_col).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per distinct text."""
    w = Window.partitionBy(F.xxhash64(text_col)).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash LSH
# ---------------------------------------------------------------------------


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Distinct word n-gram shingles as an array column (JVM-side).

    See :func:`..text._raw_shingles` for the shifted-slice construction
    and the short-doc (< n words) whole-normalised-text fallback."""
    tmp = df.withColumn("_w", _words(text_col))
    shingles = _raw_shingles(F.col("_w"), n)
    return tmp.withColumn(out_col, F.array_distinct(shingles)).drop("_w")


def with_minhash(
    df: DataFrame,
    shingle_col: str = "shingles",
    num_perm: int = 64,
    out_col: str = "minhash",
) -> DataFrame:
    """MinHash signature: for each permutation seed i, the minimum
    xxhash64(shingle, i). One array column of ``num_perm`` longs.

    The shingle is hashed ONCE (strings are the expensive hash input);
    each permutation re-mixes the 8-byte hash with its seed."""
    base = F.transform(F.col(shingle_col), lambda s: F.xxhash64(s))
    tmp = df.withColumn("_sh_h", base)
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("_sh_h"), lambda h, i=i: F.xxhash64(h, F.lit(i))
                )
            )
            for i in range(num_perm)
        ]
    )
    return tmp.withColumn(out_col, sig).drop("_sh_h")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """MinHash signatures via explode + groupBy — the scale path.

    Each shingle is hashed once; ``num_perm`` algebraic ``min`` aggregates
    (one per permutation, re-mixing the 8-byte hash with the seed) run
    with map-side partial aggregation, so the shuffle carries ONE row of
    ``num_perm`` longs per document regardless of shingle count. Codegen
    stays small (flat agg list, no nested higher-order lambdas), unlike
    the per-row array formulation in :func:`with_minhash`.
    """
    # explode_outer, not explode: the shingles array is never null or
    # empty by construction (_raw_shingles falls back to a 1-element
    # whole-text shingle), and plain explode makes
    # InferFiltersFromGenerate insert a size()>0 filter BELOW the
    # generate that re-evaluates the split→zip→distinct chain a second
    # time per row (same fix as decontaminate._shingle_hash_rows)
    sh = with_shingles(df, text_col, shingle_n).select(
        F.col(id_col).alias("id"),
        F.explode_outer("shingles").alias("shingle"),
    )
    # hash the STRING once per exploded row in a projection BELOW the
    # aggregate: inlining xxhash64(shingle) into every per-permutation
    # agg expression re-hashed the string num_perm times per row (the
    # docstring's "hashed once" contract, actually enforced — r06)
    hashed = sh.select("id", F.xxhash64("shingle").alias("_h"))
    sig = hashed.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_p{i}")
            for i in range(num_perm)
        ]
    )
    return sig.select(
        "id",
        F.array(*[F.col(f"_p{i}") for i in range(num_perm)]).alias("minhash"),
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    min_jaccard: float = 0.5,
    bucket_max: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: (id_a, id_b, est_jaccard).

    band hash = xxhash64 over each signature slice; docs sharing any band
    bucket become candidates; est_jaccard = fraction of matching
    signature components. The self-join runs on band buckets only.

    The signatures and band entries are persisted, so the expensive
    shingle→signature work runs ONCE, not once per self-join side
    (MEMORY_AND_DISK — spills rather than OOMs at scale).

    ``bucket_max`` (None = unlimited) drops band buckets with more
    entries than the cap before the self-join — the skew guard for
    degenerate buckets (see :func:`_cap_hot_buckets`). Recall within an
    over-full bucket is sacrificed; pairs stay reachable via their other
    ``bands - 1`` bands.

    Scale shape: the banded entry table is |corpus| × bands rows, so it
    must stay SLIM — (id, band, bhash) only, ~28 bytes/row. The 256-byte
    signatures live once per doc in a separate (id, minhash) frame and
    are joined back only for the candidate pairs (pair-count-
    proportional work). Carrying ``minhash`` through the banded table
    multiplied its footprint by ``bands`` and OOM'd a 10M-doc run that
    the slim layout completes comfortably.
    """
    if bands < 1 or num_perm % bands != 0:
        # bands > num_perm would slice EMPTY bands (every doc shares one
        # bhash per band → a full N² cross product); a non-dividing bands
        # silently drops the trailing permutations from banding, giving
        # lower recall than minhash_recall_curve predicted for the params
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm}"
        )
    rows_per_band = num_perm // bands
    sigs = persist(minhash_signatures(
        df, id_col, text_col, shingle_n, num_perm
    ))

    band_entries = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        "minhash",
                                        b * rows_per_band + 1,
                                        rows_per_band,
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bhash")
    band_entries = persist(band_entries)
    if bucket_max is not None:
        band_entries = _cap_hot_buckets(
            band_entries, ["band", "bhash"], bucket_max, "minhash_candidates"
        )

    a = band_entries.alias("a")
    b = band_entries.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    # signatures join back onto the (small) candidate set — two hash
    # joins proportional to the pair count, never to |corpus| × bands
    sig_a = sigs.select(
        F.col("id").alias("id_a"), F.col("minhash").alias("mh_a")
    )
    sig_b = sigs.select(
        F.col("id").alias("id_b"), F.col("minhash").alias("mh_b")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(float(num_perm))
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= min_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def with_simhash(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash: per-word xxhash64; bit j contributes +1/-1; the
    fingerprint takes the sign of each bit-sum. Fully JVM-side via
    aggregate/zip_with."""
    words = _words(text_col)

    def bit_vec(w):  # 64 ±1 contributions, unrolled at plan-build time
        return F.array(
            *[
                F.when(
                    F.shiftright(F.xxhash64(w), j).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
                for j in range(64)
            ]
        )

    sums = F.aggregate(
        words,
        F.expr("array_repeat(0L, 64)"),
        lambda acc, w: F.zip_with(acc, bit_vec(w), lambda a, b: a + b),
    )
    tmp = df.withColumn("_sh_sums", sums)
    fingerprint = F.lit(0).cast("long")
    for j in range(64):
        mask = (1 << j) if j < 63 else -(2**63)
        fingerprint = fingerprint.bitwiseOR(
            F.when(F.element_at("_sh_sums", j + 1) > 0, F.lit(mask))
            .otherwise(F.lit(0))
            .cast("long")
        )
    return tmp.withColumn(out_col, fingerprint).drop("_sh_sums")


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bucket_max: int | None = None,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash banding (``n_chunks`` equal bit chunks,
    default 4×16-bit: any pair within Hamming distance ``n_chunks - 1``
    shares at least one exact chunk — pigeonhole). Raise ``n_chunks`` to
    capture at a larger Hamming radius (16×4-bit guarantees ≤15) at the
    cost of ``n_chunks`` index entries per doc and noisier buckets.
    The chunk table is persisted, so the 64-bit fingerprint is computed
    once, not once per self-join side. ``bucket_max`` drops
    over-full chunk buckets before the self-join (skew guard; see
    :func:`_cap_hot_buckets`)."""
    if 64 % n_chunks:
        raise ValueError(f"n_chunks={n_chunks} must divide 64")
    width = 64 // n_chunks
    mask = (1 << width) - 1
    if max_hamming > n_chunks - 1:
        log.warning(
            "simhash_candidates: max_hamming=%d exceeds the pigeonhole "
            "guarantee of n_chunks-1=%d — pairs at Hamming distance in "
            "(%d, %d] are only found if they happen to share a chunk",
            max_hamming, n_chunks - 1, n_chunks - 1, max_hamming,
        )
    sh = with_simhash(df, text_col).select(
        F.col(id_col).alias("id"), "simhash"
    )
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chash"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "simhash", "cc.chunk", "cc.chash")
    chunks = persist(chunks)
    if bucket_max is not None:
        chunks = _cap_hot_buckets(
            chunks, ["chunk", "chash"], bucket_max, "simhash_candidates"
        )

    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chash") == F.col("b.chash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.8,
    df_max: int | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct word n-grams via an inverted index:
    explode shingles → self-join on shingle → |∩| per pair → Jaccard.

    Exact but quadratic in bucket collisions — the verification stage
    after LSH candidate generation, or standalone at moderate scale.
    The shingle arrays and the inverted index are persisted.

    ``df_max`` drops shingles whose document frequency is >= df_max from
    BOTH the index and the Jaccard denominator (Jaccard over the
    discriminative shingles only). Without it, one hot shingle ("the" at
    n=1) turns the self-join into a near cross-product at scale — a
    posting list of length L contributes L² candidate pairs, so the cap
    bounds the worst shingle's contribution to df_max².
    """
    # the split→zip→distinct chain (array_distinct is quadratic in
    # shingle count) dominates; un-cached, the hot-shingle rollup, the
    # anti-join, the recount and the self-join each re-ran it (~19s of
    # the cold 300-doc bench slice)
    sh0 = persist(with_shingles(df, text_col, n).select(
        F.col(id_col).alias("id"), "shingles"
    ))
    # explode_outer: shingles is never null/empty by construction — see
    # minhash_signatures; avoids the InferFiltersFromGenerate re-eval
    inv = sh0.select(
        "id",
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("shingle"),
    )
    if df_max is not None:
        # hot-shingle list is tiny (only shingles with df >= cap) → the
        # anti-join broadcasts; the denominator is recomputed over the
        # retained shingles so the Jaccard stays exact for that set
        hot = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") >= df_max)
            .select("shingle")
        )
        kept = inv.join(F.broadcast(hot), "shingle", "left_anti")
        n_kept = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh2"))
        inv = (
            kept.drop("n_sh")
            .join(n_kept, "id")
            .select("id", F.col("n_sh2").alias("n_sh"), "shingle")
        )
    inv = persist(inv)
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def verify_pairs_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact full-shingle-set Jaccard for a GIVEN candidate pair set
    (id_a, id_b): the verification stage after MinHash/SimHash candidate
    generation. Unlike :func:`ngram_jaccard_pairs` (inverted index over
    the whole corpus, ``df_max``-capped), this joins each candidate pair
    to its two shingle arrays directly — cost bounded by |pairs|, which
    is collision-rate-sized after LSH, and the Jaccard uses ALL distinct
    shingles (no document-frequency cutoff), so the output is exactly
    the SQL-expressible truth an oracle recomputes: |A∩B| / |A∪B| over
    distinct word n-grams. Returns (id_a, id_b, jaccard) for pairs at or
    above ``min_jaccard`` (jaccard rounded to 6 places, matching
    :func:`ngram_jaccard_pairs`)."""
    # persist: both join legs consume the shingle arrays, and the
    # split→zip→distinct chain would otherwise be evaluated once per
    # leg (it dominates this operator's cold cost). Spill-backed; at
    # very large |df| with few candidates, restricting df to the pair
    # ids first would be cheaper still — candidate sets after LSH are
    # collision-rate-sized, so the cache is bounded in practice.
    sh = persist(
        with_shingles(df, text_col, n).select(
            F.col(id_col).alias("_vid"), F.col("shingles").alias("_vsh")
        )
    )
    joined = (
        pairs.select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .join(sh, F.col("id_a") == F.col("_vid"))
        .select("id_a", "id_b", F.col("_vsh").alias("_sh_a"))
        .join(sh, F.col("id_b") == F.col("_vid"))
        .select("id_a", "id_b", "_sh_a", F.col("_vsh").alias("_sh_b"))
    )
    n_common = F.size(F.array_intersect("_sh_a", "_sh_b"))
    jac = n_common / (
        F.size("_sh_a") + F.size("_sh_b") - n_common
    )
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Near-duplicate clustering (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbour of u to min(N(u) ∪ {u})."""
    nbrs = _symmetrize(edges)
    mn = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
    )
    return (
        nbrs.join(mn, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct each edge high→low, then connect u and all its smaller
    neighbours to the smallest of them."""
    d = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mn = d.groupBy("u").agg(F.min("v").alias("m"))
    to_min = (
        d.join(mn, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = mn.select("u", F.col("m").alias("v"))
    return (
        to_min.unionByName(self_edge)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: a sum of 2^63-range hashes overflows under ANSI
    # mode; xor is order-independent and cannot overflow
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def star_components(
    pairs: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): converges in O(log n) rounds REGARDLESS of graph
    diameter, where plain min-label propagation needs diameter rounds.
    The scale path for chain-shaped duplicate graphs (e.g. boilerplate
    documents forming long similarity chains at web scale).

    Each round is two groupBy-join passes over the current edge set; the
    edge set only shrinks toward the star graph of each component, and
    convergence is detected on a (count, hash-sum) checksum — one
    KB-sized aggregate per round."""
    # every endpoint must appear in the output even if its only pair is
    # a self-pair (u == v) — method="label" keeps such nodes with
    # label == id, and the two methods must agree row-for-row
    all_nodes = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    edges = checkpoint(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    prev = _edge_checksum(edges)
    for _ in range(max_iterations):
        old, edges = edges, checkpoint(_small_star(_large_star(edges)))
        release(old)
        cur = _edge_checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        log.warning(
            "star_components: did not converge within %d rounds",
            max_iterations,
        )
    # converged edges form stars centred at each component's min id;
    # isolated nodes (self-pairs only) label themselves
    labels = (
        _symmetrize(edges)
        .groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select(
            F.col("u").alias("doc_id"),
            F.least(F.col("u"), F.col("_mv")).alias("cluster_id"),
        )
    )
    return all_nodes.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


def _driver_union_find(edges_rows):
    """Exact connected components on the driver for rollup-sized edge
    sets: path-compressed union-find, then one pass to label every node
    with its component's min id. A 371-pair graph costs ~10 Spark jobs
    and ~12 s as iterative BSP (per-round scheduling latency, not
    compute); on the driver it is microseconds. Returns (node, label)
    tuples — the caller owns the DataFrame schema (id type passthrough)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    rows = [(n, comp_min[find(n)]) for n in parent]
    return rows


def near_dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    method: str = "label",
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair set: every doc that
    appears in a pair gets the component label min(reachable doc_id).
    The survivor-selection step of a dedup pipeline — keep label == id.

    ``method="label"`` (default): iterative min-label propagation — each
    round joins the current labels across the edge set and takes the min
    neighbour label; rounds needed = graph diameter (near-dup clusters
    are tiny, so 2-3 in practice; hard cap ``max_iterations``). Each
    round is one shuffle on id; label state is (id, label) only — no
    adjacency materialisation beyond the input edges, so it scales to
    billions of edges. Converged when no label changed (checked on the
    KB-sized changed-count aggregate); warns if the cap is hit first.

    ``method="star"``: delegates to :func:`star_components` — O(log n)
    rounds regardless of diameter. Use when the duplicate graph may
    contain long chains (same labels, different convergence behaviour).

    ``driver_threshold``: edge sets at or below this size are solved by
    exact union-find ON THE DRIVER (identical labels) — the duplicate
    PAIR set is collision-rate-sized, often thousands of rows even for
    huge corpora, and iterative BSP pays multi-second per-round
    scheduling latency that dwarfs the actual work (measured 12 s for a
    371-pair graph vs milliseconds driver-side). The edge set is pulled
    via Arrow (``toPandas``), so 100k symmetrized edges cost two compact
    numpy columns (~a few MB), not per-Row Python objects; the default
    cap of 100k keeps the transient driver footprint — Arrow batch plus
    the union-find dicts — in the tens of MB even for wide string ids.
    Distributed iteration engages past the threshold (set 0 to force
    the distributed path).
    """
    if method == "star":
        return star_components(pairs, max_iterations)
    if method != "label":
        raise ValueError(f"unknown method {method!r} (use 'label'/'star')")
    edges = persist(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
    )
    if driver_threshold and edges.limit(driver_threshold + 1).count() <= driver_threshold:
        # Arrow transfer: two flat columns, no per-Row Python objects —
        # ~16 bytes/edge for long ids vs ~200+ bytes/Row via collect()
        log.info(
            "near_dup_clusters: driver union-find path "
            "(symmetrized edge set <= %d)", driver_threshold,
        )
        pdf = edges.toPandas()
        release(edges)
        rows = list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
        del pdf
        labels = _driver_union_find(rows)
        import pyspark.sql.types as T

        id_type = pairs.schema["id_a"].dataType
        schema = T.StructType([
            T.StructField("doc_id", id_type, False),
            T.StructField("cluster_id", id_type, False),
        ])
        return local_frame(pairs.sparkSession, labels, schema)
    log.info(
        "near_dup_clusters: DISTRIBUTED min-label propagation engaged "
        "(symmetrized edge set > driver_threshold=%d)", driver_threshold,
    )
    labels = persist(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    changed = 0
    for _ in range(max_iterations):
        neighbour_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # localCheckpoint truncates the per-round logical plan — with
        # plain persist the plan tree grows linearly with iterations and
        # stringifying it alone can OOM the driver on deep graphs
        new_labels = checkpoint(
            labels.join(neighbour_min, labels.id == neighbour_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
        )
        changed = new_labels.where(F.col("_changed")).limit(1).count()
        release(labels)
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # the final allowed iteration applied a change, so convergence is
        # undetermined: probe whether any label would STILL move (one
        # extra rollup-sized aggregate, only on this path) — warning on a
        # run that converged exactly at the cap would cry wolf
        neighbour_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        pending = (
            labels.join(neighbour_min, labels.id == neighbour_min.src)
            .where(F.col("nbr_label") < F.col("label"))
            .limit(1)
            .count()
        )
        if pending:
            # silent non-convergence would split clusters, so downstream
            # keep-cluster-min survivor selection would retain duplicates
            # with no signal — surface it instead of returning quietly
            log.warning(
                "near_dup_clusters: label propagation did not converge "
                "within %d iterations — returned clusters may be split "
                "(graph diameter exceeds the cap; raise max_iterations, "
                "or use method='star' which converges in O(log n) rounds)",
                max_iterations,
            )
    release(edges)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def minhash_recall_curve(
    num_perm: int, bands: int, thresholds: list[float] | None = None
) -> list[tuple[float, float]]:
    """Candidate probability of the banded MinHash scheme at each Jaccard
    similarity: P(candidate | J=s) = 1 - (1 - s^r)^b with r = num_perm //
    bands. The planning half of near-dup dedup: pick (num_perm, bands) so
    the curve's S-bend sits at your target threshold ((1/b)^(1/r) is the
    approximate inflection) BEFORE burning a cluster pass on the wrong
    parameters. Pure arithmetic — runs on the driver, costs nothing."""
    if bands <= 0 or num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    r = num_perm // bands
    ts = thresholds or [round(0.05 * i, 2) for i in range(1, 20)]
    return [(t, round(1.0 - (1.0 - t**r) ** bands, 6)) for t in ts]
