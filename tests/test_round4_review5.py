"""Round-4 fifth review pass: dedup/similarity/stats findings —
LSH null-vector hygiene, band-parameter validation, gram/join rounding
parity at the threshold boundary, shingle fallback normalisation, and
histogram kernel agreement on negative (corrupt) token ids.
"""

from __future__ import annotations

import pytest

from polars_genson_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        app_name="pgs-tests-r4r5", master="local[4]", shuffle_partitions=4
    )


def _vecs(spark, with_null=False):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.14, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.98, 0.2, 0.0]),
    ]
    if with_null:
        rows += [(90, None), (91, None), (92, None)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_lsh_topk_drops_null_vectors(spark):
    """Null embeddings must not bucket together (degenerate hot cell)
    nor emit null-cosine rows that rank into the top-k."""
    from polars_genson_spark.operators.similarity import lsh_topk

    out = lsh_topk(
        _vecs(spark, with_null=True), dim=4, k=2, n_planes=2, n_tables=4
    ).collect()
    ids = {r["id_a"] for r in out} | {r["id_b"] for r in out}
    assert ids <= {1, 2, 3, 4}
    assert all(r["cosine"] is not None for r in out)


def test_ivf_topk_drops_null_vectors(spark):
    from polars_genson_spark.operators.similarity import ivf_topk

    out = ivf_topk(
        _vecs(spark, with_null=True), dim=4, k=2, n_centroids=2
    ).collect()
    ids = {r["id_a"] for r in out} | {r["id_b"] for r in out}
    assert ids <= {1, 2, 3, 4}
    assert all(r["cosine"] is not None for r in out)


def test_minhash_bands_must_divide_num_perm(spark):
    """bands > num_perm hashed EMPTY slices (all docs in one bucket →
    N² cross product); non-dividing bands silently dropped the tail
    permutations. Both now raise like minhash_recall_curve."""
    from polars_genson_spark.operators.dedup import minhash_candidates

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="divide"):
        minhash_candidates(df, num_perm=64, bands=128)
    with pytest.raises(ValueError, match="divide"):
        minhash_candidates(df, num_perm=64, bands=10)


def test_gram_rounding_matches_spark_round(spark):
    """The gram backend's threshold test must reproduce Spark's
    F.round(x, 6) decision exactly — np.round (half-even on the binary
    value) disagrees on boundary doubles like 0.1234565."""
    import numpy as np

    import pyspark.sql.functions as F
    from polars_genson_spark.operators.similarity import _round6_gt

    # adversarial boundary values + bulk randoms around a threshold
    vals = [0.1234565, 0.1234575, 0.9999995, 0.1234564999, -0.1234565]
    rng = np.random.default_rng(7)
    vals += list(0.123456 + (rng.random(200) - 0.5) * 4e-6)
    thresholds = [0.123456, 0.123457, 0.9999990]
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    for t in thresholds:
        spark_hits = [
            bool(r["h"])
            for r in df.select(
                (F.round(F.col("x"), 6) > F.lit(t)).alias("h")
            ).collect()
        ]
        ours = _round6_gt(np.array(vals, dtype=np.float64), t).tolist()
        assert ours == spark_hits, f"divergence at threshold {t}"


def test_short_doc_shingles_normalise_whitespace(spark):
    """Short docs (< n words) with tab/multi-space variants must shingle
    identically — the fallback previously skipped the \\s+ collapse."""
    from polars_genson_spark.operators.dedup import with_shingles

    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "hello world"), (3, "hello\tworld")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["shingles"]
        for r in with_shingles(df, n=3).collect()
    }
    assert out[1] == out[2] == out[3] == ["hello world"]


def test_histogram_kernels_agree_on_negative_ids(spark):
    """JVM cast-truncation put negative ids in bucket 0 (hiding them in
    a valid bucket) while the Arrow kernel floored them to bucket -1 —
    the two kernels must agree, and corrupt mass must stay visible."""
    from polars_genson_spark.config import ValidationConfig
    from polars_genson_spark.operators.stats import token_id_histogram

    df = spark.createDataFrame(
        [("a", [-5, -1, 3, 100], 4, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    cfg = ValidationConfig(vocab_size=256, token_id_buckets=4)  # width 64
    jvm = {
        (r["source"], r["bucket"]): r["cnt"]
        for r in token_id_histogram(df, cfg, use_arrow=False).collect()
    }
    arrow = {
        (r["source"], r["bucket"]): r["cnt"]
        for r in token_id_histogram(df, cfg, use_arrow=True).collect()
    }
    assert jvm == arrow
    assert jvm[("web", -1)] == 2  # corrupt ids visible, not in bucket 0
    assert jvm[("web", 0)] == 1
    assert jvm[("web", 1)] == 1


def test_column_stats_total_tokens_null_safe_ansi_off(spark):
    """total_tokens must not subtract 1 per null-tokens row when the
    session runs with ANSI off (size(null) = -1 there)."""
    from polars_genson_spark.operators.stats import column_stats

    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        df = spark.createDataFrame(
            [("a", [1, 2, 3], 3, "web"), ("b", None, None, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        row = column_stats(df).collect()[0]
        assert row["total_tokens"] == 3
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.ansi.enabled", prev)
        else:
            spark.conf.unset("spark.sql.ansi.enabled")


def test_semantic_dedup_null_probe_ansi_off(spark):
    """The dim probe must tolerate null vectors under ANSI off (the
    unguarded size(null) = -1 made lo=-1 and rejected the corpus)."""
    from polars_genson_spark.operators.similarity import semantic_dedup

    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        df = _vecs(spark, with_null=True)
        out = semantic_dedup(df, dim=4, n_clusters=2, threshold=0.95)
        ids = {r["id"] for r in out.collect()}
        # near-identical pairs (1,2) and (3,4) each lose one member;
        # null vectors survive (they can never match)
        assert {90, 91, 92} <= ids
        assert len(ids & {1, 2}) == 1 and len(ids & {3, 4}) == 1
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.ansi.enabled", prev)
        else:
            spark.conf.unset("spark.sql.ansi.enabled")
