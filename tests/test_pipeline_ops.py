"""Training-data pipeline operators over the driver's testdata tables
(documents / embeddings at sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_genson_spark.operators import dedup, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").persist()
    df.count()
    yield df
    df.unpersist()


# --- dedup -----------------------------------------------------------------


def test_exact_duplicates_matches_groupby_text(docs):
    via_hash = dedup.exact_duplicates(docs).count()
    via_text = (
        docs.groupBy("text").count().where(F.col("count") > 1).count()
    )
    assert via_hash == via_text


def test_drop_exact_duplicates(docs, spark):
    doubled = docs.unionByName(docs)
    kept = dedup.drop_exact_duplicates(doubled)
    assert kept.count() == docs.select("text").distinct().count()


def test_shingles_and_minhash_shapes(docs):
    sh = dedup.with_shingles(docs.limit(50), n=3)
    row = sh.select("doc_id", "shingles").first()
    assert isinstance(row["shingles"], list) and row["shingles"]
    mh = dedup.with_minhash(sh, num_perm=16).select("minhash").first()
    assert len(mh["minhash"]) == 16


def test_minhash_finds_planted_near_dupes(docs, spark):
    base = docs.limit(30).select("doc_id", "text")
    # plant: copy of doc with one appended word → high jaccard
    near = base.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("-copy")).alias(
            "doc_id"
        ),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    both = base.select(F.col("doc_id").cast("string"), "text").unionByName(
        near
    )
    pairs = dedup.minhash_candidates(
        both, num_perm=32, bands=16, min_jaccard=0.35
    ).collect()
    found = {
        (r["id_a"], r["id_b"]) for r in pairs
    }
    # every original/copy pair shares almost all shingles → must be found
    hits = sum(
        1
        for r in base.collect()
        if (str(r["doc_id"]), f"{r['doc_id']}-copy") in found
        or (f"{r['doc_id']}-copy", str(r["doc_id"])) in found
    )
    assert hits >= 25  # ≥83% recall on near-identical pairs


def test_simhash_identical_docs_zero_hamming(docs, spark):
    base = docs.limit(20).select("doc_id", "text")
    dup = base.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("-d")).alias("doc_id"),
        "text",
    )
    both = base.select(F.col("doc_id").cast("string"), "text").unionByName(dup)
    pairs = dedup.simhash_candidates(both, max_hamming=0).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for r in base.collect():
        a, b = sorted([str(r["doc_id"]), f"{r['doc_id']}-d"])
        assert (a, b) in found


def test_ngram_jaccard_exact(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumps over the lazy cat"),
        ("c", "completely different text with no overlap here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = dedup.ngram_jaccard_pairs(df, n=2, min_jaccard=0.1).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert ("a", "b") in by_pair
    # 8 distinct bigrams each, 7 shared → 7/9
    assert abs(by_pair[("a", "b")] - 7 / 9) < 1e-5
    assert ("a", "c") not in by_pair


# --- similarity ------------------------------------------------------------


def test_brute_force_topk_self_is_best(emb):
    q = emb.first()
    top = similarity.brute_force_topk(
        emb, list(q["embedding"]), k=3
    ).collect()
    assert top[0]["vec_id"] == q["vec_id"]
    assert abs(top[0]["cosine"] - 1.0) < 1e-4


def test_lsh_recall_against_brute_force(emb):
    sample = emb.limit(120)
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.pairwise_topk(sample, k=1).collect()
    }
    approx = similarity.lsh_topk(sample, dim=64, k=1, n_planes=4, n_tables=8).collect()
    approx_pairs = {(r["id_a"], r["id_b"]) for r in approx}
    # single-table LSH with 6 planes: expect meaningful (not total) recall
    recall = len(exact & approx_pairs) / max(len(exact), 1)
    assert recall > 0.25


def test_embedding_near_duplicates_planted(emb, spark):
    base = emb.limit(40)
    dup = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    both = base.unionByName(dup)
    pairs = similarity.embedding_near_duplicates(
        both, dim=64, threshold=0.999
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    hits = sum(
        1 for r in base.collect() if (r["vec_id"], r["vec_id"] + 100000) in found
    )
    assert hits == 40  # identical vectors always share every LSH bucket


# --- text ------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("x", "Hello, world! 42 times.")], "doc_id string, text string"
    )
    row = text.with_token_counts(df).first()
    assert row["n_ws_tokens"] == 4
    # hello , world ! 42 times . → 7 BPE-ish tokens
    assert row["n_bpe_tokens"] == 7


def test_quality_and_language(docs):
    out = text.with_language_guess(text.with_quality(docs.limit(100)))
    rows = out.collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
    langs = {r["lang_guess"] for r in rows}
    assert "en" in langs  # documents corpus is english-ish


def test_fingerprint_stability(docs, spark):
    a = text.with_fingerprint(docs.limit(20)).select(
        "doc_id", "fingerprint", "min_shingle_fp"
    )
    b = text.with_fingerprint(docs.limit(20)).select(
        "doc_id",
        F.col("fingerprint").alias("fp2"),
        F.col("min_shingle_fp").alias("msf2"),
    )
    joined = a.join(b, "doc_id")
    assert (
        joined.where(
            (F.col("fingerprint") != F.col("fp2"))
            | (F.col("min_shingle_fp") != F.col("msf2"))
        ).count()
        == 0
    )


# --- multimodal ------------------------------------------------------------


def test_multimodal_plumbing(spark):
    media = multimodal.synthesize_media(spark, 60)
    feats = multimodal.extract_features(media, decoder="fake")
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows:
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["features"])
    # deterministic
    again = multimodal.extract_features(media, decoder="fake").collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_multimodal_real_decoder_is_stubbed(spark):
    media = multimodal.synthesize_media(spark, 5)
    with pytest.raises(Exception, match="NotImplementedError|real media"):
        multimodal.extract_features(media, decoder="real").collect()


def test_frame_sampling(spark):
    media = multimodal.synthesize_media(spark, 30)
    frames = multimodal.sample_frames(media, every_ms=500)
    vids = media.where(F.col("meta.kind") == "video").count()
    assert frames.select("media_id").distinct().count() == vids


def test_ivf_recall_against_brute_force(emb):
    """IVF (KMeans coarse quantizer + probed buckets) finds most exact
    nearest neighbours; with n_probe == n_centroids it degenerates to
    brute force (sanity bound)."""
    sample = emb.limit(120)
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.pairwise_topk(sample, k=1).collect()
    }
    approx = similarity.ivf_topk(
        sample, dim=64, k=1, n_centroids=8, n_probe=2, seed=7
    ).collect()
    approx_pairs = {(r["id_a"], r["id_b"]) for r in approx}
    recall = len(exact & approx_pairs) / max(len(exact), 1)
    assert recall > 0.25

    full = similarity.ivf_topk(
        sample, dim=64, k=1, n_centroids=4, n_probe=4, seed=7
    ).collect()
    full_pairs = {(r["id_a"], r["id_b"]) for r in full}
    assert full_pairs == exact  # probing every bucket == brute force


def test_ivf_pretrained_centroids(emb):
    """train-once / reuse path: centroids trained on a sample drive
    assignment without retraining."""
    sample = emb.limit(60)
    cents = similarity.train_ivf_centroids(sample, n_centroids=4, seed=7)
    assert len(cents) == 4 and len(cents[0]) == 64
    out = similarity.ivf_topk(
        sample, dim=64, k=1, centroids=cents, n_probe=2
    )
    assert out.count() > 0


def test_redactions(spark):
    from polars_genson_spark.operators.text import with_redactions

    df = spark.createDataFrame(
        [("mail me at a.b+c@example.org or visit https://x.io/p?q=1 "
          "ref 12345678 ok",)],
        "text string",
    )
    out = with_redactions(df).first()["text_redacted"]
    assert "<EMAIL>" in out and "<URL>" in out and "<NUM>" in out
    assert "example.org" not in out and "12345678" not in out


def test_chunk_tokens_shapes(spark):
    from polars_genson_spark.operators.text import chunk_tokens

    df = spark.createDataFrame(
        [("d1", list(range(70))), ("d2", list(range(32))), ("d3", [])],
        "doc_id string, tokens array<int>",
    )
    rows = chunk_tokens(df, chunk_size=32).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["n_chunk_tokens"])
        )
    assert by_doc["d1"] == [(0, 32), (1, 32), (2, 6)]
    assert by_doc["d2"] == [(0, 32)]
    assert "d3" not in by_doc  # empty docs emit no chunks
    # chunk contents partition the original array in order
    d1 = sorted(
        (r["chunk_id"], r["chunk_tokens"]) for r in rows if r["doc_id"] == "d1"
    )
    flat = [t for _, chunk in d1 for t in chunk]
    assert flat == list(range(70))


def test_semantic_dedup_keeps_least_typical(spark):
    """Planted near-dup pair in one cluster: the member with LOWER
    centroid similarity survives (SemDeDup keep rule); singletons and
    sub-threshold pairs are untouched."""
    from polars_genson_spark.operators.similarity import semantic_dedup

    # centroids: axis-aligned so cluster assignment is obvious
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (1, [1.0, 0.01, 0.0, 0.0]),   # cluster 0, very typical
        (2, [1.0, 0.09, 0.0, 0.0]),   # cluster 0, near-dup of 1, less typical
        (3, [0.2, 0.0, 1.0, 0.0]),    # cluster 0, far from 1/2 → survives
        (4, [0.0, 1.0, 0.0, 0.0]),    # cluster 1 singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, dim=4, threshold=0.9, centroids=cents)
    got = {r["id"]: r["cluster"] for r in out.collect()}
    # 1 and 2 are ~0.997 cosine: 2 has lower centroid_sim and survives
    assert set(got) == {2, 3, 4}
    assert got[2] == 0 and got[4] == 1


def test_semantic_dedup_cluster_locality(spark):
    """Near-identical vectors assigned to DIFFERENT clusters are both
    kept — the trade-off SemDeDup accepts for cluster-local cost."""
    from polars_genson_spark.operators.similarity import semantic_dedup

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(1, [1.0, 0.99]), (2, [0.99, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, dim=2, threshold=0.9, centroids=cents)
    assert {r["id"] for r in out.collect()} == {1, 2}


def test_unigram_logprob_oov_floor(spark):
    """min_count prunes rare words from the model; pruned words score
    with the 0.5-count floor, so rarer text gets higher mean_nll."""
    from polars_genson_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [
            (1, "the the the the"),
            (2, "the zzzunique"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in unigram_logprob(docs, min_count=2).collect()
    }
    import math

    total = 6  # 4x the, 1x the, 1x zzzunique
    the_nll = -math.log2(5 / total)
    oov_nll = -math.log2(0.5 / total)
    assert out[1]["n_words"] == 4
    assert abs(out[1]["mean_nll"] - round(the_nll, 4)) < 1e-9
    assert abs(out[2]["mean_nll"] - round((the_nll + oov_nll) / 2, 4)) < 1e-4
    assert out[2]["mean_nll"] > out[1]["mean_nll"]


def test_pcm_features_real_dsp(spark):
    """Raw-PCM audio features are REAL signal processing: the spectral
    centroid lands near the synthesized sine frequency, RMS near
    amplitude/sqrt(2), zero-crossing rate near 2f/sr."""
    from polars_genson_spark.operators.multimodal import (
        pcm_features,
        synthesize_raw_media,
    )

    media = synthesize_raw_media(spark, 8, seed=3)
    feats = {r["media_id"]: r.asDict() for r in pcm_features(media).collect()}
    assert len(feats) == 4  # ids 0,2,4,6 are audio
    for i in (0, 2, 4, 6):
        r = feats[f"m-{i:06d}"]
        freq = 200.0 + (i % 20) * 100.0
        assert r["n_samples"] == 8000
        assert abs(r["rms"] - 0.5 / 2**0.5) < 0.01
        # pure tone: centroid ≈ f (noise floor pulls it up slightly)
        assert abs(r["spectral_centroid"] - freq) < freq * 0.25 + 50
        assert abs(r["zcr"] - 2 * freq / 16000) < 0.02


def test_resize_raw_gray_real_pixels(spark):
    """Raw grayscale resize really resamples pixels: output buffer is
    out_w*out_h bytes, corners of the gradient are preserved."""
    import numpy as np

    from polars_genson_spark.operators.multimodal import (
        resize_raw_gray,
        synthesize_raw_media,
    )

    media = synthesize_raw_media(spark, 4, seed=3)
    out = {r["media_id"]: r for r in resize_raw_gray(media, 32, 24).collect()}
    assert len(out) == 2  # ids 1,3 are images
    for mid, r in out.items():
        assert r["meta"]["width"] == 32 and r["meta"]["height"] == 24
        img = np.frombuffer(r["media"], dtype=np.uint8).reshape(24, 32)
        assert img[0, 0] == 0              # gradient origin
        assert img[-1, -1] > img[0, 0]     # gradient increases
        col0 = img[:, 0]
        assert (np.diff(col0.astype(int)) >= 0).all()  # monotone down column


def test_compressed_decode_still_stubbed(spark):
    """decoder='real' remains an honest NotImplementedError for
    compressed formats."""
    import pytest as _pytest

    from polars_genson_spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )

    media = synthesize_media(spark, 3, seed=1)
    with _pytest.raises(Exception, match="PIL/ffmpeg"):
        extract_features(media, decoder="real").collect()


def test_lit_vec_nonfinite_spellings(spark):
    """inf/nan query components survive the one-call literal builder
    (python repr 'inf' is not castable in Spark; 'Infinity' is)."""
    from polars_genson_spark.operators.similarity import _lit_vec

    row = spark.range(1).select(_lit_vec([1.0, float("inf"), float("-inf"), float("nan")]).alias("v")).first()
    import math as _m

    assert row["v"][0] == 1.0
    assert _m.isinf(row["v"][1]) and row["v"][1] > 0
    assert _m.isinf(row["v"][2]) and row["v"][2] < 0
    assert _m.isnan(row["v"][3])


def test_semantic_dedup_probe_null_and_tail_mismatch(spark):
    """The dim probe validates ALL rows (not just the first) and ignores
    null vectors (code-review finding r2-2)."""
    import pytest as _pytest

    from polars_genson_spark.operators.similarity import semantic_dedup

    # null first row + valid rest: must NOT raise
    ok = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = semantic_dedup(ok, dim=2, centroids=[[1.0, 0.0], [0.0, 1.0]])
    assert out.count() == 3  # null vector survives with null centroid_sim
    # valid first row + short later row: MUST raise
    bad = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="lengths span"):
        semantic_dedup(bad, dim=2, centroids=[[1.0, 0.0]])


def test_namespace_merge_schemas_per_row(spark):
    """df.genson.infer_json_schema(merge_schemas=False) returns the
    per-row schema DataFrame, not a silently merged schema."""
    import polars_genson_spark  # noqa: F401

    df = spark.createDataFrame([('{"a":1}',), ('{"b":"x"}',)], "j string")
    out = df.genson.infer_json_schema("j", merge_schemas=False)
    rows = out.collect()
    assert len(rows) == 2
    schemas = {r["schema"] for r in rows}
    assert len(schemas) == 2  # two different per-row schemas
    import pytest as _pytest

    with _pytest.raises(ValueError, match="merge_schemas"):
        df.genson.infer_spark_schema("j", merge_schemas=False)


def test_quality_classifier_train_and_score(spark):
    """LR quality filter: trains on a separable labeled sample (high
    AUC), and the codegen scorer agrees with MLlib's own predictions."""
    from polars_genson_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )
    from polars_genson_spark.operators.text import with_quality

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    feats = with_quality(docs).select(
        "doc_id", "n_words", "punct_ratio", "stopword_ratio"
    )
    # planted separable labels: long docs are "good"
    labeled = feats.withColumn(
        "label", (F.col("n_words") > 40).cast("double")
    )
    cols = ["n_words", "punct_ratio", "stopword_ratio"]
    w = train_quality_classifier(labeled.limit(400), "label", cols)
    assert len(w) == 4 and all(abs(x) < 1e6 for x in w)

    scored = score_quality(labeled, w, cols)
    rows = scored.select("label", "quality_prob").collect()
    # AUC by rank comparison (small sample, exact)
    pos = sorted(r["quality_prob"] for r in rows if r["label"] == 1.0)
    neg = sorted(r["quality_prob"] for r in rows if r["label"] == 0.0)
    import bisect

    wins = sum(bisect.bisect_left(neg, p) for p in pos)
    auc = wins / (len(pos) * len(neg))
    assert auc > 0.95, auc

    with pytest.raises(ValueError, match="weights"):
        score_quality(labeled, [0.1, 0.2], cols)


def test_minhash_recall_curve_properties():
    """The banded-LSH planning curve is monotone, ~0 far below and ~1 far
    above the (1/b)^(1/r) inflection, and rejects non-dividing bands."""
    from polars_genson_spark.operators.dedup import minhash_recall_curve

    curve = dict(minhash_recall_curve(32, 16))
    # r=2, b=16 is deliberately permissive: inflection (1/16)^(1/2)=0.25
    assert curve[0.1] < 0.2
    assert curve[0.9] > 0.999
    # a steeper scheme (r=8, b=4) suppresses low-similarity candidates
    steep = dict(minhash_recall_curve(32, 4))
    assert steep[0.3] < 0.001 and steep[0.9] > 0.8
    assert steep[0.1] < curve[0.1]
    vals = [p for _, p in sorted(minhash_recall_curve(32, 16))]
    assert vals == sorted(vals)  # monotone in similarity
    # inflection ~ (1/16)^(1/2) = 0.25: well below 0.5 -> permissive scheme
    assert curve[0.3] > 0.5
    with pytest.raises(ValueError, match="divide"):
        minhash_recall_curve(32, 10)


def test_semantic_decontaminate_planted(emb, spark):
    """A corpus vector that is a near-copy of a benchmark vector is
    flagged with ~1.0 cosine and the right bench id; orthogonal noise
    vectors are not flagged at a high threshold."""
    from polars_genson_spark.operators.similarity import (
        semantic_decontaminate,
    )

    base = emb.select("vec_id", "embedding")
    bench = base.where(F.col("vec_id") < 20)
    b0 = bench.where(F.col("vec_id") == 3).first()["embedding"]
    leaked = [float(x) * 1.0001 for x in b0]
    corpus = (
        base.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
        .unionByName(
            spark.createDataFrame(
                [(9999, leaked)], "vec_id long, embedding array<float>"
            )
        )
    )
    out = {r["id"]: r for r in semantic_decontaminate(
        corpus, bench, dim=64, threshold=0.9
    ).collect()}
    assert 9999 in out
    assert out[9999]["bench_id"] == 3
    assert out[9999]["max_cosine"] > 0.999
    # synthetic vectors are near-orthogonal: nothing else crosses 0.9
    assert set(out) == {9999}
