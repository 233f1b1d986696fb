"""Round-4 regression tests: VERDICT r03 "Next round" items and ADVICE
fixes — deterministic packing, id-dtype passthrough in the BPE apply,
string-id tie-breaks in semantic decontamination, and hot-bucket cache
release."""

from __future__ import annotations

import pytest
from conftest import REPO_ROOT

from polars_genson_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        app_name="pgs-tests", master="local[4]", shuffle_partitions=4
    )


def _chunk_rows():
    # several docs × several chunks, sizes chosen so bins genuinely share
    rows = []
    for d in range(12):
        for c in range((d % 4) + 1):
            size = 2 + (d * 7 + c * 3) % 9
            rows.append((d, c, [d * 100 + c] * size))
    return rows


def _pack_key(r):
    return (tuple(r["tokens"]), tuple(r["boundaries"]), tuple(r["source_ids"]))


def test_pack_sequences_deterministic_across_partitionings(spark):
    """deterministic=True yields identical packs (tokens, boundaries,
    source ids, fill ratios) regardless of how the input happens to be
    partitioned — the property the curate CLI now relies on."""
    from polars_genson_spark.operators.text import pack_sequences

    rows = _chunk_rows()
    schema = "doc_id long, chunk_id int, chunk_tokens array<int>"
    layouts = [
        spark.createDataFrame(rows, schema).coalesce(1),
        spark.createDataFrame(list(reversed(rows)), schema).repartition(7),
        spark.createDataFrame(rows, schema).repartition(3, "chunk_id"),
    ]
    results = [
        sorted(
            _pack_key(r)
            for r in pack_sequences(
                df,
                context_len=16,
                pad_id=0,
                deterministic=True,
                num_partitions=4,
                order_cols=["doc_id", "chunk_id"],
            ).collect()
        )
        for df in layouts
    ]
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 1  # real multi-pack output, not a trivial case

    # and WITHOUT an explicit num_partitions it still runs (session conf)
    base = pack_sequences(
        layouts[0], context_len=16, deterministic=True
    ).collect()
    assert sum(r["n_tokens"] for r in base) == sum(
        len(t) for _, _, t in rows
    )


def test_curate_packs_reproducible_across_input_layouts(spark, tmp_path):
    """Two `curate` runs over the SAME documents written with DIFFERENT
    partition layouts produce identical packs end-to-end."""
    from polars_genson_spark.pipeline import CurateConfig, curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a_path = str(tmp_path / "a")
    b_path = str(tmp_path / "b")
    docs.repartition(8).write.parquet(a_path)
    docs.orderBy("n_chars").coalesce(2).write.parquet(b_path)

    cfg = CurateConfig(
        chunk_size=64,
        chunk_overlap=16,
        pack_context_len=256,
        pack_pad_id=0,
        near_dup=False,
    )
    outs = []
    for p in (a_path, b_path):
        res = curate(spark.read.parquet(p), None, cfg)
        outs.append(sorted(_pack_key(r) for r in res.chunks.collect()))
    assert outs[0] == outs[1]


def test_bpe_apply_string_ids(spark):
    """bpe_tokenize / bpe_tokenize_ids keep the input id dtype — a
    string-id corpus (the validate token-table shape) must tokenize, not
    fail at Arrow conversion (ADVICE r03)."""
    from polars_genson_spark.operators.tokenizer import (
        bpe_tokenize,
        bpe_tokenize_ids,
        train_bpe_with_vocab,
    )

    df = spark.createDataFrame(
        [("doc-a", "low lower lowest"), ("doc-b", "new newer newest")],
        "doc_id string, text string",
    )
    merges, vocab = train_bpe_with_vocab(df, n_merges=10)
    out = bpe_tokenize_ids(df, merges, vocab).collect()
    assert {r["doc_id"] for r in out} == {"doc-a", "doc-b"}
    assert all(r["n_tok"] > 0 for r in out)
    out2 = bpe_tokenize(df, merges).collect()
    assert {r["doc_id"] for r in out2} == {"doc-a", "doc-b"}


def test_semantic_decontaminate_string_ids(spark):
    """String ids survive the (cosine DESC, id ASC) tie-break — the
    negated-id max-struct silently NULLed them (ADVICE r03)."""
    from polars_genson_spark.operators.similarity import (
        semantic_decontaminate,
    )

    dim = 4
    vecs = [
        ("c1", [1.0, 0.0, 0.0, 0.0]),
        ("c2", [0.0, 1.0, 0.0, 0.0]),
    ]
    bench = [
        # two benchmark rows IDENTICAL to c1's vector: tie on cosine=1.0,
        # must resolve to the lexicographically smaller bench id
        ("b2", [1.0, 0.0, 0.0, 0.0]),
        ("b1", [1.0, 0.0, 0.0, 0.0]),
    ]
    c = spark.createDataFrame(vecs, "vec_id string, embedding array<double>")
    b = spark.createDataFrame(bench, "vec_id string, embedding array<double>")
    out = semantic_decontaminate(c, b, dim=dim, threshold=0.9).collect()
    assert len(out) == 1
    row = out[0]
    assert row["id"] == "c1"
    assert row["bench_id"] == "b1"  # not NULL, and the ASC tie-break
    assert row["max_cosine"] == pytest.approx(1.0)


def _strip_volatile(p):
    return {k: v for k, v in p.items() if k not in ("created_at",)}


def test_resume_from_partial_manifest(spark, tmp_path):
    """A run that died mid-way leaves a manifest covering only SOME
    partitions; resume must skip exactly the intact ones, recompute the
    missing ones, and converge to the same per-partition metrics as a
    from-scratch run — including the config-fingerprint invalidation
    path end-to-end (VERDICT r03 task 6)."""
    import json
    import os

    from polars_genson_spark import checkpoint as ckpt
    from polars_genson_spark.config import ValidationConfig
    from polars_genson_spark.jobs import run_validation
    from polars_genson_spark.sources.corpus import (
        allowed_sources_df,
        generate_corpus,
    )

    run_dir = str(tmp_path / "run")
    corpus = generate_corpus(spark, 8000, seed=11).persist()
    allowed = allowed_sources_df(spark)

    full = run_validation(
        spark, corpus, allowed, run_dir, write_outputs=False
    )
    golden = {
        k: _strip_volatile(v) for k, v in full["partitions"].items()
    }
    sources = sorted(golden)
    assert len(sources) > 5

    # simulate the mid-run death: keep only half the partitions'
    # fingerprints + metrics, as if the writer stopped part-way
    manifest = ckpt.load_manifest(run_dir)
    kept = sources[: len(sources) // 2]
    lost = sources[len(sources) // 2:]
    manifest["fingerprints"] = {
        s: manifest["fingerprints"][s] for s in kept
    }
    manifest["partitions"] = {s: manifest["partitions"][s] for s in kept}
    ckpt.save_manifest(run_dir, manifest)

    resumed = run_validation(
        spark, corpus, allowed, run_dir, write_outputs=False
    )
    assert resumed["skipped"] == kept
    assert resumed["validated"] == lost
    assert {
        k: _strip_volatile(v) for k, v in resumed["partitions"].items()
    } == golden

    # config change → EVERY partition revalidates despite matching
    # fingerprints, and the new manifest records the new config_fp
    cfg2 = ValidationConfig(max_seq_len=64)
    r3 = run_validation(
        spark, corpus, allowed, run_dir, cfg=cfg2, write_outputs=False
    )
    assert r3["skipped"] == []
    assert r3["validated"] == sources
    m3 = ckpt.load_manifest(run_dir)
    assert m3["config_fp"] == ckpt.config_fingerprint(cfg2)

    # pre-upgrade manifest (no config_fp at all) also invalidates skips
    del m3["config_fp"]
    ckpt.save_manifest(run_dir, m3)
    r4 = run_validation(
        spark, corpus, allowed, run_dir, cfg=cfg2, write_outputs=False
    )
    assert r4["skipped"] == []
    corpus.unpersist()

    # a half-written manifest file (crash DURING save before the atomic
    # rename) must be invisible: the .tmp never becomes manifest.json
    path = os.path.join(run_dir, ckpt.MANIFEST_NAME)
    with open(path) as fh:
        json.load(fh)  # current manifest parses
    with open(path + ".tmp", "w") as fh:
        fh.write('{"version": 1, "partitions": {')  # torn write
    assert ckpt.load_manifest(run_dir)["version"] == 1  # unaffected


def test_validate_cli_survives_sigkill(tmp_path):
    """Kill `jobs validate` mid-run with SIGKILL; the run directory must
    hold either no manifest or an intact previous one (atomic rename),
    and a rerun completes normally from that state."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    corpus_dir = str(tmp_path / "corpus")
    run_dir = str(tmp_path / "run")
    env = {**os.environ, "PYTHONPATH": REPO_ROOT}
    gen = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "generate",
         "--output", corpus_dir, "--rows", "120000", "--seed", "5"],
        env=env, capture_output=True, timeout=300,
    )
    assert gen.returncode == 0, gen.stderr[-2000:]

    proc = subprocess.Popen(
        [sys.executable, "-m", "polars_genson_spark.jobs", "validate",
         "--input", corpus_dir, "--output", run_dir],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
    )
    # let the JVM spin up and the job get airborne, then kill hard
    deadline = time.time() + 60
    while time.time() < deadline and proc.poll() is None:
        if os.path.isdir(run_dir):  # run dir exists → work started
            time.sleep(2.0)
            break
        time.sleep(0.5)
    assert proc.poll() is None, "validate finished before the kill"
    proc.send_signal(signal.SIGKILL)
    proc.wait(timeout=60)

    mpath = os.path.join(run_dir, "manifest.json")
    if os.path.exists(mpath):  # either absent, or fully-formed JSON
        with open(mpath) as fh:
            json.load(fh)

    rerun = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "validate",
         "--input", corpus_dir, "--output", run_dir],
        env=env, capture_output=True, timeout=600,
    )
    out = json.loads(rerun.stdout.decode().strip().splitlines()[-1])
    manifest = json.load(open(mpath))
    # every corpus partition ends up covered exactly once
    assert set(manifest["partitions"]) == set(
        manifest["fingerprints"]
    )
    assert sorted(out["validated"] + out["skipped"]) == sorted(
        manifest["partitions"]
    )


def test_cap_hot_buckets_releases_cache(spark):
    """_cap_hot_buckets must not leave its rollup pinned in storage when
    hot buckets exist (ADVICE r03 leak)."""
    from pyspark.sql import functions as F

    from polars_genson_spark.operators.dedup import _cap_hot_buckets

    before = {
        r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    entries = spark.range(200).select(
        F.lit(0).alias("band"),
        F.lit(7).alias("bucket"),
        F.col("id"),
    )
    capped = _cap_hot_buckets(entries, ["band", "bucket"], 50, "test")
    assert capped.count() == 0  # the single hot bucket is dropped
    after = {
        r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert after <= before  # no newly-pinned storage survives the call


def test_semantic_dedup_auto_cluster_sizing(spark):
    """n_clusters=None auto-sizes from the vector count: fixed small k
    is Σ|cluster|² ≈ N²/k quadratic death at scale (observed as a
    >30-min 8-task stage at 200k vectors in the 10M-row scale run)."""
    from polars_genson_spark.operators.similarity import (
        _auto_clusters,
        semantic_dedup,
    )

    # formula: ~2k vectors per cluster, clamped to [8, 4096]
    assert _auto_clusters(1) == 8
    assert _auto_clusters(16_384) == 8
    assert _auto_clusters(16_385) == 9
    assert _auto_clusters(200_000) == 98
    assert _auto_clusters(1_000_000) == 489  # > _LITERAL_ASSIGN_MAX: vectorized assignment
    assert _auto_clusters(10_000_000) == 4096  # broadcast-matrix cap
    # end-to-end default path still runs (small df → floor of 8)
    from pyspark.sql import functions as F

    df = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 5).cast("float"), F.lit(1.0).cast("float")
        ).alias("embedding"),
    )
    out = semantic_dedup(df, dim=2)
    assert 0 < out.count() <= 20


def test_semantic_dedup_vectorized_assignment_parity(spark, monkeypatch):
    """Above _LITERAL_ASSIGN_MAX centroids, assignment runs as one BLAS
    matmul per Arrow batch. It must agree with the literal-expression
    path exactly — cluster id (incl. the largest-index tie-break), csim
    to 6 dp, null-vector passthrough, and the final survivor set."""
    import math

    from pyspark.sql import functions as F

    from polars_genson_spark.operators import similarity as sim

    # deterministic vectors incl. an exact tie (v aligned between c0/c2)
    # and a null; centroids NOT normalised (the op normalises them)
    cents = [[1.0, 0.0], [0.0, 2.0], [1.0, 0.0], [-1.0, -1.0]]
    rows = [
        (1, [1.0, 0.0]),     # ties c0/c2 at cos=1 -> must pick idx 2
        (2, [0.0, 5.0]),
        (3, [3.0, 3.0]),
        (4, [-1.0, -0.9]),
        (5, [0.99, 0.12]),   # near-dup of 1's direction
        (6, None),           # null vector: survives with null sim
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )

    def run(force_vectorized):
        if force_vectorized:
            monkeypatch.setattr(sim, "_LITERAL_ASSIGN_MAX", 2)
        else:
            monkeypatch.setattr(sim, "_LITERAL_ASSIGN_MAX", 256)
        out = sim.semantic_dedup(df, dim=2, centroids=cents, threshold=0.95)
        return sorted(
            (
                r["id"],
                r["cluster"],
                None
                if r["centroid_sim"] is None
                else round(r["centroid_sim"], 6),
            )
            for r in out.collect()
        )

    lit = run(False)
    vec = run(True)
    assert lit == vec
    got = {i: (c, s) for i, c, s in lit}
    # 1 and 5 are 0.993-cosine near-dups in the tied cluster: 5 has the
    # LOWER centroid sim (least typical) so it survives and 1 is dropped
    assert 1 not in got
    assert got[5][0] == 2  # largest-index tie-break, both paths
    assert got[6] == (None, None)  # null vector survives, null sim


def test_semantic_dedup_gram_join_parity(spark, monkeypatch):
    """pair_backend='gram' (per-cluster BLAS Gram matrix) must produce
    the EXACT discard set of pair_backend='join' (cluster-local codegen
    self-join): same rank rule (csim, id) strict tuple order, same
    round-6 pair predicate, same null-vector passthrough — including a
    planted exact csim tie (two distinct ids, identical vector) and a
    cluster wider than the Gram column block (multi-block path)."""
    import random

    from pyspark.sql import functions as F

    from polars_genson_spark.operators import similarity as sim

    rng = random.Random(41)
    rows = []
    # 3 planted directions -> 3 clusters; ~60 vectors per direction with
    # small jitter so many pairs clear the 0.98 threshold and many don't
    base = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.6, 0.6, 0.5]]
    i = 0
    for b in base:
        for _ in range(60):
            v = [x + rng.uniform(-0.08, 0.08) for x in b]
            rows.append((i, v))
            i += 1
    # exact csim tie: identical vectors, distinct ids -> identical
    # (csim, id-breaks-tie) rank; join keeps the lower id, gram must too
    rows.append((1000, [1.0, 0.001, 0.0]))
    rows.append((1001, [1.0, 0.001, 0.0]))
    rows.append((1002, None))  # null vector: never discarded
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.7, 0.7, 0.6]]

    def run(backend):
        out = sim.semantic_dedup(
            df, dim=3, centroids=cents, threshold=0.98,
            return_discards=True, pair_backend=backend,
        )
        return sorted(r["id"] for r in out.collect())

    joined = run("join")
    # force the multi-block Gram path: 64 doubles per column block
    monkeypatch.setattr(sim, "_GRAM_BLOCK_DOUBLES", 64)
    gram = run("gram")
    assert joined == gram
    assert joined  # the planted near-dupes actually fired
    # identical vectors, identical csim: id breaks the tie, so 1001 is
    # discarded by 1000 (1000 itself may be dropped by other lower-csim
    # neighbours in the dense planted cluster — not asserted)
    assert 1001 in joined
    assert 1002 not in joined  # null vector survives

    # survivors variant agrees too (anti-join side)
    surv_j = sorted(
        r["id"]
        for r in sim.semantic_dedup(
            df, dim=3, centroids=cents, threshold=0.98, pair_backend="join",
        ).collect()
    )
    surv_g = sorted(
        r["id"]
        for r in sim.semantic_dedup(
            df, dim=3, centroids=cents, threshold=0.98, pair_backend="gram",
        ).collect()
    )
    assert surv_j == surv_g

    with __import__("pytest").raises(ValueError, match="pair_backend"):
        sim.semantic_dedup(df, dim=3, centroids=cents, pair_backend="blas")


def test_bpe_seed_cache_parity(spark):
    """seed_words (driver-segmented, broadcast) must not change ANY
    output vs the unseeded per-partition cache path — including OOV
    words absent from the seed and a cache_max small enough to force
    overflow clears between seeded lookups."""
    from polars_genson_spark.operators.tokenizer import (
        bpe_tokenize,
        bpe_tokenize_ids,
        train_bpe_with_vocab,
    )

    texts = [
        "low lower lowest newest widest",
        "the newest low widest zzz-oov qqzukx",  # OOV tail words
        "low low lower newest the the the",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab, words = train_bpe_with_vocab(
        df, n_merges=30, return_words=True
    )
    assert words and "low" in words  # rollup words came back

    base = {
        r["doc_id"]: (r["tokens"], r["n_tok"])
        for r in bpe_tokenize_ids(df, merges, vocab).collect()
    }
    seeded = {
        r["doc_id"]: (r["tokens"], r["n_tok"])
        for r in bpe_tokenize_ids(
            df, merges, vocab, seed_words=words, cache_max=2
        ).collect()
    }
    assert base == seeded

    b2 = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_tokenize(df, merges).collect()
    }
    s2 = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_tokenize(
            df, merges, seed_words=words, cache_max=2
        ).collect()
    }
    assert b2 == s2
