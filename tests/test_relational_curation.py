"""Unit tests for the round-2 relational/curation operators: as-of join,
sessionization, quantiles, near-dup clustering, decontamination,
stratified sampling, vocabulary top-k."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from conftest import REPO_ROOT

from polars_genson_spark.operators.dedup import near_dup_clusters
from polars_genson_spark.operators.decontaminate import (
    contaminated_docs,
    decontaminate,
)
from polars_genson_spark.operators.relational import (
    asof_join,
    grouped_quantiles,
    sessionize,
)
from polars_genson_spark.operators.sample import stratified_sample

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _ts(minutes: float) -> datetime:
    return T0 + timedelta(minutes=minutes)


def test_asof_join_backward_and_tolerance(spark):
    trades = spark.createDataFrame(
        [(1, "A", _ts(10)), (2, "A", _ts(30)), (3, "B", _ts(5)), (4, "C", _ts(1))],
        "trade_id long, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts(9), 100.0),
            ("A", _ts(10), 101.0),   # exact-ts quote is visible
            ("A", _ts(29), 102.0),
            ("B", _ts(6), 50.0),     # after the only B trade → no match
        ],
        "sym string, ts timestamp, px double",
    )
    out = {
        r["trade_id"]: (r["asof_px"], r["asof_ts"])
        for r in asof_join(
            trades, quotes, on="sym", right_payload=["px"]
        ).collect()
    }
    assert out[1] == (101.0, _ts(10))   # exact ts wins over 9-min quote
    assert out[2] == (102.0, _ts(29))
    assert out[3] == (None, None)       # only future quotes
    assert out[4] == (None, None)       # no quotes for key at all

    # tolerance: the 29-min quote is too old for a 30-min trade at 30s tol
    tol = {
        r["trade_id"]: r["asof_px"]
        for r in asof_join(
            trades, quotes, on="sym", right_payload=["px"],
            tolerance="INTERVAL 30 SECONDS",
        ).collect()
    }
    assert tol[1] == 101.0
    assert tol[2] is None


def test_asof_join_equal_ts_tie_break(spark):
    left = spark.createDataFrame(
        [(1, "A", _ts(10))], "id long, sym string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("A", _ts(10), 7), ("A", _ts(10), 9)],
        "sym string, ts timestamp, rid long",
    )
    row = asof_join(left, right, on="sym", right_payload=["rid"]).collect()[0]
    assert row["asof_rid"] == 9  # max payload at equal ts, deterministic


def test_sessionize_gap(spark):
    events = spark.createDataFrame(
        [
            (1, _ts(0)), (1, _ts(10)), (1, _ts(50)),  # gap 40m → 2 sessions
            (2, _ts(0)),
        ],
        "user_id long, ts timestamp",
    )
    rows = {
        (r["user_id"], r["session_id"]): r.asDict()
        for r in sessionize(events, gap="INTERVAL 30 MINUTES").collect()
    }
    assert rows[(1, 1)]["n_events"] == 2
    assert rows[(1, 1)]["session_end"] == _ts(10)
    assert rows[(1, 2)]["n_events"] == 1
    assert rows[(2, 1)]["n_events"] == 1


def test_grouped_quantiles_interpolation(spark):
    df = spark.createDataFrame(
        [("g", v) for v in (1, 2, 3, 10)], "grp string, v long"
    )
    row = grouped_quantiles(df, "grp", "v", [0.25, 0.5]).collect()[0]
    assert row["q0_25"] == 1.75  # 1 + 0.75*(2-1)
    assert row["q0_5"] == 2.5


def test_near_dup_clusters_transitive(spark):
    # chain a-b, b-c plus isolated pair d-e: {a,b,c} and {d,e}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_decontaminate_overlap(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "a quick brown fox jumps over a fence"),  # shares 3-grams
            (2, "completely different text with no overlap here"),
        ],
        "doc_id long, text string",
    )
    bench = docs.where("doc_id = 0")
    corpus = docs.where("doc_id != 0")
    bad = contaminated_docs(corpus, bench, n=3, min_shared=2).collect()
    assert {r["doc_id"] for r in bad} == {1}
    clean = decontaminate(corpus, bench, n=3, min_shared=2)
    assert {r["doc_id"] for r in clean.collect()} == {2}


def test_stratified_sample_rates_and_determinism(spark):
    df = spark.createDataFrame(
        [(i, "big" if i % 2 == 0 else "small") for i in range(10_000)],
        "doc_id long, source string",
    )
    out = stratified_sample(
        df, rates={"big": (1, 10)}, default_rate=(1, 2), method="hash"
    )
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert 350 < counts["big"] < 650        # ~10% of 5000
    assert 2200 < counts["small"] < 2800    # ~50% of 5000
    # deterministic and partition-layout independent
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(
            df.repartition(13),
            rates={"big": (1, 10)},
            default_rate=(1, 2),
            method="hash",
        ).collect()
    )
    assert a == b
    with pytest.raises(ValueError, match="unknown method"):
        stratified_sample(df, rates={}, method="bogus")


def test_top_words(spark):
    from polars_genson_spark.operators.text import top_words

    docs = spark.createDataFrame(
        [
            ("s", "alpha beta gamma"),
            ("s", "alpha beta"),
            ("s", "alpha zeta"),
        ],
        "source string, text string",
    )
    rows = top_words(docs, k=2).collect()
    got = [(r["rank"], r["word"], r["df"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == [(1, "alpha", 3), (2, "beta", 2)]


def test_curate_pipeline_end_to_end(spark):
    """Full curation composition on the documents table: every stage
    monotonically shrinks the doc set, exact+near duplicates are gone,
    and chunk sizes respect the cap."""
    from polars_genson_spark.pipeline import CurateConfig, curate

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .where(F.col("doc_id") < 300)  # slice keeps ≥7 planted near-dup pairs
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text", "source")
    )
    benchmark = docs.where("doc_id % 37 = 0").select("doc_id", "text", "source")
    corpus = docs.where("doc_id % 37 != 0")
    cfg = CurateConfig(
        min_jaccard=0.8,
        chunk_size=32,
        sample_rates={"src0": (1, 2)},
        default_rate=(1, 1),
    )
    res = curate(corpus, benchmark, cfg)
    c = res.stage_counts
    assert (
        c["input"]
        >= c["exact_dedup"]
        >= c["near_dedup"]
        >= c["decontaminated"]
        >= c["quality"]
        >= c["sampled"]
    )
    # sf0.01 documents are all byte-distinct but contain planted NEAR
    # duplicates (jaccard ~0.97 pairs) — the near-dup stage must fire
    assert c["near_dedup"] < c["exact_dedup"]
    assert c["chunks"] > 0
    chunks = res.chunks
    assert chunks.where(F.col("n_chunk_tokens") > 32).count() == 0
    # surviving docs are exact-dedup-clean
    assert (
        chunks.select("doc_id").distinct().count()
        <= c["sampled"]
    )


def test_curate_cli(tmp_path):
    import json as _json
    import subprocess
    import sys as _sys

    out = subprocess.run(
        [
            _sys.executable, "-m", "polars_genson_spark.jobs", "curate",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(tmp_path / "chunks"),
            "--chunk-size", "64", "--no-near-dup",
        ],
        capture_output=True, text=True, cwd=REPO_ROOT, check=True,
    )
    summary = _json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["chunks"] > 0 and summary["input"] >= summary["quality"]
    import os as _os

    assert any(f.endswith(".parquet") for f in _os.listdir(tmp_path / "chunks"))


def test_line_dedup_boilerplate(spark):
    from polars_genson_spark.operators.text import line_dedup

    banner = "accept our cookies"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nunique line one\nunique line two"),
            (2, f"{banner}\ndifferent content here"),
            (3, "no boilerplate at all"),
            (4, banner),  # becomes empty after dedup
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text_deduped"] for r in line_dedup(docs).collect()}
    assert out[1] == "unique line one\nunique line two"
    assert out[2] == "different content here"
    assert out[3] == "no boilerplate at all"
    assert out[4] == ""
    # line order within a doc is preserved
    docs2 = spark.createDataFrame(
        [(1, "z last\na first"), (2, "z last\nb mid")],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r["text_deduped"] for r in line_dedup(docs2).collect()}
    assert out2[1] == "a first"  # "z last" is shared → dropped


def test_repetition_stats(spark):
    from polars_genson_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),     # "a b c" x3 of 7 trigrams
            (2, "all words differ here completely"),
            (3, "xy"),                     # short doc → whole-text shingle
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}
    assert out[1]["n_shingles"] == 7 and out[1]["max_rep"] == 3
    assert out[1]["rep_ratio"] == 0.4286
    assert out[2]["max_rep"] == 1
    assert out[3]["n_shingles"] == 1 and out[3]["max_rep"] == 1


def test_source_mix_caps(spark):
    from polars_genson_spark.operators.text import source_mix

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(100)],
        "doc_id long, source string",
    )
    out = source_mix(df, caps={"a": 3}, default_cap=5)
    rows = out.collect()
    a = sorted(r["doc_id"] for r in rows if r["source"] == "a")
    b = sorted(r["doc_id"] for r in rows if r["source"] == "b")
    assert a == [0, 2, 4]          # first 3 by id
    assert b == [1, 3, 5, 7, 9]    # default cap 5
    # unlimited default
    out2 = source_mix(df, caps={"a": 1}, default_cap=None)
    assert out2.where("source = 'b'").count() == 50
    assert out2.where("source = 'a'").count() == 1


def test_range_join_matches_naive_inequality(spark):
    """Bucketed plan must equal the exact inequality join for every
    bucket_width, including windows not aligned to bucket edges."""
    from polars_genson_spark.operators.relational import range_join

    import random

    rng = random.Random(7)
    lrows = [(i, rng.uniform(0, 100.0)) for i in range(80)]
    rrows = [(1000 + i, rng.uniform(0, 100.0)) for i in range(120)]
    left = spark.createDataFrame(lrows, "lid long, lv double")
    right = spark.createDataFrame(rrows, "rid long, rv double")

    def naive(lo, hi):
        return {
            (r["lid"], r["rid"])
            for r in left.join(
                right,
                (F.col("rv") >= F.col("lv") + lo)
                & (F.col("rv") < F.col("lv") + hi),
            ).collect()
        }

    for lo, hi, w in [(0.0, 5.0, 5.0), (-3.0, 7.0, 2.5), (0.0, 5.0, 11.0),
                      (2.0, 4.0, None)]:
        got = {
            (r["lid"], r["rid"])
            for r in range_join(
                left, right, "lv", "rv", lo, hi, bucket_width=w
            ).collect()
        }
        assert got == naive(lo, hi), (lo, hi, w)


def test_range_join_timestamps_subsecond(spark):
    from polars_genson_spark.operators.relational import range_join

    base = datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, base), (2, base + timedelta(seconds=10))], "lid long, lts timestamp"
    )
    # 4.5 s after left row 1: inside a 5 s window, outside after truncation
    right = spark.createDataFrame(
        [(10, base + timedelta(seconds=4, microseconds=500_000)),
         (11, base + timedelta(seconds=5))],
        "rid long, rts timestamp",
    )
    got = {
        (r["lid"], r["rid"])
        for r in range_join(left, right, "lts", "rts", 0.0, 5.0).collect()
    }
    # rid=10 (+4.5 s) is in lid=1's [0,5) window; rid=11 sits exactly on
    # the exclusive upper edge and must stay out
    assert got == {(1, 10)}


def test_range_join_errors(spark):
    from polars_genson_spark.operators.relational import range_join

    df = spark.createDataFrame([(1, 1.0)], "a long, v double")
    df2 = spark.createDataFrame([(2, 2.0)], "b long, w double")
    with pytest.raises(ValueError, match="empty range"):
        range_join(df, df2, "v", "w", 5.0, 5.0)
    with pytest.raises(ValueError, match="collision"):
        range_join(df, df.withColumnRenamed("a", "c"), "v", "v", 0.0, 1.0)


def test_bucketed_join_is_exchange_free(spark):
    """Both sides bucketed on the join key -> SortMergeJoin with zero
    shuffle Exchanges; result identical to the plain join."""
    from polars_genson_spark.sources.bucketing import (
        co_located_join,
        plan_exchange_count,
        write_bucketed,
    )

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("feat_a"),
    )
    feats = spark.range(0, 500, 2).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 3).alias("feat_b"),
    )
    write_bucketed(docs, "t_docs_b", "doc_id", 8, sort_by="doc_id")
    write_bucketed(feats, "t_feats_b", "doc_id", 8, sort_by="doc_id")
    try:
        # keep AQE from folding the tiny test tables into a broadcast —
        # at real scale neither side would broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = co_located_join(spark, "t_docs_b", "t_feats_b", "doc_id")
        assert plan_exchange_count(joined) == 0, joined._jdf.queryExecution().executedPlan().toString()
        got = sorted(
            (r["doc_id"], r["feat_a"], r["feat_b"]) for r in joined.collect()
        )
        want = sorted(
            (r["doc_id"], r["feat_a"], r["feat_b"])
            for r in docs.join(feats, "doc_id").collect()
        )
        assert got == want and len(got) == 250
        # the unbucketed plan DOES shuffle: the baseline the bucketing removes
        assert plan_exchange_count(docs.join(feats, "doc_id")) > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_feats_b")


def test_curate_with_semantic_stage(spark):
    """Embeddings supplied: the semantic_dedup stage fires between
    near-dup and decontamination, anti-joining the discard ids."""
    from polars_genson_spark.pipeline import CurateConfig, curate

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .where(F.col("doc_id") < 200)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text", "source")
    )
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .where(F.col("vec_id") < 200)
    )
    cfg = CurateConfig(
        near_dup=False,
        semantic_threshold=0.3,
        semantic_clusters=4,
        chunk_size=64,
    )
    res = curate(docs, benchmark=None, cfg=cfg, embeddings=emb)
    c = res.stage_counts
    assert "semantic_dedup" in c
    assert c["semantic_dedup"] < c["exact_dedup"]  # threshold 0.3 fires
    assert c["chunks"] > 0


def test_grouped_quantiles_approx_close_to_exact(spark):
    """The sketch path tracks the exact path within its rank-error bound
    on a 10k-row group, and rejects unknown methods."""
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(10_000)], "grp string, v double"
    )
    exact = grouped_quantiles(df, "grp", "v", [0.5, 0.99]).collect()[0]
    approx = grouped_quantiles(
        df, "grp", "v", [0.5, 0.99], method="approx", accuracy=10_000
    ).collect()[0]
    for col in ("q0_5", "q0_99"):
        assert abs(float(exact[col]) - float(approx[col])) <= 10_000 * (1 / 10_000) + 1
    with pytest.raises(ValueError, match="unknown method"):
        grouped_quantiles(df, "grp", "v", [0.5], method="bogus")


def test_range_join_ntz_dst_safe(spark):
    """NTZ timestamps are compared on the wall-clock line, not through
    the session timezone: identical results under a DST-observing zone
    across the US 2026 spring-forward (code-review finding r2)."""
    from polars_genson_spark.operators.relational import range_join

    rows_l = [(1, datetime(2026, 3, 8, 1, 30, 0))]
    rows_r = [
        (10, datetime(2026, 3, 8, 1, 45, 0)),   # +900 s wall clock: in
        (11, datetime(2026, 3, 8, 3, 0, 0)),    # +5400 s wall clock: out
    ]
    left = spark.createDataFrame(rows_l, "lid long, lts timestamp_ntz")
    right = spark.createDataFrame(rows_r, "rid long, rts timestamp_ntz")

    def run():
        return {
            (r["lid"], r["rid"])
            for r in range_join(
                left, right, "lts", "rts", 0.0, 5400.0
            ).collect()
        }

    base = run()
    assert base == {(1, 10)}
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert run() == base
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_curate_learned_quality_stage(spark):
    """quality_lr_weights engages the learned filter inside the quality
    stage; a hostile weight vector drops everything, proving it gates."""
    from polars_genson_spark.pipeline import CurateConfig, curate

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .where(F.col("doc_id") < 100)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text", "source")
    )
    base = curate(docs, cfg=CurateConfig(near_dup=False))
    hostile = curate(
        docs,
        cfg=CurateConfig(
            near_dup=False,
            quality_lr_weights=[-100.0, 0.0, 0.0, 0.0],  # sigmoid ~ 0
            min_quality_prob=0.5,
        ),
    )
    assert base.stage_counts["quality"] > 0
    assert hostile.stage_counts["quality"] == 0


def test_quality_by_language_thresholds(spark):
    """Per-language gates: a CJK doc passes under its own (looser) punct
    threshold while failing the default ASCII-centric one; junk fails
    everywhere."""
    from polars_genson_spark.operators.text import quality_by_language

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog were here"),
            (2, "!!!??? ### $$$ %%% @@@"),
        ],
        "doc_id long, text string",
    )
    strict = quality_by_language(docs)
    kept = {r["doc_id"] for r in strict.collect()}
    assert kept == {1}

    # an 'und' (no stopword hits) doc with high punct_ratio: dropped by
    # default, kept when 'und' gets a permissive threshold
    cjk = spark.createDataFrame(
        [(3, "智能数据处理引擎的设计与实现细节说明文档")],
        "doc_id long, text string",
    )
    assert quality_by_language(cjk).count() == 0
    loose = quality_by_language(cjk, thresholds={"und": (1.0, 5)})
    rows = loose.collect()
    assert len(rows) == 1 and rows[0]["lang_guess"] == "und"


def test_chunk_tokens_overlap():
    """Sliding-window chunking: stride = chunk_size − overlap; every
    token covered; consecutive chunks share exactly `overlap` tokens."""
    import pytest as _pytest

    from polars_genson_spark.operators.text import chunk_tokens
    from polars_genson_spark.session import get_spark

    spark = get_spark(app_name="pgs-tests", master="local[4]",
                      shuffle_partitions=4)
    df = spark.createDataFrame(
        [(1, list(range(10)))], "doc_id long, tokens array<int>"
    )
    out = sorted(
        (r["chunk_id"], r["chunk_tokens"])
        for r in chunk_tokens(df, chunk_size=4, overlap=2).collect()
    )
    assert out == [
        (0, [0, 1, 2, 3]),
        (1, [2, 3, 4, 5]),
        (2, [4, 5, 6, 7]),
        (3, [6, 7, 8, 9]),
    ]
    # overlap=0 unchanged vs the original fixed chunking
    plain = sorted(
        (r["chunk_id"], r["chunk_tokens"])
        for r in chunk_tokens(df, chunk_size=4).collect()
    )
    assert plain == [(0, [0, 1, 2, 3]), (1, [4, 5, 6, 7]), (2, [8, 9])]
    with _pytest.raises(ValueError, match="overlap"):
        chunk_tokens(df, chunk_size=4, overlap=4)


def test_pack_sequences():
    """Greedy packing: every token preserved exactly once, no pack over
    context_len, boundaries mark segment starts, padding honoured,
    oversize chunks rejected loudly."""
    import pytest as _pytest
    from collections import Counter

    from polars_genson_spark.operators.text import pack_sequences
    from polars_genson_spark.session import get_spark

    spark = get_spark(app_name="pgs-tests", master="local[4]",
                      shuffle_partitions=4)
    rows = [
        (1, [1] * 6), (2, [2] * 5), (3, [3] * 4),
        (4, [4] * 9), (5, [5] * 2), (6, [6] * 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, chunk_tokens array<int>"
    ).coalesce(1)
    out = pack_sequences(df, context_len=10, pad_id=0).collect()
    # token multiset preserved (pads excluded)
    got = Counter()
    for r in out:
        body = [t for t in r["tokens"] if t != 0]
        got.update(body)
        assert len(r["tokens"]) == 10            # padded to context
        assert r["n_tokens"] == len(body) <= 10
        assert r["n_segments"] == len(r["boundaries"]) == len(r["source_ids"])
        assert all(isinstance(x, str) for x in r["source_ids"])
        assert r["boundaries"][0] == 0
        assert sorted(r["boundaries"]) == list(r["boundaries"])
        assert abs(r["fill_ratio"] - r["n_tokens"] / 10) < 1e-9
    want = Counter()
    for i, toks in rows:
        want.update(toks)
    assert got == want
    # packing actually shares sequences: fewer packs than chunks
    assert len(out) < len(rows)
    # oversize chunk FAILS LOUD (silent trimming would corrupt training
    # data with healthy-looking stats); null/empty rows are skipped
    big = spark.createDataFrame(
        [(9, list(range(25))), (10, None), (11, [])],
        "doc_id long, chunk_tokens array<int>",
    )
    with _pytest.raises(Exception, match="exceeds"):
        pack_sequences(big, context_len=10).collect()
    ok = pack_sequences(
        big.where("doc_id > 9"), context_len=10
    ).collect()
    assert ok == []  # null + empty rows produce nothing


def test_deterministic_shuffle_layout_independent(spark):
    """Same seed → same global order regardless of input partitioning;
    different seed → different permutation; global order is total
    ACROSS output partitions (range exchange, no single-partition
    window)."""
    from pyspark.sql import functions as F

    from polars_genson_spark.operators.sample import (
        deterministic_shuffle,
        shuffle_key,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id")

    a = deterministic_shuffle(docs.repartition(7), seed=3, num_partitions=4)
    b = deterministic_shuffle(docs.coalesce(1), seed=3, num_partitions=4)
    ids_a = [r["doc_id"] for r in a.collect()]
    ids_b = [r["doc_id"] for r in b.collect()]
    # collect() preserves partition index order + in-partition order, so
    # equal lists prove the same TOTAL order from both layouts
    assert ids_a == ids_b and len(ids_a) == docs.count()

    c = [r["doc_id"] for r in deterministic_shuffle(docs, seed=4).collect()]
    assert c != ids_a  # a different epoch seed permutes differently

    # total order: the collected sequence is sorted by the md5 key
    keys = {
        r["doc_id"]: r["k"]
        for r in docs.select(
            "doc_id", shuffle_key("doc_id", 3).alias("k")
        ).collect()
    }
    seq = [keys[i] for i in ids_a]
    assert seq == sorted(seq)


def test_split_corpus_properties(spark):
    """Disjoint + exhaustive + stable across partitioning; proportions
    near the weights; rejects bad weights."""
    import pytest as _pytest

    from polars_genson_spark.operators.sample import split_corpus

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id")
    w = {"train": 8, "val": 1, "test": 1}
    out = split_corpus(docs, w, seed=7)
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    n = sum(counts.values())
    assert n == docs.count()  # exhaustive, one split per row
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / n - 0.8) < 0.05
    assert abs(counts["val"] / n - 0.1) < 0.04
    assert abs(counts["test"] / n - 0.1) < 0.04

    # stability: identical assignment from a different layout
    again = {
        r["doc_id"]: r["split"]
        for r in split_corpus(docs.repartition(13), w, seed=7).collect()
    }
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again

    with _pytest.raises(ValueError):
        split_corpus(docs, {"train": 0, "val": 1})


def test_curate_split_pack_shuffle_stages(spark):
    """The optional tail stages compose: doc-level split carried by
    every chunk (no doc straddles splits), per-split packing (no pack
    mixes split material, pack_ids stay globally unique), and the epoch
    shuffle only reorders — same rows, layout-independent order."""
    from polars_genson_spark.pipeline import CurateConfig, curate

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .where(F.col("doc_id") < 200)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text", "source")
    )
    w = {"train": 8, "val": 1, "test": 1}

    # chunks variant: split column present, doc-level consistent
    res = curate(
        docs,
        cfg=CurateConfig(
            near_dup=False, chunk_size=64,
            split_weights=w, split_seed=7, shuffle_seed=11,
        ),
    )
    rows = res.chunks.collect()
    assert rows and "split" in res.chunks.columns
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_doc.values())

    # shuffle is a pure reorder with a layout-independent total order
    res2 = curate(
        docs.repartition(17),
        cfg=CurateConfig(
            near_dup=False, chunk_size=64,
            split_weights=w, split_seed=7, shuffle_seed=11,
        ),
    )
    key = lambda r: (r["doc_id"], r["chunk_id"])
    assert [key(r) for r in res2.chunks.collect()] == [key(r) for r in rows]

    # packed variant: per-split packing, source docs never cross splits
    from polars_genson_spark.operators.sample import split_corpus

    packed = curate(
        docs,
        cfg=CurateConfig(
            near_dup=False, chunk_size=64,
            pack_context_len=256, pack_pad_id=0,
            split_weights=w, split_seed=7,
        ),
    )
    prow = packed.chunks.collect()
    assert packed.stage_counts["packed"] == len(prow) > 0
    assert len({r["pack_id"] for r in prow}) == len(prow)  # globally unique
    doc_split = {
        r["doc_id"]: r["split"]
        for r in split_corpus(docs, w, seed=7).collect()
    }
    for r in prow:
        assert r["pack_id"].startswith(r["split"] + ":")
        for sid in r["source_ids"]:
            assert doc_split[int(sid)] == r["split"]


def test_split_corpus_null_and_empty_edge_cases(spark):
    """Explicit {} weights raise (only None opts into the 98/1/1
    default); NULL ids get a NULL md5 key (concat null-propagates like
    SQL ||) and fall through every CASE threshold to the LAST sorted
    split — matching what the DuckDB oracle's CASE computes."""
    from polars_genson_spark.operators.sample import (
        shuffle_key,
        split_corpus,
    )

    df = spark.createDataFrame(
        [(1, "x"), (None, "y")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="positive"):
        split_corpus(df, {})

    out = split_corpus(df, {"train": 8, "val": 1, "test": 1}, seed=7)
    rows = {r["text"]: r["split"] for r in out.collect()}
    assert rows["y"] == "val"  # last sorted split name
    keys = {
        r["text"]: r["k"]
        for r in df.select(
            "text", shuffle_key("doc_id", 7).alias("k")
        ).collect()
    }
    assert keys["y"] is None and keys["x"] is not None


def test_review_fixes_sampling_and_pipeline(spark):
    """Round-4 second review pass: (a) temperature_rates keeps a source
    whose exact fraction is below 1/scale at its reciprocal rate instead
    of silently excluding it; (b) stratified_sample rejects zero/negative
    denominators loudly; (c) whitespace-only docs produce NO phantom
    chunk; (d) curate works on corpora WITHOUT a source column when
    sampling is off; (e) reserved quality column names fail loud."""
    from polars_genson_spark.operators.sample import (
        stratified_sample,
        temperature_rates,
    )
    from polars_genson_spark.pipeline import CurateConfig, curate

    # (a) head source owes ~all of the target at frac 1e-7 < 1/scale
    rates = temperature_rates(
        {"head": 10**12, "mid": 10**9}, target_rows=10**5, temperature=1.0
    )
    num, den = rates["head"]
    assert num == 1 and den > 10**6  # kept, at ~1-in-1/frac
    assert rates["mid"][0] >= 0

    # (b) fail loud on a zero denominator
    df = spark.createDataFrame(
        [(1, "web"), (2, "web")], "doc_id long, source string"
    )
    with pytest.raises(ValueError, match="denom"):
        stratified_sample(df, rates={"web": (1, 0)})

    # (c)+(d) sourceless corpus with a whitespace-only doc: no crash, no
    # phantom 1-token chunk (the doc passes the length gate at 10 chars)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog here"),
         (2, " " * 10)],
        "doc_id long, text string",
    )
    res = curate(docs, cfg=CurateConfig(near_dup=False, chunk_size=8))
    assert res.stage_counts["quality"] == 2  # both pass the gate
    assert {r["doc_id"] for r in res.chunks.collect()} == {1}

    # (e) reserved quality feature name collides -> loud error
    bad = docs.withColumn("quality_score", F.lit(0.99))
    with pytest.raises(ValueError, match="reserves"):
        curate(bad, cfg=CurateConfig(near_dup=False))


def test_range_count_matches_naive_inequality(spark):
    """range_count (r06's window-sum plan) must equal the exact
    inequality join's per-left counts for every coarse width, including
    widths not aligned to the window, negative lowers, and ties."""
    from polars_genson_spark.operators.relational import range_count

    import random

    rng = random.Random(11)
    vals = [rng.uniform(0, 50.0) for _ in range(60)]
    vals += vals[:10]  # duplicated values: exercise RANGE-frame peers
    lrows = [(i, v) for i, v in enumerate(vals)]
    rrows = [(1000 + i, rng.uniform(0, 50.0)) for i in range(90)]
    rrows += [(2000 + i, v) for i, v in enumerate(vals[:15])]  # exact ties
    left = spark.createDataFrame(lrows, "lid long, lv double")
    right = spark.createDataFrame(rrows, "rid long, rv double")

    def naive(lo, hi):
        rows = left.join(
            right,
            (F.col("rv") >= F.col("lv") + lo)
            & (F.col("rv") < F.col("lv") + hi),
        ).groupBy("lid").count().collect()
        return {r["lid"]: r["count"] for r in rows}

    for lo, hi, w in [(0.0, 5.0, 5.0), (-3.0, 7.0, 2.5), (0.0, 5.0, 11.0),
                      (2.0, 4.0, None), (0.0, 300.0, 300.0)]:
        exact = naive(lo, hi)
        got = {
            r["lid"]: r["n_in_range"]
            for r in range_count(
                left, right, "lv", "rv", lo, hi, coarse_width=w
            ).collect()
        }
        # range_count returns zero-count rows too; the join drops them
        assert {k: v for k, v in got.items() if v > 0} == exact, (lo, hi, w)
        assert set(got) == {r["lid"] for r in left.collect()}


def test_range_count_null_ts_and_errors(spark):
    from polars_genson_spark.operators.relational import range_count

    left = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 3.0)], "lid long, lv double"
    )
    right = spark.createDataFrame(
        [(10, 1.5), (11, None)], "rid long, rv double"
    )
    out = {
        r["lid"]: r["n_in_range"]
        for r in range_count(left, right, "lv", "rv", 0.0, 2.0).collect()
    }
    # NULL left ts -> no output row (inequality never matches);
    # NULL right ts counts nowhere
    assert out == {0: 1, 2: 0}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        range_count(left, right, "lv", "rv", 5.0, 5.0)
    with _pytest.raises(ValueError):
        range_count(
            left.withColumnRenamed("lid", "_x"), right, "lv", "rv", 0.0, 1.0
        )


def test_shingle_hash_matching_equivalence(spark):
    """The numeric n-gram hash join keys must induce the same match
    relation as the legacy string shingles: contaminated_docs output
    equals a string-shingle reimplementation on tricky docs (short docs,
    empty text, NULL text, whitespace variants, exact ties)."""
    from polars_genson_spark.operators.decontaminate import contaminated_docs
    from polars_genson_spark.operators.dedup import with_shingles

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a b"),                      # < n words: whole-text fallback
        (2, ""),                         # empty text fallback
        (3, None),                       # NULL text fallback
        (4, "the  quick\tbrown fox"),    # whitespace collapse
        (5, "quick brown fox jumps over nothing"),
        (6, "a b"),                      # fallback-fallback match with 1
        (7, "totally disjoint words here entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    benchmark = df.where(F.col("doc_id").isin(0, 1, 2, 3))
    corpus = df.where(~F.col("doc_id").isin(0, 1, 2, 3))

    def legacy(corpus, benchmark, n=3, min_shared=1):
        bench = (
            with_shingles(benchmark, "text", n)
            .select(F.explode("shingles").alias("s"))
            .select(F.xxhash64("s").alias("_sh"))
            .distinct()
        )
        corp = (
            with_shingles(corpus, "text", n)
            .select(F.col("doc_id"), F.explode("shingles").alias("s"))
            .select("doc_id", F.xxhash64("s").alias("_sh"))
        )
        return (
            corp.join(F.broadcast(bench), "_sh")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared)
        )

    for n, ms in [(3, 1), (3, 2), (2, 1)]:
        want = sorted(
            (r["doc_id"], r["n_shared"])
            for r in legacy(corpus, benchmark, n, ms).collect()
        )
        got = sorted(
            (r["doc_id"], r["n_shared"])
            for r in contaminated_docs(
                corpus, benchmark, n=n, min_shared=ms
            ).collect()
        )
        assert got == want, (n, ms)
    # sanity: the tricky fallbacks actually matched something
    assert any(d == 6 for d, _ in got) or any(d == 4 for d, _ in got)


def test_minhash_bucket_cap_default_finite_and_recall_preserved(spark):
    """r06: CurateConfig.minhash_bucket_max defaults to a finite cap (a
    boilerplate band bucket at corpus scale is quadratic otherwise), and
    the default cap must not change which planted near-dupes the
    candidate stage finds at bench scale — capped vs uncapped candidate
    sets are identical there because no honest bucket approaches the
    cap."""
    from polars_genson_spark.pipeline import CurateConfig
    from polars_genson_spark.operators.dedup import minhash_candidates

    assert CurateConfig().minhash_bucket_max is not None

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .where(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(
            docs, num_perm=32, bands=16, min_jaccard=0.0,
            bucket_max=CurateConfig().minhash_bucket_max,
        ).select("id_a", "id_b").collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(
            docs, num_perm=32, bands=16, min_jaccard=0.0, bucket_max=None
        ).select("id_a", "id_b").collect()
    }
    assert capped == uncapped and len(capped) > 0
    # a tiny cap DOES prune (the mechanism actually engages)
    pruned = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(
            docs, num_perm=32, bands=16, min_jaccard=0.0, bucket_max=1
        ).select("id_a", "id_b").collect()
    }
    assert pruned <= uncapped
