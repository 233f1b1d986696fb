"""Checkpoint/resume manifest, salted repartition, and streaming
validation."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from conftest import REPO_ROOT

from polars_genson_spark import checkpoint as ckpt
from polars_genson_spark.config import ValidationConfig
from polars_genson_spark.jobs import repartition_salted, run_validation
from polars_genson_spark.sources.corpus import (
    allowed_sources_df,
    generate_corpus,
)
from polars_genson_spark.streaming.validate_stream import (
    run_streaming_validation,
    stream_consistency_violations,
    stream_source_stats,
    read_corpus_stream,
)


def test_fingerprints_deterministic_and_sensitive(spark):
    df1 = generate_corpus(spark, 5000, seed=1)
    df2 = generate_corpus(spark, 5000, seed=1)
    df3 = generate_corpus(spark, 5000, seed=2)
    f1 = ckpt.partition_fingerprints(df1)
    assert f1 == ckpt.partition_fingerprints(df2)
    assert f1 != ckpt.partition_fingerprints(df3)


def test_run_validation_resume_skips_unchanged(spark, tmp_path):
    run_dir = str(tmp_path / "run")
    corpus = generate_corpus(spark, 8000, seed=3).persist()
    allowed = allowed_sources_df(spark)

    r1 = run_validation(spark, corpus, allowed, run_dir, write_outputs=False)
    assert r1["skipped"] == []
    assert len(r1["validated"]) > 5

    # identical input → everything skipped, metrics carried forward
    r2 = run_validation(spark, corpus, allowed, run_dir, write_outputs=False)
    assert r2["validated"] == []
    assert set(r2["skipped"]) == set(r1["validated"])
    assert r2["partitions"].keys() == r1["partitions"].keys()

    # perturb one source → only it revalidates
    bumped = corpus.withColumn(
        "n_tok",
        F.when(
            F.col("source") == "books", F.col("n_tok") + 1
        ).otherwise(F.col("n_tok")),
    )
    r3 = run_validation(spark, bumped, allowed, run_dir, write_outputs=False)
    assert r3["validated"] == ["books"]
    corpus.unpersist()

    manifest = ckpt.load_manifest(run_dir)
    assert manifest["version"] == 1
    assert "books" in manifest["partitions"]


def test_repartition_salted_spreads_heavy_source(spark):
    corpus = generate_corpus(spark, 20000, seed=4)
    cfg = ValidationConfig(salt_buckets=8)
    out = repartition_salted(corpus, cfg, num_partitions=16)
    pid_counts = (
        out.where(F.col("source") == "web-01")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    # the ~50% heavy source must span several partitions, not one straggler
    assert len(pid_counts) >= 4
    biggest = max(r["count"] for r in pid_counts)
    total = sum(r["count"] for r in pid_counts)
    assert biggest < 0.5 * total


def test_streaming_validation(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    ckpt_dir = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    # land two file batches
    generate_corpus(spark, 3000, seed=5).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    generate_corpus(spark, 3000, seed=6).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    seen = {"rows": 0, "batches": 0, "violations": 0}

    def on_batch(batch_df, batch_id):
        seen["batches"] += 1
        seen["rows"] += batch_df.count()
        seen["violations"] += stream_consistency_violations(batch_df).count()

    q = run_streaming_validation(spark, in_dir, ckpt_dir, on_batch)
    q.awaitTermination(120)
    assert seen["rows"] == 6000
    assert seen["batches"] >= 1

    # streaming aggregation plan is valid (update-mode memory sink)
    stats = stream_source_stats(read_corpus_stream(spark, in_dir))
    q2 = (
        stats.writeStream.outputMode("complete")
        .format("memory")
        .queryName("src_stats")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = spark.sql("select * from src_stats").collect()
    assert sum(r["n_rows"] for r in rows) == 6000


def test_stream_running_verdicts_stateful(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: running per-source
    verdicts accumulate across micro-batches."""
    from polars_genson_spark.streaming.validate_stream import (
        read_corpus_stream,
        stream_running_verdicts,
    )

    in_dir = str(tmp_path / "in_state")
    os.makedirs(in_dir, exist_ok=True)
    generate_corpus(spark, 2000, seed=11).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    out = stream_running_verdicts(read_corpus_stream(spark, in_dir))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("run_verdicts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["source"]: r for r in spark.sql("SELECT * FROM run_verdicts").collect()
    }
    assert sum(r["rows_total"] for r in rows.values()) == 2000
    # every source emitted a verdict with batch count >= 1
    assert all(r["batches"] >= 1 for r in rows.values())
    # planted mismatches/nulls exist somewhere in 2000 rows → some source
    # fails; clean sources pass
    assert all(
        r["passed"] == (r["violations_total"] == 0) for r in rows.values()
    )


def test_stream_windowed_stats_watermark(spark, tmp_path):
    """Event-time windowed stats with watermark compile and run on a
    timestamped corpus stream."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from polars_genson_spark.streaming.validate_stream import (
        CORPUS_SCHEMA,
        stream_windowed_stats,
    )

    in_dir = str(tmp_path / "in_ts")
    os.makedirs(in_dir, exist_ok=True)
    base = generate_corpus(spark, 1000, seed=12)
    with_ts = base.withColumn(
        "ingest_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + (F.xxhash64("doc_id") % 300).cast("int").cast("string")
        .cast("interval second"),
    )
    with_ts.coalesce(1).write.mode("append").parquet(in_dir)

    ts_schema = T.StructType(
        CORPUS_SCHEMA.fields
        + [T.StructField("ingest_ts", T.TimestampType(), True)]
    )
    stream = (
        spark.readStream.schema(ts_schema).parquet(in_dir)
    )
    agg = stream_windowed_stats(stream, "ingest_ts", "1 minute", "2 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_stats").collect()
    # with a 5-minute event spread over 1-minute windows, multiple windows
    # close under the watermark and emit
    assert len(rows) > 0
    assert sum(r["n_rows"] for r in rows) <= 1000


def test_stream_drop_duplicates(spark, tmp_path):
    """Watermark-bounded streaming dedup: duplicate doc_ids within the
    watermark horizon collapse to the first arrival."""
    from polars_genson_spark.streaming.validate_stream import (
        read_corpus_stream,
        stream_drop_duplicates,
    )

    in_dir = str(tmp_path / "dedup_in")
    os.makedirs(in_dir, exist_ok=True)
    corpus = generate_corpus(spark, 4000, seed=9)
    # plant heavy duplication: union the corpus with itself
    corpus.unionByName(corpus).coalesce(1).write.mode("append").parquet(in_dir)

    stream = read_corpus_stream(spark, in_dir).withColumn(
        "ingest_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    deduped = stream_drop_duplicates(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "select count(*) as n, count(distinct doc_id) as d from dedup_out"
    ).collect()[0]
    distinct_in = corpus.select("doc_id").distinct().count()
    assert out["n"] == out["d"] == distinct_in


def test_stream_sessionize_gap_semantics(spark, tmp_path):
    """Native session_window sessions match the batch sessionize
    operator's grouping on a replayed stream: same (user, n_events)
    multiset, session bounds span the same events."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from polars_genson_spark.streaming.validate_stream import (
        stream_sessionize,
    )

    in_dir = str(tmp_path / "sess_in")
    os.makedirs(in_dir, exist_ok=True)
    rows = [
        (1, "2026-01-01 00:00:00"),
        (1, "2026-01-01 00:10:00"),
        (1, "2026-01-01 00:50:00"),   # 40 min gap -> new session
        (2, "2026-01-01 00:05:00"),
        # watermark flusher: pushes event time far enough that every
        # session above is closed and emits in append mode; its own
        # still-open session stays in state (asserted absent below)
        (99, "2026-01-01 03:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    df.coalesce(1).write.mode("append").parquet(in_dir)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(in_dir)
    sess = stream_sessionize(stream, gap="30 minutes", watermark="0 seconds")
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    )
    assert got == [(1, 1), (1, 2), (2, 1)]  # user 99's session still open


def test_stream_validate_cli_resumes(tmp_path):
    """jobs stream-validate processes every file once; a rerun with the
    same checkpoint validates nothing new."""
    import json
    import subprocess
    import sys

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "verdicts")
    cp = str(tmp_path / "cp")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    gen = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "generate",
         "--output", corpus, "--rows", "2000", "--seed", "5"],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env,
    )
    assert gen.returncode == 0, gen.stderr[-2000:]
    r1 = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "stream-validate",
         "--input", corpus, "--output", out, "--checkpoint", cp],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    b1 = json.loads(r1.stdout.strip().splitlines()[-1])["batches"]
    assert len(b1) > 0
    r2 = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "stream-validate",
         "--input", corpus, "--output", out, "--checkpoint", cp],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env,
    )
    assert json.loads(r2.stdout.strip().splitlines()[-1])["batches"] == []


def test_compact_cli_reduces_file_count(spark, tmp_path):
    """jobs compact merges a many-small-files dataset into few files and
    preserves every row."""
    import json
    import subprocess
    import sys

    src_dir = str(tmp_path / "small")
    out_dir = str(tmp_path / "compacted")
    corpus = generate_corpus(spark, 5000, seed=21)
    corpus.repartition(40).write.mode("overwrite").parquet(src_dir)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "compact",
         "--input", src_dir, "--output", out_dir, "--target-mb", "512",
         "--sort-by", "doc_id"],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats["files_in"] >= 40
    assert stats["files_out"] < stats["files_in"] / 10
    assert spark.read.parquet(out_dir).count() == 5000


def test_resume_invalidated_by_config_change(spark, tmp_path):
    """A rerun with DIFFERENT check config must revalidate everything —
    fingerprints hash data, not rules (code-review finding r2-3)."""
    run_dir = str(tmp_path / "cfgrun")
    corpus = generate_corpus(spark, 5000, seed=13).persist()
    allowed = allowed_sources_df(spark)

    r1 = run_validation(spark, corpus, allowed, run_dir, write_outputs=False)
    assert r1["skipped"] == []
    # same config → all skipped
    r2 = run_validation(spark, corpus, allowed, run_dir, write_outputs=False)
    assert r2["validated"] == []
    # stricter config → full revalidation, and the cap actually applies
    strict = ValidationConfig(max_seq_len=64)
    r3 = run_validation(
        spark, corpus, allowed, run_dir, cfg=strict, write_outputs=False
    )
    assert r3["skipped"] == []
    assert len(r3["validated"]) > 5
    # rerun under the SAME strict config skips again
    r4 = run_validation(
        spark, corpus, allowed, run_dir, cfg=strict, write_outputs=False
    )
    assert r4["validated"] == []
    corpus.unpersist()


def test_stream_psi_drift_stateful(spark, tmp_path):
    """Streaming PSI monitor: a stream drawn from the reference
    distribution stays ~0; a shifted stream (all lengths in one far
    bucket) trips the drifted flag."""
    from polars_genson_spark.config import ValidationConfig
    from polars_genson_spark.streaming.validate_stream import (
        read_corpus_stream,
        stream_psi_drift,
    )

    cfg = ValidationConfig(token_hist_bucket=64)
    in_dir = str(tmp_path / "in_psi")
    os.makedirs(in_dir, exist_ok=True)
    from pyspark.sql import functions as F

    # one source only: the synthetic corpus deliberately plants a DRIFTED
    # source, so a pooled reference vs per-source comparison would flag
    # real drift — this test wants the null case first
    corpus = generate_corpus(spark, 8000, seed=23).where(
        F.col("source") == "web-01"
    )
    corpus.coalesce(1).write.mode("append").parquet(in_dir)

    # reference histogram FROM the same distribution → psi ≈ 0 for the
    # matching stream
    ref_rows = (
        corpus.groupBy((F.col("n_tok") / 64).cast("int").alias("b"))
        .count()
        .collect()
    )
    total = sum(r["count"] for r in ref_rows)
    ref = {int(r["b"]): r["count"] / total for r in ref_rows}

    out = stream_psi_drift(
        read_corpus_stream(spark, in_dir), ref, cfg, psi_threshold=0.2
    )
    q = (
        out.writeStream.outputMode("update").format("memory")
        .queryName("psi_ok").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM psi_ok").collect()
    assert rows and sum(r["rows_total"] for r in rows) == corpus.count()
    assert all(not r["drifted"] for r in rows)
    assert all(r["psi"] < 0.05 for r in rows)

    # shifted stream: constant length far outside the reference mass
    in2 = str(tmp_path / "in_psi_shift")
    os.makedirs(in2, exist_ok=True)
    corpus.withColumn("n_tok", F.lit(100_000)).coalesce(1).write.mode(
        "append"
    ).parquet(in2)
    out2 = stream_psi_drift(
        read_corpus_stream(spark, in2), ref, cfg, psi_threshold=0.2
    )
    q2 = (
        out2.writeStream.outputMode("update").format("memory")
        .queryName("psi_bad").trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    bad = spark.sql("SELECT * FROM psi_bad").collect()
    assert bad and all(r["drifted"] for r in bad)


def test_tokenize_cli_then_validate_autovocab(tmp_path):
    """jobs tokenize writes the validate-ready table + _tokenizer.json
    sidecar; a vocab-size-less validate run picks the sidecar bound and
    finds zero consistency violations (ids in range by construction)."""
    import json
    import subprocess
    import sys

    table = str(tmp_path / "tok")
    run = str(tmp_path / "run")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    t = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "tokenize",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", table, "--n-merges", "60"],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env,
    )
    assert t.returncode == 0, t.stderr[-2000:]
    info = json.loads(t.stdout.strip().splitlines()[-1])
    assert info["rows"] == 500 and info["n_merges"] == 60
    sidecar = json.load(open(os.path.join(table, "_tokenizer.json")))
    assert sidecar["vocab_size"] == info["vocab_size"] > 60

    v = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "validate",
         "--input", table, "--output", run],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env,
    )
    # planted-free real text + self-trained vocab: consistency must be
    # clean; referential fails by design vs the default allowed dim, so
    # exit code is 1 (not a crash) — then check the manifest
    assert v.returncode in (0, 1), v.stderr[-2000:]
    manifest = json.load(open(os.path.join(run, "manifest.json")))
    assert all(
        p["consistency_violations"] == 0
        for p in manifest["partitions"].values()
    )
    assert all(
        p["null_tokens"] == 0 for p in manifest["partitions"].values()
    )


def test_curate_packs_then_validate_packs(tmp_path):
    """Closing the loop: curate (split + pack) → validate --packs. The
    pack adapter strips padding (n_tok consistency sees real content),
    maps split→source, and self-derives the allowed dim — a clean run
    must be ALL GREEN, including no drift between train/val/test (a
    hash split is unbiased by construction; drift here = split bias)."""
    import json
    import subprocess
    import sys

    packs = str(tmp_path / "packs")
    run = str(tmp_path / "run")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    c = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "curate",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", packs, "--chunk-size", "64", "--no-near-dup",
         "--pack-context-len", "256", "--pack-pad-id", "0",
         "--split", "train:8,val:1,test:1", "--shuffle-seed", "5"],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env,
    )
    assert c.returncode == 0, c.stderr[-2000:]
    summary = json.loads(c.stdout.strip().splitlines()[-1])
    assert summary["packed"] > 0

    v = subprocess.run(
        [sys.executable, "-m", "polars_genson_spark.jobs", "validate",
         "--input", packs, "--output", run, "--packs"],
        capture_output=True, text=True, cwd=REPO_ROOT, env=env,
    )
    assert v.returncode == 0, (v.stdout[-500:], v.stderr[-2000:])
    out = json.loads(v.stdout.strip().splitlines()[-1])
    assert out["all_passed"] is True
    assert sorted(out["validated"]) == ["test", "train", "val"]
    manifest = json.load(open(os.path.join(run, "manifest.json")))
    for p in manifest["partitions"].values():
        assert p["consistency_violations"] == 0
        assert p["referential_violations"] == 0
