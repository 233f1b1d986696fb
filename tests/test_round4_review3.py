"""Round-4 third review pass: validation-core findings.

Covers: NULL-source verdict join-back, full 2xB drift chi-square,
streaming running-verdict parity with the shared consistency chain,
default streaming validation actually validating, perf-knob-free config
fingerprints, bounded violation-example writes, null-rate + consistency
toggles, and null-n_tok PSI handling.
"""

from __future__ import annotations

import pytest

from polars_genson_spark.config import ValidationConfig
from polars_genson_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        app_name="pgs-tests-r4r3", master="local[4]", shuffle_partitions=4
    )


CORPUS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _corpus_with_null_source(spark):
    rows = [
        ("a", [1, 2], 2, "web"),
        ("b", [3], 1, "web"),
        # NULL-source partition with a REAL violation (n_tok mismatch)
        ("c", [1, 2, 3], 5, None),
        ("d", [4], 1, None),
    ]
    return spark.createDataFrame(rows, CORPUS_SCHEMA)


def test_null_source_partition_fails_not_passes(spark):
    """A NULL-source group's violation counts must join back to its
    verdict row: the old equi-join dropped them and reported passed."""
    from polars_genson_spark.operators.verdicts import (
        finalise_summary,
        validate_corpus,
    )

    df = _corpus_with_null_source(spark)
    allowed = spark.createDataFrame([("web",)], "source string")
    report = validate_corpus(df, allowed, ValidationConfig(check_drift=False))
    rows = {r["source"]: r.asDict() for r in report.verdicts.collect()}
    assert set(rows) == {"web", None}
    nul = rows[None]
    assert nul["consistency_violations"] == 1  # doc c: n_tok mismatch
    assert nul["referential_violations"] == 2  # NULL source not allowed
    assert nul["passed"] is False
    assert rows["web"]["passed"] is True
    # summary sort must not TypeError on the mixed None/str keys
    summary = finalise_summary(report)
    assert summary["all_passed"] is False
    assert summary["failed_partitions"] == [None]
    report.release()


def test_plan_resume_null_source_key(spark):
    """Fingerprint/resume handles a NULL partition key without TypeError
    and without conflating it with the string 'None'."""
    from polars_genson_spark import checkpoint as ckpt

    df = _corpus_with_null_source(spark)
    fps = ckpt.partition_fingerprints(df)
    assert set(fps) == {"web", None}
    todo, skip = ckpt.plan_resume(fps, None)
    assert set(todo) == {"web", None} and skip == []
    manifest = ckpt.build_manifest(fps, {str(k): {"passed": True} for k in fps})
    todo2, skip2 = ckpt.plan_resume(fps, manifest)
    assert todo2 == [] and set(skip2) == {"web", None}


def test_chi2_detects_dominant_source_drift():
    """Full 2xB homogeneity statistic: a 99%-dominant source with a
    shifted distribution must drift — the source-cells-only statistic
    stayed near zero because e_s ~= o_s when the source IS the pool."""
    from polars_genson_spark.operators.checks import drift_from_histogram

    rows = []
    # dominant source A: mass on buckets 0-1; small source B: buckets 8-9
    for b, c in [(0, 49_500), (1, 49_500)]:
        rows.append({"source": "A", "bucket": b, "cnt": c})
    for b, c in [(8, 500), (9, 500)]:
        rows.append({"source": "B", "bucket": b, "cnt": c})
    out = {d["source"]: d for d in drift_from_histogram(rows)}
    # A's verdict vs the rest (B): completely disjoint distributions
    assert out["A"]["ks"] == 1.0
    assert out["A"]["drifted"] is True
    assert out["A"]["chi2"] > 1000  # rest-row cells carry the deviation
    # None-source key sorts without TypeError
    rows.append({"source": None, "bucket": 0, "cnt": 10})
    out2 = drift_from_histogram(rows)
    assert {d["source"] for d in out2} == {"A", "B", None}


def test_stream_running_verdicts_counts_token_range(spark, tmp_path):
    """The stateful running verdict uses the SHARED consistency chain:
    out-of-range token ids count as violations (the pandas re-derivation
    missed them — batch failed, stream passed, on the same rows)."""
    from polars_genson_spark.streaming.validate_stream import (
        CORPUS_SCHEMA as SS,
        stream_running_verdicts,
    )

    rows = [
        ("a", [1, 2], 2, "web"),
        ("b", [1, 99_999_999], 2, "web"),  # out of vocab range
        ("c", [1], 1, "wiki"),
    ]
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    spark.createDataFrame(rows, CORPUS_SCHEMA).write.parquet(
        str(src_dir / "part1")
    )
    stream = (
        spark.readStream.schema(SS)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "part1"))
    )
    q = (
        stream_running_verdicts(stream)
        .writeStream.format("memory")
        .queryName("rv_r4r3")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        r["source"]: r.asDict()
        for r in spark.sql("select * from rv_r4r3").collect()
    }
    assert out["web"]["violations_total"] == 1
    assert out["web"]["passed"] is False
    assert out["wiki"]["violations_total"] == 0
    assert out["wiki"]["passed"] is True


def test_run_streaming_validation_default_path_validates(spark, tmp_path):
    """With on_batch=None the foreachBatch loop must itself run the
    narrow checks (consistency + referential vs `allowed`) and persist
    per-batch verdicts — not silently commit the checkpoint unchecked."""
    from polars_genson_spark.streaming.validate_stream import (
        run_streaming_validation,
    )

    rows = [
        ("a", [1, 2], 2, "web"),
        ("b", [1], 2, "web"),      # n_tok mismatch
        ("c", [1], 1, "shadow"),   # source not allowed
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(rows, CORPUS_SCHEMA).write.parquet(
        str(in_dir), mode="overwrite"
    )
    allowed = spark.createDataFrame([("web",), ("wiki",)], "source string")
    ck = str(tmp_path / "ck")
    q = run_streaming_validation(spark, str(in_dir), ck, allowed=allowed)
    q.awaitTermination(120)
    verdicts = spark.read.parquet(ck + "/batch_verdicts")
    out = {r["source"]: r.asDict() for r in verdicts.collect()}
    assert out["web"]["consistency_violations"] == 1
    assert out["web"]["passed"] is False
    assert out["shadow"]["referential_violations"] == 1
    assert out["shadow"]["passed"] is False


def test_config_fingerprint_ignores_perf_knobs():
    """Tuning knobs (salting, example cap) must not invalidate resume
    skips; rule knobs must."""
    from polars_genson_spark.checkpoint import config_fingerprint

    base = config_fingerprint(ValidationConfig())
    assert base == config_fingerprint(
        ValidationConfig(salt_buckets=99, max_violation_examples=5)
    )
    assert base != config_fingerprint(ValidationConfig(max_seq_len=64))
    assert base != config_fingerprint(ValidationConfig(vocab_size=1000))
    assert base != config_fingerprint(ValidationConfig(max_null_rate=0.5))


def test_violation_write_bounded_counts_exact(spark, tmp_path):
    """max_violation_examples bounds the parquet EXAMPLES per
    (source, check) while verdict counts stay exact."""
    from polars_genson_spark.jobs import run_validation

    rows = [(f"d{i}", [1], 2, "web") for i in range(50)]  # all mismatch
    df = spark.createDataFrame(rows, CORPUS_SCHEMA)
    cfg = ValidationConfig(check_drift=False, max_violation_examples=5)
    res = run_validation(
        spark, df, None, str(tmp_path / "run"), cfg=cfg, resume=False
    )
    assert res["partitions"]["web"]["consistency_violations"] == 50
    written = spark.read.parquet(str(tmp_path / "run" / "violations.parquet"))
    assert written.count() == 5


def test_consistency_toggle_and_null_rate(spark):
    """check_consistency=False disables the row-level scan, but the
    stats-side max_null_rate budget still fails a null-ridden partition."""
    from polars_genson_spark.operators.verdicts import validate_corpus

    rows = [
        (None, [1, 2], 99, "web"),  # null doc_id AND n_tok mismatch
        ("b", [1], 1, "web"),
        ("c", [1], 1, "wiki"),
    ]
    df = spark.createDataFrame(rows, CORPUS_SCHEMA)
    cfg = ValidationConfig(check_consistency=False, check_drift=False)
    report = validate_corpus(df, None, cfg, exact_duplicates=False)
    rows_out = {r["source"]: r.asDict() for r in report.verdicts.collect()}
    assert "consistency_violations" not in rows_out["web"]
    assert rows_out["web"]["passed"] is False  # null_doc_id > 0% budget
    assert rows_out["wiki"]["passed"] is True
    assert report.violations.count() == 0  # no row-level checks ran
    # a relaxed budget lets the partition pass
    cfg2 = ValidationConfig(
        check_consistency=False, check_drift=False, max_null_rate=0.6
    )
    report2 = validate_corpus(df, None, cfg2, exact_duplicates=False)
    out2 = {r["source"]: r["passed"] for r in report2.verdicts.collect()}
    assert out2 == {"web": True, "wiki": True}
    report.release()
    report2.release()


def test_stream_psi_null_n_tok_starves_not_inflates(spark, tmp_path):
    """Null n_tok counts toward the total only: bucket 0 (a real
    reference bucket) must not absorb the null mass. With half the rows
    null and the other half matching the reference exactly, p(known
    buckets) halves uniformly — PSI rises — instead of bucket 0 doubling."""
    from polars_genson_spark.streaming.validate_stream import (
        CORPUS_SCHEMA as SS,
        stream_psi_drift,
    )

    cfg = ValidationConfig(token_hist_bucket=4)
    # reference: half the mass at bucket 0 (n_tok 0-3), half at bucket 1
    ref = {0: 0.5, 1: 0.5}
    rows = (
        [(f"a{i}", [1], 2, "web") for i in range(10)]      # bucket 0
        + [(f"b{i}", [1], 6, "web") for i in range(10)]    # bucket 1
        + [(f"n{i}", [1], None, "web") for i in range(20)]  # null n_tok
    )
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    spark.createDataFrame(rows, CORPUS_SCHEMA).write.parquet(
        str(src_dir / "p")
    )
    stream = spark.readStream.schema(SS).parquet(str(src_dir / "p"))
    q = (
        stream_psi_drift(stream, ref, cfg)
        .writeStream.format("memory")
        .queryName("psi_r4r3")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        r["source"]: r.asDict()
        for r in spark.sql("select * from psi_r4r3").collect()
    }
    assert out["web"]["rows_total"] == 40
    # p = 0.25 for each known bucket vs q = 0.5:
    # psi = 2 * (0.25-0.5)*ln(0.5) = 0.3466 — the null mass RAISES psi.
    # fillna(0) would have given p=(0.75, 0.25): psi ~= 0.13 instead.
    assert abs(out["web"]["psi"] - 0.346574) < 1e-4
