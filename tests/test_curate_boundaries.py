"""Curate's stage boundaries: every default-mode boundary is an eager
localCheckpoint plus a count, each one is released once the next has
landed, and ``CurateResult.release()`` frees the last. Also pins the
``jobs curate`` CLI to the library's skew-guard default."""

from __future__ import annotations

import pytest
from conftest import persisted_rdd_ids

import polars_genson_spark.jobs as jobs
import polars_genson_spark.pipeline as pipeline
from polars_genson_spark.pipeline import CurateConfig, CurateResult, curate


def _docs(spark):
    rows = [
        (i, f"document number {i} talks about topic {i % 7} at length", "web")
        for i in range(60)
    ]
    rows += [(100, rows[0][1], "wiki"), (101, "!!!", "wiki")]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


@pytest.mark.parametrize("shuffle_seed", [None, 3])
def test_curate_releases_every_boundary(spark, shuffle_seed):
    docs = _docs(spark)
    before = persisted_rdd_ids(spark)
    res = curate(
        docs,
        cfg=CurateConfig(near_dup=False, chunk_size=4, shuffle_seed=shuffle_seed),
    )
    assert list(res.stage_counts) == list(res.stage_seconds) == [
        "input", "exact_dedup", "quality", "chunks",
    ]
    assert res.stage_counts["exact_dedup"] == 61
    assert res.stage_counts["quality"] == 60
    assert len(res.chunks.collect()) == res.stage_counts["chunks"]
    # only the final boundary is still held before release()
    assert len(persisted_rdd_ids(spark) - before) == 1
    res.release()
    assert persisted_rdd_ids(spark) - before == set()


def test_curate_summary_carries_counts_and_seconds(spark):
    res = curate(_docs(spark), cfg=CurateConfig(near_dup=False, chunk_size=4))
    summary = res.summary()
    res.release()
    assert summary["stage_seconds"] == res.stage_seconds
    assert {k: v for k, v in summary.items() if k != "stage_seconds"} == (
        res.stage_counts
    )


class _NoStop:
    """The shared test session, minus ``stop()`` (the CLI stops its
    session on exit)."""

    def __init__(self, spark) -> None:
        self._spark = spark

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def stop(self) -> None:
        pass


def test_curate_cli_keeps_library_skew_guard(spark, monkeypatch, tmp_path):
    src = str(tmp_path / "docs")
    _docs(spark).write.parquet(src)
    seen = {}

    def fake_curate(docs, benchmark, cfg, **kw):
        seen["cfg"] = cfg
        return CurateResult(chunks=docs.select("doc_id"))

    monkeypatch.setattr(pipeline, "curate", fake_curate)
    monkeypatch.setattr(jobs, "get_spark", lambda *a, **kw: _NoStop(spark))
    rc = jobs.main(["curate", "--input", src, "--output", str(tmp_path / "out")])
    assert rc == 0
    assert seen["cfg"].minhash_bucket_max == CurateConfig().minhash_bucket_max
