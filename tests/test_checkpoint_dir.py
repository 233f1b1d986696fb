"""Reliable-checkpoint curate mode (cfg.checkpoint_dir): parity with the
default localCheckpoint boundaries, plus the disk-boundedness contract
(at most ONE stage snapshot left on disk when curate() returns — the
previous boundary is deleted as each new one lands).

Why this mode exists: localCheckpoint pins every stage's RDD block set
on local disk until the run ends (ContextCleaner frees blocks only when
the driver GCs the RDD, which the run's references prevent) — measured
fatal at 30M rows x 8 stages on a 76 GB disk. The parquet boundary is
also the executor-loss-safe shape for real clusters.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from polars_genson_spark.pipeline import CurateConfig, curate
from polars_genson_spark.sources.scale_docs import (
    ScaleLayout,
    generate_benchmark,
    generate_documents,
)

LAY = ScaleLayout(
    n_rows=1200,
    hot_docs=40,
    near_clusters=20,
    cluster_size=3,
    exact_groups=30,
    junk_docs=15,
)


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, LAY.n_rows, 7, layout=LAY).cache()


def _run(spark, docs, tmpdir: str | None):
    cfg = CurateConfig(
        minhash_bucket_max=16,
        chunk_size=64,
        pack_context_len=128,
        pack_pad_id=0,
        split_weights={"train": 8, "val": 1, "test": 1},
        shuffle_seed=3,
        checkpoint_dir=tmpdir,
    )
    bench = generate_benchmark(spark, LAY, n_bench=6)
    return curate(docs, benchmark=bench, cfg=cfg)


def test_checkpoint_dir_parity_and_cleanup(spark, docs, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    base = _run(spark, docs, None)
    reli = _run(spark, docs, ckpt)

    # identical stage bookkeeping
    assert reli.stage_counts == base.stage_counts

    # identical final packs, bit-for-bit (deterministic packing makes
    # full-row comparison legal)
    cols = sorted(base.chunks.columns)
    a = base.chunks.select(*cols)
    b = reli.chunks.select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # disk-boundedness: every retired boundary was deleted — only the
    # final stage's snapshot remains under the checkpoint dir
    remaining = [
        d for d in os.listdir(ckpt)
        if os.path.isdir(os.path.join(ckpt, d))
    ]
    assert len(remaining) == 1, remaining
    assert remaining[0].endswith("_packed")
    # the surviving snapshot is readable after the run
    last = spark.read.parquet(os.path.join(ckpt, remaining[0]))
    assert last.count() == reli.stage_counts["packed"]
    base.release()
