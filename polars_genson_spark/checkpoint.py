"""Resumable run manifest: per-partition lineage fingerprints + metrics.

A run writes ``manifest.json`` mapping each table partition (``source``) to
an order-independent content fingerprint (bit_xor of per-row xxhash64 over
(doc_id, tokens, n_tok)) plus its verdict metrics. On resume, partitions
whose fingerprint matches the previous manifest are skipped and their
recorded metrics are carried forward — only changed/new partitions are
revalidated (SURVEY.md §7.1 step 8).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import ValidationConfig

MANIFEST_NAME = "manifest.json"


def partition_fingerprints(
    df: DataFrame, cfg: ValidationConfig | None = None
) -> dict[str, int]:
    """Order-independent per-source content fingerprint (one narrow agg)."""
    cfg = cfg or ValidationConfig()
    rows = (
        df.groupBy(cfg.source_col)
        .agg(
            F.bit_xor(
                F.xxhash64(cfg.doc_id_col, cfg.tokens_col, cfg.n_tok_col)
            ).alias("fp"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    return {r[cfg.source_col]: (int(r["fp"] or 0) ^ int(r["n"])) for r in rows}


def load_manifest(run_dir: str, spark=None) -> dict[str, Any] | None:
    """Read the run manifest. Pass ``spark`` so a remote ``run_dir``
    (s3a://, hdfs://) reads through the Hadoop FileSystem — a local
    open() next to a distributed output silently finds nothing there,
    making every resume revalidate from scratch."""
    from . import fsutil

    path = run_dir.rstrip("/") + "/" + MANIFEST_NAME
    if not fsutil.is_remote(run_dir):
        path = os.path.join(run_dir, MANIFEST_NAME)
    text = fsutil.read_text(spark, path)
    return json.loads(text) if text is not None else None


def delete_manifest(run_dir: str, spark=None) -> None:
    """Remove a stale ``manifest.json`` (no-op if absent).

    A FRESH run (``--no-resume`` into a reused run_dir) must call this
    before its destructive output writes: if the job dies between
    deleting the old violation partitions and writing the new ones, a
    surviving stale manifest would make the next resumed run skip every
    unchanged source — phantom-cleaning the violations that were just
    deleted. With the manifest gone, that resume sees ``previous=None``
    and revalidates from scratch, which is the correct recovery."""
    from . import fsutil

    if fsutil.is_remote(run_dir):
        if spark is None:
            raise ValueError(
                f"delete_manifest on remote {run_dir!r} needs a SparkSession"
            )
        path, fs = fsutil.hadoop_path(
            spark, run_dir.rstrip("/") + "/" + MANIFEST_NAME
        )
        if fs.exists(path):
            fs.delete(path, False)
        return
    path = os.path.join(run_dir, MANIFEST_NAME)
    if os.path.exists(path):
        os.remove(path)


def save_manifest(run_dir: str, manifest: dict[str, Any], spark=None) -> str:
    from . import fsutil

    text = json.dumps(manifest, indent=2, sort_keys=True, default=str)
    if fsutil.is_remote(run_dir):
        path = run_dir.rstrip("/") + "/" + MANIFEST_NAME
    else:
        os.makedirs(run_dir, exist_ok=True)
        path = os.path.join(run_dir, MANIFEST_NAME)
    fsutil.write_text(spark, path, text)
    return path


# Fields with NO effect on verdicts or recorded metrics — pure execution
# knobs. Hashing them would invalidate every resume skip on a tuning rerun
# (e.g. a different salting factor), revalidating the whole corpus even
# though no check rule changed.
_PERF_ONLY_FIELDS = frozenset(
    {
        "salt_buckets",
        "max_violation_examples",  # bounds the example WRITE, not counts
    }
)


def config_fingerprint(cfg) -> str:
    """Stable digest of the check-relevant config: resume must NOT skip
    partitions validated under DIFFERENT rules (a rerun with stricter
    --max-seq-len would otherwise carry forward stale 'passed' verdicts).
    Perf-only knobs (``_PERF_ONLY_FIELDS``) are excluded — they change
    how the plan executes, never what it computes."""
    import dataclasses
    import hashlib
    import json as _json

    d = {
        k: (sorted(v) if isinstance(v, (set, frozenset)) else v)
        for k, v in dataclasses.asdict(cfg).items()
        if k not in _PERF_ONLY_FIELDS
    }
    return hashlib.sha256(
        _json.dumps(d, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def plan_resume(
    fingerprints: dict[str, int],
    previous: dict[str, Any] | None,
    config_fp: str | None = None,
) -> tuple[list[str], list[str]]:
    """Split partitions into (to_validate, to_skip) vs a prior manifest.
    A changed config fingerprint invalidates every skip."""
    # None-safe ordering throughout: a NULL source is a legal partition
    # key (it fingerprints and resumes like any other) and must not
    # TypeError against string keys
    none_safe = lambda s: (s is None, s or "")  # noqa: E731
    if not previous:
        return sorted(fingerprints, key=none_safe), []
    # a manifest with NO config_fp (pre-upgrade) must also invalidate the
    # skips: we cannot prove its verdicts were produced under the current
    # rules, and carrying forward stale 'passed' verdicts is exactly what
    # the fingerprint exists to prevent
    if config_fp is not None and previous.get("config_fp") != config_fp:
        return sorted(fingerprints, key=none_safe), []
    prev_fps = previous.get("fingerprints", {})
    prev_parts = previous.get("partitions", {})
    todo, skip = [], []
    for source, fp in sorted(
        fingerprints.items(), key=lambda kv: none_safe(kv[0])
    ):
        if (
            str(source) in prev_fps
            and int(prev_fps[str(source)]) == fp
            and str(source) in prev_parts
        ):
            skip.append(source)
        else:
            todo.append(source)
    return todo, skip


def build_manifest(
    fingerprints: dict[str, int],
    partition_metrics: dict[str, dict[str, Any]],
    carried: dict[str, dict[str, Any]] | None = None,
    extra: dict[str, Any] | None = None,
) -> dict[str, Any]:
    parts = dict(carried or {})
    parts.update(partition_metrics)
    return {
        "version": 1,
        "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "fingerprints": {str(k): v for k, v in fingerprints.items()},
        "partitions": {str(k): v for k, v in parts.items()},
        **(extra or {}),
    }
