"""Incremental schema-inference maintenance: the mergeable-summary monoid
as persistent state.

The per-partition summary (functions/summary.py) is associative and
count-insensitive for schema purposes, so inference over a growing
dataset never needs to rescan old files: fold ONLY the new files, merge
with the stored per-file summaries, re-derive the schema. State is a
JSON sidecar of {file → summary} — KB-sized per file, independent of row
count — so a 100 TB corpus that grows by one partition per hour pays one
partition of work per hour, not a full rescan. The sidecar is read and
written through ``fsutil`` like the checkpoint manifest, so the state
directory may be any URI Spark's Hadoop conf knows (file://, s3a://, ...).

This is the engine-native generalisation of the reference's incremental
builder (genson-rs folds docs into one SchemaBuilder in memory;
schema.rs:240-280): here the fold state is durable and distributed-
mergeable across job runs.

Incremental inference (keyed by file), ``infer_json_schema_by_group``
and ``schema_drift`` (keyed by window) run ``infer.keyed_summaries``, the
one fold, and ``infer.merge_summaries``, the one group merge.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..config import InferenceConfig
from ..functions import summary as S
from ..session import local_frame
from .infer import (
    SchemaInferenceError,
    keyed_summaries,
    merge_summaries,
    schema_from_summary,
)

STATE_NAME = "_schema_state.json"


@dataclass
class IncrementalResult:
    schema: dict[str, Any]
    processed_count: int
    new_files: list[str] = field(default_factory=list)
    reused_files: list[str] = field(default_factory=list)


def _state_path(state_dir: str) -> str:
    return state_dir.rstrip("/") + "/" + STATE_NAME


def load_state(state_dir: str, spark=None) -> dict[str, Any]:
    """Read the state sidecar. Pass ``spark`` for a URI state dir
    (file://, s3a://, ...), which reads through the Hadoop FileSystem."""
    text = fsutil.read_text(spark, _state_path(state_dir))
    return json.loads(text) if text is not None else {"files": {}}


def save_state(state_dir: str, state: dict[str, Any], spark=None) -> str:
    """Write the state sidecar (atomically for a local path)."""
    p = _state_path(state_dir)
    fsutil.write_text(spark, p, json.dumps(state))
    return p


def _canon_file(uri: str) -> str:
    """Canonical form of a file URI for state keys. ``inputFiles()`` and
    ``input_file_name()`` can disagree on URL-encoding (a path with a
    space is ``%20`` in one and literal in the other); without a shared
    canonicalisation every new file would silently key-miss and take the
    empty-summary fallback — an empty schema with no error."""
    from urllib.parse import unquote

    return unquote(uri)


def _list_parquet_files(spark: SparkSession, path: str) -> list[str]:
    """Distinct file names backing ``path``, from the file index
    (``DataFrame.inputFiles``) — NO Spark job, so listing never rescans
    the corpus."""
    return sorted(
        _canon_file(f) for f in spark.read.parquet(path).inputFiles()
    )


def infer_incremental(
    spark: SparkSession,
    input_path: str,
    state_dir: str,
    column: str,
    config: InferenceConfig | None = None,
) -> IncrementalResult:
    """Infer the merged schema of ``column`` over ``input_path``,
    folding ONLY files not present in the state (monoid property: the
    global schema is the merge of per-file summaries in file order).

    Files that disappeared from the input since the last run are dropped
    from the state — the schema always reflects exactly the current file
    set without any rescan of surviving files."""
    config = config or InferenceConfig()
    state = load_state(state_dir, spark)
    # stored summaries depend on the InferenceConfig (e.g.
    # ignore_outer_array), so state written under other or unrecorded
    # rules is discarded and every file re-folded, like
    # checkpoint.plan_resume on a config_fp change
    from ..checkpoint import config_fingerprint

    cfg_fp = config_fingerprint(config)
    if state.get("config_fp") != cfg_fp:
        state = {"files": {}, "config_fp": cfg_fp}
    current = _list_parquet_files(spark, input_path)
    known = state["files"]

    new_files = [f for f in current if f not in known]
    reused = [f for f in current if f in known]

    if new_files:
        # ONE job for ALL new files, keyed by input_file_name (which
        # matches inputFiles() once canonicalised), not a job per file
        partials = keyed_summaries(
            spark.read.parquet(*new_files), column, F.input_file_name(), config
        )
        new_set = set(new_files)
        for r in merge_summaries(partials, "key", "summary").collect():
            if r["error"]:
                raise SchemaInferenceError(r["error"])
            key = _canon_file(r["key"])
            if key not in new_set:
                # the two attribution paths disagree: fail loudly rather
                # than drop the real summary and fold an empty one
                raise SchemaInferenceError(
                    f"per-file attribution key {r['key']!r} not in the "
                    f"listed input files; encoding mismatch between "
                    f"input_file_name() and inputFiles()"
                )
            known[key] = {
                "summary": json.loads(r["summary"]),
                "processed": int(r["processed"]),
            }

    # keep state for the current files only, in their stable order
    # (=> deterministic merge); a new file with zero rows emitted no
    # partial row and gets the empty summary
    known = state["files"] = {
        f: known.get(f) or {"summary": S.new_summary(), "processed": 0}
        for f in current
    }
    merged = S.merge_distinct(e["summary"] for e in known.values())
    processed = sum(int(e["processed"]) for e in known.values())

    if processed == 0:
        raise SchemaInferenceError("No JSON documents found to process")

    schema = schema_from_summary(merged, config)
    save_state(state_dir, state, spark)
    return IncrementalResult(
        schema=schema,
        processed_count=processed,
        new_files=new_files,
        reused_files=reused,
    )


def infer_json_schema_by_group(
    df: DataFrame,
    column: str,
    group_col: str,
    config: InferenceConfig | None = None,
) -> DataFrame:
    """One merged JSON Schema per group: (group, schema_json, processed,
    error). The one fold emits a summary per group per partition and the
    one group merge combines them, so the shuffle carries KB-sized
    summaries, never documents. The group column keeps its dtype."""
    cfg = config or InferenceConfig()
    partials = keyed_summaries(df, column, F.col(group_col), cfg)
    merged = merge_summaries(partials, "key", "summary")
    key_t = merged.schema["key"].dataType.simpleString()

    def finalise(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["summary"] = [
            None
            if error
            else json.dumps(
                schema_from_summary(json.loads(s), cfg), sort_keys=True
            )
            for s, error in zip(pdf["summary"], pdf["error"])
        ]
        return pdf.rename(columns={"summary": "schema_json"})

    final = merged.mapInPandas(
        lambda batches: (finalise(p) for p in batches),
        schema=f"key {key_t}, schema_json string, processed long, "
        "error string",
    )
    return final.withColumnRenamed("key", group_col)


def schema_drift(
    df: DataFrame,
    column: str,
    window_col: str,
    config: InferenceConfig | None = None,
) -> DataFrame:
    """Field-level schema drift between consecutive windows: one merged
    schema per window (``infer_json_schema_by_group``), then adjacent
    windows' property maps diff driver-side (|windows| KB-sized rows).

    Returns one row per window AFTER the first:
    (window, added, removed, changed) — field names that appeared,
    vanished, or changed their inferred type vs the previous window.
    The monitoring face of schema inference: a producer silently adding
    a field or widening int→string shows up as a named diff, not a
    downstream parse failure.
    """
    per = infer_json_schema_by_group(df, column, window_col, config)

    # windows diff in their NATURAL order ('9' before '10'): numerics and
    # digit-only labels sort numerically, everything else as strings
    def _window_key(w):
        if isinstance(w, (int, float)):
            return (0, float(w), "")
        s = str(w)
        return (0, float(s), "") if s.isdigit() else (1, 0.0, s)

    rows = sorted(
        ((r[window_col], r["schema_json"]) for r in per.collect()),
        key=lambda t: _window_key(t[0]),
    )
    out = []
    prev_props: dict | None = None
    for w, sj in rows:
        if sj is None:
            # this window's inference errored (by_group isolates per-group
            # failures as schema_json=None) — surface it as an all-null
            # diff row rather than crashing, and keep the last GOOD
            # window as the baseline for the next good one
            out.append((str(w), None, None, None))
            continue
        props = json.loads(sj).get("properties", {}) or {}
        if prev_props is not None:
            added = sorted(set(props) - set(prev_props))
            removed = sorted(set(prev_props) - set(props))
            changed = sorted(
                k
                for k in set(props) & set(prev_props)
                if props[k] != prev_props[k]
            )
            out.append((str(w), added, removed, changed))
        prev_props = props
    schema = (
        "window string, added array<string>, removed array<string>, "
        "changed array<string>"
    )
    return local_frame(df.sparkSession, out, schema)
