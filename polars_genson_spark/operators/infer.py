"""Distributed JSON-schema inference: the Spark re-expression of the
reference pipeline ``collect strings → rayon fold → merge → finalise``
(/root/reference/genson-core/src/schema.rs:332-448, 551-628).

Plan shape (scale-first):

1. single-column scan — only the JSON column is read (Catalyst prunes; the
   parquet scan's ReadSchema carries exactly one field);
2. ``keyed_summaries``, the one fold: ``mapInPandas`` folds a
   partition's Arrow batches into one summary (monoid partial) per key,
   parsing per doc like the reference does inside a rayon chunk. Here
   the key is the partition id; operators/incremental.py keys the same
   fold by group, window or file;
3. the KB-sized summaries (one per partition) are collected and merged on
   the driver **in partition-id order**, which makes property insertion
   order deterministic — the Spark answer to the reference's OrderMap
   order-sensitivity (/root/reference/genson-core/src/genson_rs/strategy/
   object.rs:295-317);
4. driver-side finalise: force-types → map inference → union reorder →
   optional Avro (same sequencing as schema.rs:585-613).

At 100 TB this never shuffles: the only data movement is one summary row
per partition. Past ``TREE_MERGE_THRESHOLD`` partitions a tree level
first merges contiguous partition-id ranges on the executors with
``merge_summaries``, the one group merge the keyed paths also use.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import InferenceConfig
from ..functions import summary as S
from ..functions.avro import json_schema_to_avro
from ..functions.rewrite import postprocess_schema
from ..functions.bridge import json_schema_to_spark_schema

try:  # pragma: no cover - orjson is optional
    from orjson import loads as _loads
except ImportError:  # pragma: no cover
    from json import loads as _loads


MAX_JSON_ERROR_LENGTH = 100

# Reference URI semantics (genson_rs/builder.rs:5-6, 18-41, 85-95):
# schema_uri="AUTO" → emit the default URI; None → emit no $schema;
# any other string → emit that string.
DEFAULT_SCHEMA_URI = "http://json-schema.org/schema#"


def _apply_schema_uri(schema: dict, config: InferenceConfig) -> dict:
    if config.schema_uri == "AUTO":
        return {"$schema": DEFAULT_SCHEMA_URI, **schema}
    if config.schema_uri is not None:
        return {"$schema": config.schema_uri, **schema}
    return schema


def schema_from_summary(node: dict, config: InferenceConfig) -> dict:
    """Summary -> JSON Schema: ``to_schema``, the driver-side rewrites
    (force-types, map inference, union reorder) and the ``$schema`` URI.
    Avro conversion, where an entry point offers it, comes after."""
    schema = S.to_schema(node)
    postprocess_schema(schema, config)
    return _apply_schema_uri(schema, config)


class SchemaInferenceError(ValueError):
    """Raised on invalid JSON in strict mode (reference schema.rs:187-204)."""


@dataclass
class InferenceResult:
    schema: dict[str, Any]
    processed_count: int


def _truncate(s: str) -> str:
    if len(s) > MAX_JSON_ERROR_LENGTH:
        return (
            f"{s[:MAX_JSON_ERROR_LENGTH]}... "
            f"[truncated {len(s) - MAX_JSON_ERROR_LENGTH} chars]"
        )
    return s


def _observe_cell(
    node: dict, cell: str, config: InferenceConfig, index: int
) -> bool:
    """Fold one cell (one or many docs) into ``node``.

    Returns True if the cell was non-empty (counted as processed).
    Raises SchemaInferenceError on invalid JSON, mirroring
    prepare_json_bytes (/root/reference/genson-core/src/schema.rs:160-238).
    """
    if cell is None:
        return False
    text = cell.strip()
    if not text:
        return False

    docs: list[Any] = []
    for line in text.splitlines() if config.ndjson else [text]:
        line = line.strip()
        if not line:
            continue
        try:
            docs.append(_loads(line))
        except ValueError as e:
            raise SchemaInferenceError(
                f"Invalid JSON input at index {index + 1}: {e} "
                f"- JSON: {_truncate(line)}"
            ) from None

    for doc in docs:
        if config.wrap_root is not None:
            doc = {config.wrap_root: doc}
        if (
            config.ignore_outer_array
            and isinstance(doc, list)
        ):
            # top-level array = stream of objects
            # (/root/reference/genson-core/src/genson_rs/mod.rs:44-72);
            # each element is byte-trimmed to the outermost {...}/[...]
            # before parsing (trim_to_object, mod.rs:129-144), so scalar
            # elements trim to empty and are skipped
            for element in doc:
                if isinstance(element, (dict, list)):
                    S.observe(node, element)
        elif isinstance(doc, list):
            # non-ignored top-level array: the reference still builds the
            # items schema from the trim-to-object element stream, so
            # scalar elements are dropped before observation
            S.observe(node, [e for e in doc if isinstance(e, (dict, list))])
        elif isinstance(doc, dict):
            S.observe(node, doc)
        # else: top-level scalar — genson's trim_to_object finds no '{' or
        # '[' , yields an empty slice, and the builder skips the doc
        # (mod.rs:110-115,129-144). The cell still counts as processed,
        # exactly like the reference's processed_count (schema.rs:258-275).
    return True


# Above TREE_MERGE_THRESHOLD input partitions, partition_summaries merges
# each run of TREE_GROUP_SIZE contiguous partition ids on the executors
# before the driver collect (the treeAggregate depth-2 shape, SURVEY §3.1).
TREE_MERGE_THRESHOLD = 256
TREE_GROUP_SIZE = 64


def keyed_summaries(
    df: DataFrame, column: str, key: Column, config: InferenceConfig
) -> DataFrame:
    """The one partition-local fold of schema inference: one
    ``(key, summary, processed, error)`` row per key per partition.

    The key is ``spark_partition_id()`` for ungrouped inference, or the
    group, window or file column (its dtype is kept). Rows keep their
    order within a key, so ``processed`` and the strict-mode error index
    (the key's count of processed cells before the bad one) match a
    sequential fold. A key stops folding at its first invalid cell."""
    projected = df.select(key.alias("key"), F.col(column).alias("doc"))
    key_t = projected.schema["key"].dataType.simpleString()

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[Any, list] = {}  # key -> [summary, processed, error]
        # First-occurrence (key, cell) cache: a repeated cell can only
        # bump ``object.count``, which to_schema never reads and
        # summary_key strips, so repeats skip parse+observe and add the
        # cached processed-flag. A failing cell is never cached. The
        # byte budget bounds worker memory on all-unique corpora.
        # Measured: 1M one-row-group events props (100 distinct shapes)
        # 2.38s -> 1.28s best-of-3 at 32 cores, identical results.
        cell_cache: dict[tuple, bool] = {}
        cache_budget = 48 * 1024 * 1024  # approx bytes of cached keys
        for pdf in batches:
            for k, cell in zip(pdf["key"].tolist(), pdf["doc"].tolist()):
                a = acc.get(k)
                if a is None:
                    a = acc[k] = [S.new_summary(), 0, None]
                elif a[2] is not None:
                    continue
                hit = cell_cache.get((k, cell))
                if hit is not None:
                    a[1] += hit
                    continue
                try:
                    ok = _observe_cell(a[0], cell, config, a[1])
                except SchemaInferenceError as e:
                    a[2] = str(e)
                    continue
                a[1] += ok
                if cache_budget > 0:
                    cache_budget -= (len(cell) if cell else 0) + 80
                    cell_cache[(k, cell)] = ok
        if acc:
            nodes, processed, errors = zip(*acc.values())
            yield pd.DataFrame(
                {
                    "key": list(acc),
                    "summary": [json.dumps(n) for n in nodes],
                    "processed": processed,
                    "error": errors,
                }
            )

    return projected.mapInPandas(
        fold,
        schema=f"key {key_t}, summary string, processed long, error string",
    )


def merge_summaries(
    partials: DataFrame, by: Column | str, order: str
) -> DataFrame:
    """The one group merge of ``keyed_summaries`` rows: the rows sharing
    ``by`` merge, sorted by ``order``, into one row that keeps the first
    row's key, the sum of ``processed`` and the first error. Each
    distinct summary merges once (``S.merge_distinct``). Only KB-sized
    summaries cross the shuffle, never documents."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        errors = pdf["error"].dropna()
        node = S.merge_distinct(json.loads(s) for s in pdf["summary"])
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "summary": [json.dumps(node)],
                "processed": [int(pdf["processed"].sum())],
                "error": [errors.iloc[0] if len(errors) else None],
            }
        )

    return partials.groupBy(by).applyInPandas(
        merge_group, schema=partials.schema
    )


def partition_summaries(
    df: DataFrame, column: str, config: InferenceConfig
) -> list[dict]:
    """Run the distributed partial fold; return per-partition summary
    dicts (``pid``, ``summary``, ``processed``, ``error``) sorted by
    partition id, the deterministic merge order.

    With more than ``TREE_MERGE_THRESHOLD`` partitions the summaries of
    each ``pid // TREE_GROUP_SIZE`` range first merge in pid order on the
    executors, so the driver sees at most ``n / TREE_GROUP_SIZE`` of them
    and determinism holds (the group key is monotonic in pid)."""
    projected = df.where(
        F.col(column).isNotNull() & (F.trim(F.col(column)) != F.lit(""))
    )
    summaries = keyed_summaries(
        projected, column, F.spark_partition_id(), config
    )
    if projected.rdd.getNumPartitions() > TREE_MERGE_THRESHOLD:
        summaries = merge_summaries(
            summaries, (F.col("key") / TREE_GROUP_SIZE).cast("int"), "key"
        )
    out = sorted(
        (r.asDict() for r in summaries.collect()), key=lambda r: r["key"]
    )
    for r in out:
        r["pid"] = r.pop("key")
        r["summary"] = json.loads(r["summary"])
    return out


def infer_json_schema(
    df: DataFrame, column: str, config: InferenceConfig | None = None
) -> InferenceResult:
    """Infer the merged JSON schema of a string column of JSON documents.

    Reference entry point parity:
    ``df.genson.infer_json_schema(col)``
    (/root/reference/polars-genson-py/python/polars_genson/__init__.py:918-1045).
    """
    config = config or InferenceConfig()
    parts = partition_summaries(df, column, config)

    first_error = next((p["error"] for p in parts if p["error"]), None)
    if first_error:
        raise SchemaInferenceError(first_error)

    processed = sum(p["processed"] for p in parts)
    if processed == 0:
        raise SchemaInferenceError("No JSON documents found to process")

    # partition-id order => deterministic property insertion order
    node = S.merge_distinct(p["summary"] for p in parts)

    schema = schema_from_summary(node, config)
    if config.avro:
        schema = json_schema_to_avro(schema)

    return InferenceResult(schema=schema, processed_count=processed)


def infer_json_schema_per_row(
    df: DataFrame,
    column: str,
    config: InferenceConfig | None = None,
    output_col: str = "schema",
) -> DataFrame:
    """Per-row schema inference — the reference's ``merge_schemas=False``
    mode (/root/reference/polars-genson-py/src/expressions.rs:247-310):
    each row gets its own finalised schema JSON (no cross-row merge), so
    this is a row-wise map (vectorized pandas UDF), not an aggregation.
    Null/blank cells yield null.

    Serialisation note: output text is ``sort_keys=True`` — a DELIBERATE
    representation choice so per-row schema text is hash/compare-stable
    (the driver's value oracle pins it). This differs from merged-mode
    text, which preserves first-seen property order for reference
    OrderMap parity; the parsed schemas are identical either way, so
    compare parsed JSON (not text) across the two modes."""
    config = config or InferenceConfig()
    cfg = config

    @F.pandas_udf("string")
    def _one(col: pd.Series) -> pd.Series:
        def one(cell: str | None) -> str | None:
            node = S.new_summary()
            if cell is None or not _observe_cell(node, cell, cfg, 0):
                return None
            schema = schema_from_summary(node, cfg)
            if cfg.avro:
                schema = json_schema_to_avro(schema)
            return json.dumps(schema, separators=(",", ":"), sort_keys=True)

        return col.map(one)

    return df.withColumn(output_col, _one(F.col(column)))


def infer_spark_schema(
    df: DataFrame, column: str, config: InferenceConfig | None = None
):
    """Infer a pyspark ``StructType`` for the JSON column (the analogue of
    ``infer_polars_schema``, reference __init__.py:781-916)."""
    config = config or InferenceConfig()
    result = infer_json_schema(df, column, config)
    schema = result.schema
    if config.avro:
        from ..functions.bridge import avro_to_spark_schema

        return avro_to_spark_schema(schema)
    return json_schema_to_spark_schema(schema)
