"""Distributed row normalisation: infer once (Avro), broadcast the schema,
then enforce it on every row with a vectorized pandas UDF.

Reference pipeline parity
(/root/reference/polars-genson-py/src/expressions.rs:466-541): inference is
forced to Avro, then each row is re-parsed and coerced by
``normalise_value``. Unlike the reference's decode path (which re-infers —
the 2× slowdown measured in bench/README.md:135-139), decode here reuses
the SAME Avro schema to build the Spark ``StructType`` — single pass.

Scale: the schema is a broadcast of a KB-sized dict; normalisation is
embarrassingly parallel (no shuffle); `from_json` decode is JVM-side.
Repeated cells are skipped by per-task caches, not by a second route:
the inference fold skips a cell it has already seen in its partition,
and the normalise UDF keeps a bounded cell->output cache, so a
replicated corpus costs one parse+normalise per distinct cell per task.
"""

from __future__ import annotations

import dataclasses
import json
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import InferenceConfig, NormaliseConfig
from ..functions.bridge import avro_to_spark_schema
from ..functions.normalise import compile_document_normaliser
from .infer import InferenceResult, infer_json_schema, _loads


def normalise_json(
    df: DataFrame,
    column: str,
    config: InferenceConfig | None = None,
    norm: NormaliseConfig | None = None,
    output_col: str | None = None,
    decode: bool = False,
    unnest: bool = True,
    avro_schema: dict[str, Any] | None = None,
) -> DataFrame:
    """Return ``df`` with ``column`` replaced (or ``output_col`` added) by
    schema-normalised JSON text; with ``decode=True`` the normalised JSON is
    decoded to native nested columns via ``from_json``.

    One path: infer the Avro schema over ``df`` (unless ``avro_schema``
    is given), apply the normalise UDF, then optionally decode and
    unnest. Repeated cells are skipped by the per-task caches of the
    inference fold and the UDF; nothing is persisted or checkpointed.
    """
    config = config or InferenceConfig()
    norm = norm or NormaliseConfig(wrap_root=config.wrap_root)
    out_name = output_col or column

    if avro_schema is None:
        # single inference pass, Avro forced (expressions.rs:489-511)
        avro_cfg = dataclasses.replace(config, avro=True)
        avro_schema = infer_json_schema(df, column, avro_cfg).schema

    spark = df.sparkSession
    schema_bc = spark.sparkContext.broadcast(json.dumps(avro_schema))
    # norm rides the UDF closure directly: it is a tiny picklable
    # dataclass, and the old field-by-field tuple round-trip silently
    # dropped any config field it didn't enumerate
    cfg = norm

    _MISS = object()

    @F.pandas_udf("string")
    def _normalise(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # Iterator form (guide §4.5): the compiled kernel
        # (functions/normalise.py round-6 note) is built ONCE PER TASK
        # and amortised over every Arrow batch, instead of once per
        # 10k-row batch — pinned bit-identical to normalise_document by
        # tests/test_normalise_compiled.py + the snapshot replays.
        # The cell->output cache skips the parse+normalise+dumps chain
        # for repeated document strings (normalisation is a pure
        # function of the cell under a fixed schema+config); bounded by
        # a byte budget so huge-cardinality corpora cannot blow worker
        # memory. Replicated-doc corpora (the reference's own labels
        # macro bench is 1000 distinct docs x 100 copies) collapse to
        # one kernel run per distinct doc per task.
        kernel = compile_document_normaliser(
            json.loads(schema_bc.value), cfg
        )
        dumps = json.dumps
        cache: dict[str, str | None] = {}
        budget = 48 * 1024 * 1024  # approx bytes of cached keys+values

        def one(cell: str | None) -> str | None:
            # blank/unparseable cells normalise to null rather than
            # aborting the task — violations surface as rows (SURVEY §3.2)
            if cell is None or not cell.strip():
                return None
            hit = cache.get(cell, _MISS)
            if hit is not _MISS:
                return hit
            try:
                doc = _loads(cell)
            except ValueError:
                out = None
            else:
                out = dumps(kernel(doc), separators=(",", ":"))
            nonlocal budget
            if budget > 0:
                budget -= len(cell) + (len(out) if out else 0) + 64
                cache[cell] = out
            return out

        for col in batches:
            yield col.map(one)

    result = df.withColumn(out_name, _normalise(F.col(column)))
    if decode:
        from ..config import MAP_ENCODING_ENTRIES, MAP_ENCODING_KV

        if norm.map_encoding == MAP_ENCODING_ENTRIES:
            # [{k: v}] has variable key names — no static Spark type can
            # hold it; from_json would silently null every map field
            raise ValueError(
                "decode=True does not support map_encoding='entries' "
                "(variable-key objects have no static Spark type); "
                "use 'kv' or 'mapping'"
            )
        # type map fields to MATCH the encoding the normalised text uses:
        # hardcoding kv (the old behavior) made decode of 'mapping'
        # output null for every map field — silent data loss
        dtype = avro_to_spark_schema(
            avro_schema, kv_encoding=norm.map_encoding == MAP_ENCODING_KV
        )
        result = result.withColumn(
            out_name, F.from_json(F.col(out_name), dtype)
        )

    if decode and unnest:
        other = [c for c in result.columns if c != out_name]
        result = result.select(*other, f"{out_name}.*")
    return result


def normalise_json_with_result(
    df: DataFrame,
    column: str,
    config: InferenceConfig | None = None,
    norm: NormaliseConfig | None = None,
) -> tuple[DataFrame, InferenceResult]:
    """Like :func:`normalise_json` but also returns the inference result."""
    config = config or InferenceConfig()
    avro_cfg = dataclasses.replace(config, avro=True)
    res = infer_json_schema(df, column, avro_cfg)
    out = normalise_json(
        df, column, config=config, norm=norm, avro_schema=res.schema
    )
    return out, res
