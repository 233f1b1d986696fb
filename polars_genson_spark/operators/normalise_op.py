"""Distributed row normalisation: infer once (Avro), then enforce the
schema on every row.

Reference pipeline parity
(/root/reference/polars-genson-py/src/expressions.rs:466-541): inference is
forced to Avro, then each row is re-parsed and coerced by
``normalise_value``. Unlike the reference's decode path (which re-infers —
the 2× slowdown measured in bench/README.md:135-139), decode here reuses
the SAME Avro schema to build the Spark ``StructType`` — single pass.

Two routes, one result:

- **jvm**: ``decode=True`` with the schema inferred in this call, and a
  schema and config that a Catalyst expression reproduces exactly:
  records, arrays, ``string``/``int``/``long``/``float``/``double``/
  ``boolean`` and ``["null", T]`` unions, no promoted ``{field}__{type}``
  keys; not ``ndjson``, no ``wrap_root``, no ``coerce_string``, no
  ``force_*`` types. Every cell then conforms to the schema (inference
  read it), so decoded = ``from_json(cell)`` plus a schema-directed
  rewrite (:class:`CatalystNormaliser`) that copies the Python
  kernel where ``from_json`` differs. No Python worker runs.
- **python**: everything else. A vectorized pandas UDF runs the compiled
  kernel (``functions/normalise.compile_document_normaliser``) on every
  cell; with ``decode=True``, ``from_json`` reads its output back.

Each call logs one ``normalise_route`` event: the route, and for
``python`` the first reason the call is outside the jvm subset.

Scale: the schema is a broadcast of a KB-sized dict; normalisation is
embarrassingly parallel (no shuffle). Repeated cells are skipped by
per-task caches: the inference fold skips a cell it has already seen in
its partition, and the normalise UDF keeps a bounded cell->output cache,
so a replicated corpus costs one parse+normalise per distinct cell per
task.
"""

from __future__ import annotations

import dataclasses
import json
import logging
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    MAP_ENCODING_ENTRIES,
    MAP_ENCODING_KV,
    InferenceConfig,
    NormaliseConfig,
)
from ..functions.bridge import avro_to_spark_schema
from ..functions.normalise import compile_document_normaliser
from .infer import InferenceResult, infer_json_schema, _loads

log = logging.getLogger(__name__)


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

    Infers the Avro schema over ``df`` (unless ``avro_schema`` is given),
    then takes the jvm route when the call is inside its subset (see the
    module docstring) and the Python UDF route otherwise; both give the
    same rows and schema. Optionally unnests. Nothing is persisted or
    checkpointed.
    """
    config = config or InferenceConfig()
    norm = norm or NormaliseConfig(wrap_root=config.wrap_root)
    out_name = output_col or column

    reason = "schema_given" if avro_schema is not None else None
    if avro_schema is None:
        # single inference pass, Avro forced (expressions.rs:489-511)
        avro_cfg = dataclasses.replace(config, avro=True)
        avro_schema = infer_json_schema(df, column, avro_cfg).schema

    if decode and norm.map_encoding == MAP_ENCODING_ENTRIES:
        # [{k: v}] has variable key names — no static Spark type can
        # hold it; from_json would silently null every map field
        raise ValueError(
            "decode=True does not support map_encoding='entries' "
            "(variable-key objects have no static Spark type); "
            "use 'kv' or 'mapping'"
        )

    reason = reason or python_route_reason(avro_schema, config, norm, decode)
    route = "python" if reason else "jvm"
    log.info(
        "normalise_json route=%s reason=%s",
        route,
        reason,
        extra={"event": "normalise_route", "route": route, "reason": reason},
    )

    if reason is None:
        # from_json in its own projection: the rewrite reads it once per
        # field, and a conditional branch would re-parse the cell for each
        tmp = "__pgs_decoded"
        normalise = CatalystNormaliser(avro_schema, norm)
        result = (
            df.withColumn(tmp, normalise.decode(F.col(column)))
            .withColumn(out_name, normalise(F.col(column), tmp))
            .drop(tmp)
        )
    else:
        result = _python_normalise(df, column, out_name, avro_schema, norm)
        if decode:
            # type map fields to MATCH the encoding the normalised text
            # uses: hardcoding kv (the old behavior) made decode of
            # 'mapping' output null for every map field — silent data loss
            dtype = avro_to_spark_schema(
                avro_schema, kv_encoding=norm.map_encoding == MAP_ENCODING_KV
            )
            result = result.withColumn(
                out_name,
                F.from_json(
                    F.col(out_name), dtype, _from_json_options(avro_schema)
                ),
            )

    if decode and unnest:
        other = [c for c in result.columns if c != out_name]
        result = result.select(*other, f"{out_name}.*")
    return result


def _python_normalise(
    df: DataFrame,
    column: str,
    out_name: str,
    avro_schema: dict[str, Any],
    norm: NormaliseConfig,
) -> DataFrame:
    """The python route: ``out_name`` = the kernel's JSON text per cell."""
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

    return df.withColumn(out_name, _normalise(F.col(column)))


# ---------------------------------------------------------------------------
# The jvm route: eligibility, and the Catalyst port of the Python kernel.
# ---------------------------------------------------------------------------

_INTS = ("int", "long")
_FLOATS = ("float", "double")
_KEPT = ("string", "boolean", "null")  # from_json already decodes these


def _branch(union: list) -> Any:
    """The one non-null member of a ``["null", T]`` union, or None."""
    return next((t for t in union if t != "null"), None)


def _is_record(node: Any) -> bool:
    return isinstance(node, dict) and node.get("type") == "record"


def python_route_reason(
    avro_schema: Any,
    config: InferenceConfig,
    norm: NormaliseConfig,
    decode: bool,
) -> str | None:
    """The first reason an inferred-schema call must take the python
    route, or None when the jvm route reproduces it exactly."""
    if not decode:
        return "decode_false"
    if config.ndjson:
        return "ndjson"
    if config.wrap_root is not None or norm.wrap_root is not None:
        return "wrap_root"
    if norm.coerce_string:
        return "coerce_string"
    if (
        config.force_field_types
        or config.force_parent_field_types
        or config.force_scalar_promotion
    ):
        return "force_types"
    return _schema_reason(avro_schema)


def _schema_reason(node: Any) -> str | None:
    if isinstance(node, str):
        return None if node in _INTS + _FLOATS + _KEPT else "type"
    if isinstance(node, list):
        if node == ["null"]:
            return None
        if len(node) != 2 or node.count("null") != 1:
            return "union"
        return _schema_reason(_branch(node))
    if not isinstance(node, dict):
        return "type"
    t = node.get("type")
    if t == "array":
        return _schema_reason(node.get("items", "string"))
    if t == "map":
        return "map"
    if t != "record":
        return "type"
    seen: set[str] = set()
    for f in node.get("fields", []):
        name, ftype = f.get("name"), f.get("type")
        if name is None or ftype is None:
            return "type"
        if "__" in name:
            return "promoted_key"
        if name.lower() in seen:
            # Catalyst resolves struct fields case-insensitively, so the
            # rewrite could not tell these apart
            return "case_collision"
        seen.add(name.lower())
        reason = _schema_reason(ftype)
        if reason:
            return reason
    return None


# Python's str.strip() whitespace (none lies above U+3000), and the four
# of them JSON allows around a document: the kernel reads a cell as null
# when it is blank, or when its leading or trailing whitespace holds one
# that orjson rejects (inference parses the stripped cell, so that cell
# passed inference)
_PY_WS = "".join(c for c in map(chr, range(0x3001)) if c.isspace())
_JSON_WS = " \t\n\r"


def _char_class(chars: str) -> str:
    return "[" + "".join(f"\\u{ord(c):04x}" for c in chars) + "]"


_WS = _char_class(_PY_WS)
_NON_JSON_WS = _char_class("".join(c for c in _PY_WS if c not in _JSON_WS))
_NULL_CELL = f"^{_WS}*$|^{_WS}*{_NON_JSON_WS}|{_NON_JSON_WS}{_WS}*$"

def _from_json_options(schema: Any) -> dict[str, str]:
    """``from_json`` options for ``schema``: no 1000-character number
    limit (orjson reads longer literals), and a corrupt-record column no
    top-level field is named, so no JSON key is read as that column."""
    fields = schema.get("fields", []) if _is_record(schema) else []
    names = {f.get("name") for f in fields}
    corrupt = "_corrupt_record"
    while corrupt in names:
        corrupt = "_" + corrupt
    return {"maxNumLen": str(2**31 - 1), "columnNameOfCorruptRecord": corrupt}


def _null_cell(cell: Column) -> Column:
    """True where the Python kernel reads ``cell`` as null. The regex
    runs only for cells that are not ``{...}`` end to end."""
    bare_object = cell.startswith("{") & cell.endswith("}")
    return cell.isNull() | (~bare_object & cell.rlike(_NULL_CELL))


def _ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(text: str) -> str:
    """``text`` as a SQL string literal: every character but an ASCII
    letter or digit goes in as ``\\uXXXX`` escapes of its UTF-16 units."""
    out = []
    for c in text:
        if c.isascii() and c.isalnum():
            out.append(c)
        else:
            b = c.encode("utf-16-be")
            out += (
                f"\\u{b[i] << 8 | b[i + 1]:04x}" for i in range(0, len(b), 2)
            )
    return "'" + "".join(out) + "'"


# A float field's number token, decoded as text: the kernel nulls an int
# (``normalise.py`` ``f_float``), so only a float token casts. orjson
# reads an integer literal as int when it fits int64 or uint64, and as
# float otherwise.
_FLOAT_FROM_TEXT = (
    "CASE WHEN NOT (contains({x}, '.') OR contains({x}, 'e')"
    " OR contains({x}, 'E')) AND try_cast({x} AS DECIMAL(20,0))"
    " BETWEEN -9223372036854775808 AND 18446744073709551615"
    " THEN NULL ELSE CAST({x} AS DOUBLE) END"
)


def _as_text(node: Any, item: bool) -> bool:
    """Whether a number node decodes as its token text: every float, and
    an int that is an array item (``item``)."""
    return node in _FLOATS or (item and node in _INTS)


class CatalystNormaliser:
    """``compile_document_normaliser`` as one Catalyst expression, for a
    schema and config inside the jvm subset: ``decode(cell)`` parses with
    some numbers kept as text, and ``self(cell, decoded)`` is the
    normalised struct, equal to the python route's ``from_json`` of the
    kernel's output. The rewrite is built as SQL text, so building it
    costs one call into the JVM whatever the schema's size.

    Where the rewrite departs from ``from_json`` alone:

    - a float field nulls integer tokens (``f_float``). An int field
      decodes as ``long``, which ``from_json`` nulls outside int64 as
      ``f_int`` does, but an out-of-range array item would null the whole
      array, so int items decode as text too;
    - a bare record that is null or missing is a record of nulls
      (``f_record``), recursively, as for a cell that is not an object;
    - an empty array is null under ``empty_as_null`` (``f_array``).

    Every built struct is typed nullable, as the python route's
    ``from_json`` types every field; the optimiser folds the never-taken
    ``CASE WHEN false`` branch away.
    """

    def __init__(self, schema: Any, norm: NormaliseConfig) -> None:
        self.schema = schema
        self.empty_as_null = norm.empty_as_null

    def decode(self, cell: Column) -> Column:
        options = _from_json_options(self.schema)
        return F.from_json(cell, self._decode_type(self.schema), options)

    def __call__(self, cell: Column, decoded: str) -> Column:
        """The normalised struct; ``decoded`` names the ``decode`` column."""
        return F.when(_null_cell(cell), F.lit(None)).otherwise(
            F.expr(self._rewrite(self.schema, _ident(decoded)))
        )

    def _decode_type(self, node: Any, item: bool = False) -> T.DataType:
        if isinstance(node, list):
            branch = _branch(node)
            if branch is None:
                return T.NullType()
            return self._decode_type(branch, item)
        if _as_text(node, item):
            return T.StringType()
        if isinstance(node, str):
            return avro_to_spark_schema(node)
        if node["type"] == "array":
            return T.ArrayType(
                self._decode_type(node.get("items", "string"), True)
            )
        return T.StructType(
            [
                T.StructField(f["name"], self._decode_type(f["type"]), True)
                for f in node.get("fields", [])
            ]
        )

    def _changes(self, node: Any, item: bool = False) -> bool:
        """Whether ``_rewrite`` departs from ``from_json`` at ``node``."""
        if isinstance(node, str):
            return _as_text(node, item)
        if isinstance(node, list):
            branch = _branch(node)
            if branch is None:
                return False
            if _is_record(branch):
                # a null stays null; only the fields can change
                return any(
                    self._changes(f["type"]) for f in branch.get("fields", [])
                )
            return self._changes(branch, item)
        if node["type"] == "array":
            return self.empty_as_null or self._changes(
                node.get("items", "string"), True
            )
        return True  # a bare record: null becomes a record of nulls

    def _rewrite(
        self, node: Any, x: str, item: bool = False, depth: int = 0
    ) -> str:
        """SQL for ``node``'s normalised value, given SQL ``x`` for its
        decoded value; ``depth`` numbers the lambda variables."""
        if not self._changes(node, item):
            return x
        if isinstance(node, str):
            if node in _INTS:
                return f"try_cast({x} AS BIGINT)"
            return _FLOAT_FROM_TEXT.format(x=x)
        if isinstance(node, list):
            branch = _branch(node)
            sub = self._rewrite(branch, x, item, depth)
            if _is_record(branch):
                return f"CASE WHEN {x} IS NULL THEN NULL ELSE {sub} END"
            return sub
        if node["type"] == "array":
            items = node.get("items", "string")
            if self._changes(items, True):
                e = f"__pgs_e{depth}"
                body = self._rewrite(items, e, True, depth + 1)
                x_items = f"transform({x}, {e} -> {body})"
            else:
                x_items = x
            if self.empty_as_null:
                return f"CASE WHEN size({x}) = 0 THEN NULL ELSE {x_items} END"
            return x_items
        # a field of a null struct is null, so a null record rebuilds as
        # a record of (recursively rewritten) nulls
        fields = ", ".join(
            _sql_str(f["name"]) + ", "
            + self._rewrite(f["type"], f"{x}.{_ident(f['name'])}",
                            depth=depth)
            for f in node.get("fields", [])
        )
        return f"CASE WHEN false THEN NULL ELSE named_struct({fields}) END"


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
