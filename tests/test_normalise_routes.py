"""normalise_json's two routes: the jvm route (from_json plus a Catalyst
rewrite) serves decode=True on an inferred schema inside its subset, and
the Python UDF route serves everything else. The routes must agree row
for row and in schema; each call logs which one fired, and why not jvm."""

from __future__ import annotations

import json
import logging

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from polars_genson_spark import InferenceConfig, NormaliseConfig
from polars_genson_spark.config import MAP_ENCODING_KV
from polars_genson_spark.functions import summary as S
from polars_genson_spark.functions.avro import json_schema_to_avro
from polars_genson_spark.functions.bridge import avro_to_spark_schema
from polars_genson_spark.operators import normalise_op
from polars_genson_spark.operators.infer import (
    _observe_cell,
    infer_json_schema,
    schema_from_summary,
)
from polars_genson_spark.operators.normalise_op import (
    CatalystNormaliser,
    normalise_json,
    python_route_reason,
)

LOGGER = normalise_op.__name__


def _routes(caplog) -> list[tuple[str, str | None]]:
    return [
        (r.route, r.reason)
        for r in caplog.records
        if getattr(r, "event", None) == "normalise_route"
    ]


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _events_docs(n: int = 60) -> list[str]:
    """Docs shaped like the json_schema benchmark workload's."""
    return [
        json.dumps(
            {
                "id": i,
                "name": f"user-{i % 7}",
                "score": i / 4 + 0.25,
                "active": i % 2 == 0,
                "tags": [f"tag{j}" for j in range(i % 3 + 1)],
                "meta": {"a": i % 11, "b": f"b{i % 5}"},
            }
        )
        for i in range(n)
    ]


def _frame(spark, cells):
    return spark.createDataFrame(
        list(enumerate(cells)), "rid long, doc string"
    )


def _rows(df) -> list:
    return sorted(df.collect(), key=lambda r: r.rid)


def _python_twin(df, **kw):
    """The same call on the Python route: hand in the inferred schema."""
    schema = infer_json_schema(
        df, "doc", InferenceConfig(avro=True)
    ).schema
    return normalise_json(df, "doc", avro_schema=schema, **kw)


@pytest.mark.parametrize("unnest", [True, False])
def test_events_docs_take_the_jvm_route(spark, caplog, unnest):
    df = _frame(spark, _events_docs())
    with caplog.at_level(logging.INFO, logger=LOGGER):
        out = normalise_json(
            df, "doc", decode=True, unnest=unnest, output_col="norm"
        )
    assert _routes(caplog) == [("jvm", None)]
    plan = _executed_plan(out)
    assert "ArrowEvalPython" not in plan and "from_json" in plan

    twin = _python_twin(df, decode=True, unnest=unnest, output_col="norm")
    assert out.schema == twin.schema
    assert _rows(out) == _rows(twin)


# cells where from_json alone differs from the kernel, or where the
# Python route reads null: ints in a float field (a), a null or missing
# bare record (b), empty and nested empty arrays, int64 overflow,
# duplicate keys, non-object cells, blank and badly padded cells, a
# number literal longer than from_json's default limit, a key named like
# the session's corrupt-record column
EDGE_CELLS = [
    '{"id": 1, "score": 1.5, "tags": ["x"], "meta": {"a": 1, "b": "q"},'
    ' "arr": [[], [1.5, 2]], "ints": [1, 9223372036854775808],'
    ' "o": {"p": {"q": 2}}}',
    '{"id": 2, "score": 2, "tags": [], "meta": {"a": 9223372036854775808,'
    ' "b": "q"}, "arr": [], "o": {"p": {"q": 3}}}',
    '{"id": 3, "score": 18446744073709551616, "tags": ["\\u00e9"],'
    ' "meta": {"a": 2, "b": null}, "opt": {"r": 1.0}, "o": {"p": null}}',
    '{"id": 4, "id": 5, "score": 1e-7, "tags": ["y"], "meta": {"a": 3,'
    ' "b": "z"}, "opt": null, "o": {"p": {"q": 1}}}',
    '[{"id": 6, "score": 0.5, "tags": ["t"], "meta": {"a": 4, "b": "w"},'
    ' "o": {"p": {"q": 1}}}]',
    "5",
    '"text"',
    "null",
    "",
    "   ",
    None,
    '\t{"id": 7, "score": 1.25, "meta": {"a": 1, "b": "v"}, "o": null}\n',
    '\x1c{"id": 8, "score": 1.25, "meta": {"a": 1, "b": "v"}}',
    '{"id": 9, "score": 1.25, "meta": {"a": 1, "b": "v"}} ',
    '{"id": 10, "score": 1.' + "0" * 1200 + '5, "meta": {"a": 1, "b": "v"}}',
    '{"id": 11, "score": -0, "meta": {"a": -0, "b": "v"}, "o": {}}',
    '{"id": 12, "meta": {"a": 1, "b": "v"}, "_corrupt_record": "x"}',
]


@pytest.mark.parametrize("empty_as_null", [True, False])
def test_jvm_route_matches_python_route_on_edge_cells(
    spark, caplog, empty_as_null
):
    df = _frame(spark, EDGE_CELLS)
    norm = NormaliseConfig(empty_as_null=empty_as_null)
    with caplog.at_level(logging.INFO, logger=LOGGER):
        out = normalise_json(df, "doc", norm=norm, decode=True)
    assert _routes(caplog) == [("jvm", None)]
    twin = _python_twin(df, norm=norm, decode=True)
    assert out.schema == twin.schema
    got, want = _rows(out), _rows(twin)
    assert got == want
    # the divergences from plain from_json really are exercised
    assert want[1]["score"] is None  # int token in a float field
    assert want[5]["meta"] is not None and want[5]["meta"]["a"] is None
    assert want[8]["meta"] is None  # blank cell: null, not a record
    assert want[16]["_corrupt_record"] == "x"


# one call per Python-route reason: (cells, normalise_json kwargs)
INELIGIBLE = {
    "schema_given": (_events_docs(20), {}),
    "decode_false": (_events_docs(20), {"decode": False}),
    "union": (['{"v": 1}', '{"v": "s"}'], {}),
    "map": (
        ['{"m": {"a": "x", "b": "y", "c": "z"}}', '{"m": {"d": "w"}}'],
        {"config": InferenceConfig(map_threshold=2)},
    ),
    "ndjson": (
        ['{"a": 1}\n{"a": 2}', '{"a": 3}'],
        {"config": InferenceConfig(ndjson=True)},
    ),
    "wrap_root": (
        _events_docs(20), {"config": InferenceConfig(wrap_root="doc")}
    ),
    "coerce_string": (
        _events_docs(20), {"norm": NormaliseConfig(coerce_string=True)}
    ),
    "force_types": (
        _events_docs(20),
        {"config": InferenceConfig(force_field_types={"meta": "map"})},
    ),
    "promoted_key": (
        ['{"v": {"a": 1}}', '{"v": "s"}'],
        {"config": InferenceConfig(unify_maps=True)},
    ),
    "case_collision": (['{"a": 1, "A": 2}'], {}),
}


@pytest.mark.parametrize("reason", list(INELIGIBLE))
def test_ineligible_calls_keep_the_python_route(spark, caplog, reason):
    cells, kw = INELIGIBLE[reason]
    df = _frame(spark, cells)
    kw = {"decode": True, **kw}
    if reason == "schema_given":
        kw["avro_schema"] = infer_json_schema(
            df, "doc", InferenceConfig(avro=True)
        ).schema
    with caplog.at_level(logging.INFO, logger=LOGGER):
        out = normalise_json(df, "doc", **kw)
    assert _routes(caplog) == [("python", reason)]
    assert "ArrowEvalPython" in _executed_plan(out)


def test_route_reason_for_types_outside_the_subset():
    record = {"type": "record", "name": "document", "fields": []}
    cfg, norm = InferenceConfig(), NormaliseConfig()

    def reason(ftype):
        schema = {**record, "fields": [{"name": "f", "type": ftype}]}
        return python_route_reason(schema, cfg, norm, True)

    assert reason("bytes") == "type"
    assert reason({"type": "enum", "symbols": ["A"]}) == "type"
    assert reason(["string", "int"]) == "union"
    assert reason(["null", "string", "int"]) == "union"
    assert reason({"type": "map", "values": "string"}) == "map"
    assert reason(["null"]) is None
    assert reason(["int", "null"]) is None
    assert reason({"type": "array", "items": ["null", "float"]}) is None


def test_null_cell_whitespace_set_is_pythons():
    # the route's blank-cell check copies str.strip(); the set it lists
    # must be all of Python's whitespace
    import sys

    every = "".join(
        c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()
    )
    assert normalise_op._PY_WS == every


# --- Property: the jvm route equals the Python route -----------------------
#
# Each example draws one record schema, then a batch of about 100
# documents that conform to it, so the inferred schema is union-free
# (["null", T] aside). Float fields also hold ints, some records are an
# explicit null, arrays are often empty (nested too), some docs repeat a
# key, and some cells are blank, null or not an object.

NAMES = ["a", "b", "c", "d", "e"]


def _leaf() -> st.SearchStrategy:
    return st.sampled_from(["string", "int", "float", "bool"])


schemas = st.recursive(
    _leaf(),
    lambda kids: st.one_of(
        st.tuples(st.just("array"), kids),
        st.tuples(
            st.just("record"),
            st.dictionaries(
                st.sampled_from(NAMES),
                st.tuples(kids, st.booleans()),  # (schema, optional)
                max_size=4,
            ),
        ),
    ),
    max_leaves=8,
)
root_schemas = st.dictionaries(
    st.sampled_from(NAMES), st.tuples(schemas, st.booleans()),
    min_size=1, max_size=5,
)


def _values(schema) -> st.SearchStrategy:
    if schema == "string":
        return st.text(max_size=6)
    if schema == "int":
        return st.one_of(
            st.integers(-1000, 1000), st.integers(-(2**63), 2**64 - 1)
        )
    if schema == "float":
        return st.one_of(
            st.floats(allow_nan=False, allow_infinity=False),
            st.integers(-5, 5),  # an int in a float field
        )
    if schema == "bool":
        return st.booleans()
    kind, sub = schema
    if kind == "array":
        return st.lists(_values(sub), max_size=3)
    return _records(sub)


def _records(fields) -> st.SearchStrategy:
    """A record's values; an optional field may be null or missing."""
    parts = []
    for name, (sub, optional) in fields.items():
        v = _values(sub)
        if optional:
            v = st.one_of(st.none(), st.just(_MISSING), v)
        parts.append(st.tuples(st.just(name), v))
    return st.tuples(*parts).map(_present)


_MISSING = object()


def _present(pairs) -> dict:
    return {k: v for k, v in pairs if v is not _MISSING}


def _cell(doc: dict, dup: bool) -> str:
    text = json.dumps(doc)
    if dup and doc:
        # repeat the first key; the later (real) value must win
        k = next(iter(doc))
        text = "{" + json.dumps(k) + ": " + json.dumps(doc[k]) + ", " + text[1:]
    return text


@st.composite
def batches(draw):
    fields = draw(root_schemas)
    docs = draw(st.lists(_records(fields), min_size=60, max_size=100))
    cells = []
    for doc in docs:
        cells.append(_cell(doc, draw(st.integers(0, 9)) == 0))
    extras = draw(
        st.lists(
            st.sampled_from(["", "  ", "\t\n", None, "null", "7", '"s"']),
            max_size=4,
        )
    )
    if docs and draw(st.booleans()):
        extras.append(json.dumps(docs[:2]))  # a top-level array of docs
    return cells + extras


def _infer_avro(cells: list[str | None]) -> dict:
    """infer_json_schema's one-partition fold, run in this process."""
    cfg = InferenceConfig(avro=True)
    node = S.new_summary()
    for i, cell in enumerate(cells):
        if cell is not None and cell.strip(" "):
            _observe_cell(node, cell, cfg, i)
    return json_schema_to_avro(schema_from_summary(node, cfg))


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(batches())
def test_jvm_route_equals_python_route(spark, cells):
    schema = _infer_avro(cells)
    norm = NormaliseConfig()
    assert python_route_reason(
        schema, InferenceConfig(), norm, True
    ) is None

    # both routes side by side in one frame: one Spark job per example
    jvm = CatalystNormaliser(schema, norm)
    dtype = avro_to_spark_schema(
        schema, kv_encoding=norm.map_encoding == MAP_ENCODING_KV
    )
    df = _frame(spark, cells)
    both = (
        normalise_op._python_normalise(df, "doc", "text", schema, norm)
        .withColumn("py", F.from_json("text", dtype))
        .withColumn("decoded", jvm.decode(F.col("doc")))
        .withColumn("jvm", jvm(F.col("doc"), "decoded"))
        .select("rid", "doc", "jvm", "py")
    )
    got, want = both.schema["jvm"], both.schema["py"]
    assert (got.dataType, got.nullable) == (want.dataType, want.nullable)
    for row in both.collect():
        assert row.jvm == row.py, row.doc
