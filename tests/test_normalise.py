"""Normalisation semantics — fixture F6 and the reference's
normalise_test.py / unify_maps_test.py::test_unify_maps_normalisation."""

from __future__ import annotations

import json

from polars_genson_spark import (
    InferenceConfig,
    NormaliseConfig,
    normalise_json,
)
from polars_genson_spark.functions.normalise import (
    compile_document_normaliser,
    normalise_value,
)

from conftest import make_json_df


def rows(df, col="json_data"):
    return [
        json.loads(r[col]) if r[col] is not None else None
        for r in df.select(col).collect()
    ]


def test_empty_array_empty_as_null(spark):
    df = make_json_df(spark, ['{"labels": []}'])
    out = rows(normalise_json(df, "json_data"))
    assert out == [{"labels": None}]


def test_empty_array_kept_when_disabled(spark):
    df = make_json_df(spark, ['{"labels": ["a"]}', '{"labels": []}'])
    norm = NormaliseConfig(empty_as_null=False)
    out = rows(normalise_json(df, "json_data", norm=norm))
    assert out == [{"labels": ["a"]}, {"labels": []}]


def test_string_mismatch_defaults_to_null(spark):
    docs = ['{"id":"42","active":"true"}', '{"id":7,"active":false}']
    df = make_json_df(spark, docs)
    out = rows(normalise_json(df, "json_data"))
    # merged type: id → ["int","string"]-ish union; first branch decides.
    # union reorder puts integer before string → strings fail to parse → null
    assert out[1] == {"id": 7, "active": False}
    assert out[0] == {"id": None, "active": None}


def test_string_mismatch_with_coercion(spark):
    docs = ['{"id":"42","active":"true"}', '{"id":7,"active":false}']
    df = make_json_df(spark, docs)
    norm = NormaliseConfig(coerce_string=True)
    out = rows(normalise_json(df, "json_data", norm=norm))
    assert out[0] == {"id": 42, "active": True}
    assert out[1] == {"id": 7, "active": False}


def test_mixed_id_and_empty_map(spark):
    # pinned against the reference's normalise_test.py:296-323: the int
    # union branch wins, so string ids null out; empty map → null
    docs = ['{"id": "1", "labels": {}}', '{"id": 2, "labels": {"en":"Hello"}}']
    df = make_json_df(spark, docs)
    cfg = InferenceConfig(map_threshold=1)
    out = rows(normalise_json(df, "json_data", config=cfg))
    assert out[0] == {"id": None, "labels": None}
    assert out[1] == {"id": 2, "labels": [{"key": "en", "value": "Hello"}]}


def test_f4_unify_normalisation_kv(spark):
    docs = [
        '{"letter": {"a": {"alphabet": 0, "vowel": 0, "frequency": 0.0817}}}',
        '{"letter": {"b": {"alphabet": 1, "consonant": 0, "frequency": 0.0150}}}',
        '{"letter": {"e": {"alphabet": 4, "vowel": 4, "frequency": 0.1270}}}',
    ]
    df = make_json_df(spark, docs)
    cfg = InferenceConfig(map_threshold=3, unify_maps=True)
    out = rows(normalise_json(df, "json_data", config=cfg))
    assert out[0] == {
        "letter": [
            {
                "key": "a",
                "value": {
                    "alphabet": 0,
                    "frequency": 0.0817,
                    "vowel": 0,
                    "consonant": None,
                },
            }
        ]
    }
    assert out[1]["letter"][0]["value"]["vowel"] is None
    assert out[1]["letter"][0]["value"]["consonant"] == 0


def test_scalar_to_singleton_array_wrap():
    schema = {"type": "array", "items": "int"}
    cfg = NormaliseConfig()
    assert normalise_value(5, schema, cfg) == [5]
    assert normalise_value(None, schema, cfg) is None


def test_union_first_branch_precedence():
    cfg = NormaliseConfig(coerce_string=True)
    assert normalise_value("7", ["int", "string"], cfg) == 7
    assert normalise_value(7, ["string", "int"], cfg) == "7"


def test_promoted_scalar_key_match():
    schema = {
        "type": "record",
        "fields": [
            {"name": "v__string", "type": ["null", "string"]},
            {"name": "v__int", "type": ["null", "int"]},
        ],
    }
    cfg = NormaliseConfig()
    assert normalise_value("x", schema, cfg) == {"v__string": "x", "v__int": None}
    assert normalise_value(3, schema, cfg) == {"v__string": None, "v__int": 3}


def test_map_scalar_fallback_promotes():
    schema = {"type": "map", "values": "string"}
    cfg = NormaliseConfig(map_encoding="mapping")
    assert normalise_value("hi", schema, cfg, field_name="f") == {
        "f__string": "hi"
    }


def test_decode_unnest(spark):
    docs = ['{"a": 1, "b": "x"}', '{"a": 2}']
    df = make_json_df(spark, docs)
    out = normalise_json(df, "json_data", decode=True, unnest=True)
    got = sorted(
        [(r["a"], r["b"]) for r in out.select("a", "b").collect()]
    )
    assert got == [(1, "x"), (2, None)]


# The three kernel behaviours the jvm route of normalise_json(decode=True)
# copies on top of from_json (tests/test_normalise_routes.py checks the
# route against the kernel row for row).


def test_kernel_nulls_int_in_float_field():
    # from_json would widen 1 -> 1.0; the kernel nulls an int token
    schema = {
        "type": "record",
        "name": "document",
        "fields": [{"name": "x", "type": "float"}],
    }
    kernel = compile_document_normaliser(schema, NormaliseConfig())
    assert kernel({"x": 1}) == {"x": None}
    assert kernel({"x": 1.0}) == {"x": 1.0}


def test_kernel_null_bare_record_is_record_of_nulls():
    # from_json would give null for the record itself
    schema = {
        "type": "record",
        "name": "document",
        "fields": [
            {
                "name": "o",
                "type": {
                    "type": "record",
                    "name": "o",
                    "fields": [{"name": "p", "type": "int"}],
                },
            }
        ],
    }
    kernel = compile_document_normaliser(schema, NormaliseConfig())
    assert kernel({"o": None}) == {"o": {"p": None}}


def test_kernel_empty_array_is_null_under_empty_as_null():
    schema = {
        "type": "record",
        "name": "document",
        "fields": [
            {"name": "a", "type": {"type": "array", "items": "string"}}
        ],
    }
    kernel = compile_document_normaliser(schema, NormaliseConfig())
    assert kernel({"a": []}) == {"a": None}
    keep = compile_document_normaliser(
        schema, NormaliseConfig(empty_as_null=False)
    )
    assert keep({"a": []}) == {"a": []}
