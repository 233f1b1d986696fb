"""The schema-summary monoid: zero / observe / merge / finalise.

This is the Spark-native re-expression of the reference's incremental
``SchemaBuilder`` fold (/root/reference/genson-core/src/genson_rs/mod.rs:103-126
— a fold/reduce over documents, i.e. a commutative-after-canonicalisation
monoid over schema summaries). One summary is built per Arrow batch /
partition inside ``mapInPandas`` and summaries are merged pairwise, in
partition-id order so that property insertion order is deterministic (the
reference keeps first-seen order via OrderMap,
/root/reference/genson-core/src/genson_rs/strategy/object.rs:17-18).

Summary node layout (JSON-portable dict)::

    {
      "null":    {},
      "boolean": {},
      "string":  {},
      "number":  {"kind": "integer" | "number"},
      "array":   {"items": <node> | None},
      "object":  {"count": int,               # docs observed at this path
                  "props": {name: <node>},    # insertion-ordered
                  "required": [names] | None} # ∩ of per-doc key sets
    }

Semantics ported (behaviour, not code) from:
- scalar widening integer+number → number:
  /root/reference/genson-core/src/genson_rs/strategy/scalar.rs:151-164
- required-keys intersection:
  /root/reference/genson-core/src/genson_rs/strategy/object.rs:82-91
- shared single items node for list arrays:
  /root/reference/genson-core/src/genson_rs/strategy/array.rs:34-50
- scalar collapse + anyOf assembly:
  /root/reference/genson-core/src/genson_rs/node.rs:143-182
"""

from __future__ import annotations

import copy
from typing import Any, Iterable

def new_summary() -> dict[str, Any]:
    """The monoid identity: a summary that has observed nothing."""
    return {}


def observe(node: dict[str, Any], value: Any) -> dict[str, Any]:
    """Fold one parsed JSON value into a summary node (mutating)."""
    # bool must be tested before int: Python bool is an int subclass.
    if value is None:
        node.setdefault("null", {})
    elif isinstance(value, bool):
        node.setdefault("boolean", {})
    elif isinstance(value, int):
        node.setdefault("number", {"kind": "integer"})
    elif isinstance(value, float):
        st = node.setdefault("number", {"kind": "integer"})
        st["kind"] = "number"
    elif isinstance(value, str):
        node.setdefault("string", {})
    elif isinstance(value, dict):
        st = node.setdefault(
            "object", {"count": 0, "props": {}, "required": None}
        )
        st["count"] += 1
        props = st["props"]
        for k, v in value.items():
            sub = props.get(k)
            if sub is None:
                sub = props[k] = {}
            observe(sub, v)
        keys = value.keys()
        if st["required"] is None:
            st["required"] = list(keys)
        else:
            present = set(keys)
            st["required"] = [k for k in st["required"] if k in present]
    elif isinstance(value, list):
        st = node.setdefault("array", {"items": None})
        if value:
            items = st["items"]
            if items is None:
                items = st["items"] = {}
            for v in value:
                observe(items, v)
    else:  # pragma: no cover - json.loads never yields other types
        raise TypeError(f"unsupported JSON value type: {type(value)!r}")
    return node


def summary_key(node: dict[str, Any]) -> str:
    """Canonical dedup key for A6 duplicate-summary elimination (reference
    schema.rs:429-432 hashes the SCHEMA with xxh64 before add_schema).

    ``count`` is stripped structurally (only at object-state level, never
    from user property names) because it does not influence ``to_schema``
    — two partitions that observed the same shapes but different row
    counts produce the same schema and must dedup together."""

    def strip(n: dict[str, Any]) -> dict[str, Any]:
        out: dict[str, Any] = {}
        for kind, st in n.items():
            if kind == "object":
                out["object"] = {
                    "props": {k: strip(v) for k, v in st["props"].items()},
                    "required": st["required"],
                }
            elif kind == "array":
                out["array"] = {
                    "items": strip(st["items"]) if st["items"] else None
                }
            else:
                out[kind] = st
        return out

    import json as _json

    return _json.dumps(strip(node), sort_keys=True)


def merge(a: dict[str, Any], b: dict[str, Any]) -> dict[str, Any]:
    """Merge summary ``b`` into ``a`` (mutating ``a``). Associative."""
    for kind, bs in b.items():
        as_ = a.get(kind)
        if as_ is None:
            # REAL deep copy, not an alias (here and for adopted items
            # and props below): sharing state would let a later
            # observe/merge into `a` silently mutate `b`, e.g. a stored
            # per-file summary of the incremental state
            a[kind] = copy.deepcopy(bs)
            continue
        if kind == "number":
            if bs["kind"] == "number":
                as_["kind"] = "number"
        elif kind == "array":
            if bs["items"] is not None:
                if as_["items"] is None:
                    as_["items"] = copy.deepcopy(bs["items"])
                else:
                    merge(as_["items"], bs["items"])
        elif kind == "object":
            as_["count"] += bs["count"]
            props = as_["props"]
            for k, sub in bs["props"].items():
                if k in props:
                    merge(props[k], sub)
                else:
                    props[k] = copy.deepcopy(sub)
            br = bs["required"]
            ar = as_["required"]
            if ar is None:
                as_["required"] = br
            elif br is not None:
                present = set(br)
                as_["required"] = [k for k in ar if k in present]
        # null/boolean/string: presence-only, nothing to merge
    return a


def merge_distinct(nodes: Iterable[dict[str, Any]]) -> dict[str, Any]:
    """Merge ``nodes`` in order into a new summary, each distinct one
    (by ``summary_key``) once: A6, as reference schema.rs:429-432 adds
    each xxh64-distinct schema once. ``merge`` is idempotent on equal
    structures, so this equals merging them all; the canonical string
    key has no collision risk. ``nodes`` are not modified."""
    out = new_summary()
    seen: set[str] = set()
    for node in nodes:
        key = summary_key(node)
        if key not in seen:
            seen.add(key)
            merge(out, node)
    return out


def _scalar_schema_type(kind: str, state: dict[str, Any]) -> str:
    if kind == "number":
        return state["kind"]
    return kind


def to_schema(node: dict[str, Any]) -> dict[str, Any]:
    """Finalise a summary node into a JSON Schema fragment.

    Mirrors ``SchemaNode::to_schema``
    (/root/reference/genson-core/src/genson_rs/node.rs:143-182): complex
    schemas keep first-seen order, scalar types collapse into a single
    ``{"type": ...}`` entry appended last (list sorted alphabetically when
    >1), a single schema is returned bare, several become ``anyOf``.
    """
    generated: list[dict[str, Any]] = []
    scalar_types: list[str] = []
    for kind, state in node.items():
        if kind in ("array", "object"):
            generated.append(_complex_to_schema(kind, state))
        else:
            t = _scalar_schema_type(kind, state)
            if t not in scalar_types:
                scalar_types.append(t)

    if scalar_types:
        if len(scalar_types) == 1:
            generated.append({"type": scalar_types[0]})
        else:
            generated.append({"type": sorted(scalar_types)})

    if len(generated) == 1:
        return generated[0]
    if generated:
        return {"anyOf": generated}
    return {}


def _complex_to_schema(kind: str, state: dict[str, Any]) -> dict[str, Any]:
    if kind == "array":
        schema: dict[str, Any] = {"type": "array"}
        if state["items"] is not None:
            schema["items"] = to_schema(state["items"])
        return schema
    # object — /root/reference/genson-core/src/genson_rs/strategy/object.rs:247-276
    schema = {"type": "object"}
    if state["props"]:
        schema["properties"] = {
            name: to_schema(sub) for name, sub in state["props"].items()
        }
    req = state.get("required")
    if req:
        schema["required"] = sorted(req)
    return schema

