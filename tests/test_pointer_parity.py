"""JSONPointer / RelativeJSONPointer parity with the reference.

Three legs, mirroring the reference's own tests/test_jsonpointer.py:

1. the reference's OWN fixture file (tests/data/relative_jsonpointer.json,
   consumed by test_jsonpointer.py::test_relative_jsonpointer) is run
   through our ``relative_pointer`` arithmetic + a pointer walk —
   including the ``<fail>`` expectations;
2. the same fixture is machine-checked against the live in-sandbox
   reference (RelativeJSONPointer.evaluate), closing the loop;
3. every pointer addressable in a set of nested documents is evaluated
   BOTH through the reference's JSONPointer.evaluate and through our
   Spark-side ``json_pointer_get`` (one get_json_object expression on a
   JSON-string column), plus a parse/format round-trip differential
   against the reference's tokenizer (escape rules RFC 6901 §3).
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest
from conftest import REFERENCE_ABSENT, reference_params

from jschon_spark.compiler.pointer import (
    PointerError,
    format_pointer,
    json_pointer_get,
    json_pointer_to_variant_path,
    parse_pointer,
    relative_pointer,
    variant_pointer_get,
)

_HERE = os.path.dirname(os.path.abspath(__file__))
_FIXTURE = "/root/reference/tests/data/relative_jsonpointer.json"


def _walk(data, pointer: str):
    """Driver-side RFC 6901 walk (raises PointerError on a miss), used
    to evaluate the absolute pointer our relative arithmetic produces."""
    node = data
    for tok in parse_pointer(pointer):
        if isinstance(node, dict):
            if tok not in node:
                raise PointerError(f"no key {tok!r}")
            node = node[tok]
        elif isinstance(node, list):
            if not tok.isdigit():
                raise PointerError(f"bad index {tok!r}")
            i = int(tok)
            if i >= len(node):
                raise PointerError(f"index {i} out of range")
            node = node[i]
        else:
            raise PointerError(f"cannot descend into scalar with {tok!r}")
    return node


def _fixture_cases(groups):
    out = []
    for gi, group in enumerate(groups):
        for ti, t in enumerate(group["tests"]):
            out.append(
                pytest.param(
                    group["data"],
                    t["start"],
                    t["ref"],
                    t["result"],
                    id=f"g{gi}|{t['start']}|{t['ref']}",
                )
            )
    return out


FIXTURE_CASES = reference_params(_FIXTURE, _fixture_cases, argcount=4)


@pytest.mark.parametrize("data,start,ref,expected", FIXTURE_CASES)
def test_relative_pointer_fixture(data, start, ref, expected):
    """The reference's relative_jsonpointer.json fixture through OUR
    arithmetic + walk. '#' returns the final name/index (as a string on
    our side — the pointer is static at compile time, so int-ness of an
    array position is the caller's context)."""
    if expected == "<fail>":
        with pytest.raises(PointerError):
            out = relative_pointer(start, ref)
            _walk(data, out) if not ref.endswith("#") else None
        return
    out = relative_pointer(start, ref)
    if ref.endswith("#"):
        assert out == str(expected)
    else:
        # the fixture's "<data>" sentinel means "the whole document"
        want = data if expected == "<data>" else expected
        assert _walk(data, out) == want


@pytest.fixture(scope="module")
def ref_mod():
    sys.path.insert(0, os.path.join(_HERE, "ref_oracle"))
    sys.path.insert(0, "/root/reference")
    try:
        from jschon import JSON
        from jschon.jsonpointer import JSONPointer, RelativeJSONPointer
    except Exception as e:  # pragma: no cover
        pytest.skip(f"{REFERENCE_ABSENT}: {e}")
    return {"JSON": JSON, "JSONPointer": JSONPointer, "RelativeJSONPointer": RelativeJSONPointer}


@pytest.mark.parametrize("data,start,ref,expected", FIXTURE_CASES)
def test_reference_agrees_with_fixture(ref_mod, data, start, ref, expected):
    """Machine-check the fixture expectations against the live reference
    (same consumption as its test_jsonpointer.py::test_relative_jsonpointer)."""
    JSON = ref_mod["JSON"]
    RelativeJSONPointer = ref_mod["RelativeJSONPointer"]
    doc = JSON(data)
    start_node = ref_mod["JSONPointer"](start).evaluate(doc)
    if expected == "<fail>":
        with pytest.raises(Exception):
            RelativeJSONPointer(ref).evaluate(start_node)
        return
    got = RelativeJSONPointer(ref).evaluate(start_node)
    want = data if expected == "<data>" else expected
    if hasattr(got, "value"):
        assert got == want or got.value == want
    else:
        assert got == want


# ---------------------------------------------------------------------------
# absolute-pointer walk parity: reference JSONPointer.evaluate vs our
# Spark-side json_pointer_get over a JSON-string column

_DOCS = [
    {"foo": ["bar", "baz"], "highly": {"nested": {"objects": True}}},
    {"test": ["foo", "bar"], "child": {"grandchild": 12345},
     "sibling": "sibling value", "awkwardly/named~variable": True},
    ["foo", "bar", {"baz": "value"}],
    {"a b": {"c~d": ["x", {"deep": -3.5}]}},
    {"k": [[1, [2, 3]], {"m": []}], "n": "0"},
]


def _all_pointers(node, ptr=""):
    yield ptr, node
    if isinstance(node, dict):
        for k, v in node.items():
            yield from _all_pointers(v, ptr + "/" + k.replace("~", "~0").replace("/", "~1"))
    elif isinstance(node, list):
        for i, v in enumerate(node):
            yield from _all_pointers(v, f"{ptr}/{i}")


def test_json_pointer_get_matches_reference(spark, ref_mod):
    """Every addressable pointer in _DOCS: the Spark expression result
    (get_json_object) must agree with the reference's evaluate. All
    pointers for a document are evaluated in ONE select."""
    JSON, JSONPointer = ref_mod["JSON"], ref_mod["JSONPointer"]
    for doc in _DOCS:
        pointers = [p for p, _ in _all_pointers(doc) if p != ""]
        df = spark.createDataFrame([(json.dumps(doc),)], "j string")
        row = df.select(
            *[json_pointer_get("j", p).alias(f"p{i}") for i, p in enumerate(pointers)]
        ).collect()[0]
        for i, p in enumerate(pointers):
            want = JSONPointer(p).evaluate(JSON(doc))
            if hasattr(want, "value"):  # unwrap the reference's JSON node
                want = want.value
            got = row[i]
            assert got is not None, f"{p!r} resolved to SQL null, want {want!r}"
            if isinstance(want, str):
                assert got == want, (p, got, want)
            elif isinstance(want, bool):
                assert got in ("true", "false") and (got == "true") == want, (p, got, want)
            elif isinstance(want, (int, float)):
                assert math.isclose(float(got), float(want)), (p, got, want)
            else:  # containers: JSON-normalize
                assert json.loads(got) == want, (p, got, want)


def test_json_pointer_get_empty_key_delta(spark):
    """Pinned delta: Hive JSONPath can't address empty object keys, so
    the empty-token pointer resolves to SQL null (documented at
    json_pointer_get)."""
    df = spark.createDataFrame([(json.dumps({"": 1, "a": 2}),)], "j string")
    row = df.select(
        json_pointer_get("j", "/").alias("empty"),
        json_pointer_get("j", "/a").alias("a"),
    ).collect()[0]
    assert row.empty is None and row.a == "2"


def test_variant_pointer_get_matches_reference(spark, ref_mod):
    """The VARIANT walk (Spark 4 parse_json + try_variant_get) covers
    the empty-key pointers the JSONPath walk can't, plus every pointer
    of the parity docs — compared JSON-normalized against the
    reference's evaluate."""
    import pyspark.sql.functions as F

    JSON, JSONPointer = ref_mod["JSON"], ref_mod["JSONPointer"]
    docs = _DOCS + [{"": {"": [1, 2], "a'b": 3}, 'c"d': {"": None}}]
    for doc in docs:
        pointers = [p for p, _ in _all_pointers(doc) if p != ""]
        df = spark.createDataFrame([(json.dumps(doc),)], "j string")
        row = df.select(
            *[
                F.to_json(variant_pointer_get("j", p)).alias(f"p{i}")
                for i, p in enumerate(pointers)
            ]
        ).collect()[0]
        for i, p in enumerate(pointers):
            want = JSONPointer(p).evaluate(JSON(doc))
            if hasattr(want, "value"):
                want = want.value
            got = row[i]
            assert got is not None, (p, want)
            assert json.loads(got) == want, (p, got, want)


def test_variant_path_rejects_doubly_quoted_key():
    with pytest.raises(PointerError):
        json_pointer_to_variant_path("/a'b\"c")


def test_parse_format_roundtrip_matches_reference(ref_mod):
    """Tokenizer parity: for pointers with every escape interaction the
    reference's JSONPointer iterates the same unescaped keys our
    parse_pointer yields, and format_pointer(str) round-trips."""
    JSONPointer = ref_mod["JSONPointer"]
    samples = [
        "",
        "/",
        "//",
        "/~0",
        "/~1",
        "/~01",
        "/~10",
        "/a~1b/c~0d",
        "/foo/0/-",
        "/ /  ",
        "/!$&'()*+,;=",
        "/~0~1/~1~0",
    ]
    for s in samples:
        ours = parse_pointer(s)
        theirs = list(JSONPointer(s))
        assert ours == theirs, (s, ours, theirs)
        assert format_pointer(ours) == str(JSONPointer(s)) == s or s in ("",), s
