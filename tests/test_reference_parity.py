"""RUN THE REFERENCE IMPLEMENTATION as a parity oracle.

The reference at /root/reference is not normally runnable in this
sandbox: its one external dependency (rfc3986) is absent and its
metaschema catalog submodule is empty. ``tests/ref_oracle/`` supplies a
minimal stdlib rfc3986 shim (API surface of jschon/uri.py only) and a
faithful reconstruction of the public 2020-12 metaschema documents, so
jschon itself compiles, self-validates its metaschema, and evaluates.

Every ported 2020-12 suite case (tests/test_suite_port.py) is then run
through BOTH engines: this file asserts the reference agrees with the
ported ``valid`` expectation — machine-checking the hand-ported
expectations against the actual reference — while test_suite_port.py
asserts the Spark engine against the same expectations. Together they
close the loop: Spark engine ≡ ported expectation ≡ reference.

The oracle evaluates JSON Python values directly (no Spark), so even
the heterogeneous-array cases that Untypeable-skip on the Spark side
are verified against the reference here.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

_HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture(scope="module")
def ref():
    """(catalog, jschon modules) with the shimmed reference imported."""
    sys.path.insert(0, os.path.join(_HERE, "ref_oracle"))
    sys.path.insert(0, "/root/reference")
    try:
        from jschon import JSON, JSONSchema, URI
        from jschon.catalog import Catalog, LocalSource, _2020_12
    except Exception as e:  # pragma: no cover
        pytest.skip(f"reference not importable: {e}")

    meta_dir = os.path.join(_HERE, "ref_oracle", "json-schema-2020-12")
    orig_source = _2020_12.LocalSource
    _2020_12.LocalSource = lambda base_dir, **kw: LocalSource(meta_dir, **kw)
    try:
        try:
            catalog = Catalog.get_catalog("parity")
        except Exception:
            catalog = Catalog(name="parity")
            _2020_12.initialize(catalog)
    finally:
        _2020_12.LocalSource = orig_source
    return {"catalog": catalog, "JSON": JSON, "JSONSchema": JSONSchema, "URI": URI}


def _suite_cases():
    from tests.test_suite_port import SUITE

    out = []
    for i, (fname, gdesc, schema, tests) in enumerate(SUITE):
        for tdesc, data, valid in tests:
            out.append(
                pytest.param(i, schema, data, valid, id=f"{fname}|{gdesc}|{tdesc}")
            )
    return out


try:
    sys.path.insert(0, os.path.dirname(_HERE))
    CASES = _suite_cases()
except Exception:  # pragma: no cover - collection fallback
    CASES = []

_SCHEMA_CACHE: dict = {}
_META = "https://json-schema.org/draft/2020-12/schema"


@pytest.mark.parametrize("idx,schema,data,valid", CASES)
def test_reference_agrees_with_ported_expectation(ref, idx, schema, data, valid):
    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    key = idx
    if key not in _SCHEMA_CACHE:
        try:
            _SCHEMA_CACHE[key] = JSONSchema(
                schema,
                catalog=ref["catalog"],
                cacheid=f"case-{idx}",
                metaschema_uri=URI(_META),
            )
        except Exception as e:
            _SCHEMA_CACHE[key] = e
    compiled = _SCHEMA_CACHE[key]
    if isinstance(compiled, Exception):
        pytest.skip(f"reference could not compile this schema here: {compiled}")
    got = compiled.evaluate(JSON(data)).valid
    assert got == valid, (
        f"REFERENCE disagrees with ported expectation: schema={schema!r} "
        f"data={data!r}: reference says {got}, port says {valid}"
    )


@pytest.fixture(scope="module")
def ref19(ref):
    """Catalog with the 2019-09 dialect added (legacy parity)."""
    from jschon.catalog import Catalog, LocalSource, _2019_09

    meta_dir = os.path.join(_HERE, "ref_oracle", "json-schema-2019-09")
    orig = _2019_09.LocalSource
    _2019_09.LocalSource = lambda base_dir, **kw: LocalSource(meta_dir, **kw)
    try:
        _2019_09.initialize(ref["catalog"])
    except Exception:
        pass  # already initialized on a rerun
    finally:
        _2019_09.LocalSource = orig
    return ref


def _legacy_1909_cases():
    from tests.test_suite_port_legacy import LEGACY

    out = []
    for i, (gdesc, schema, tests) in enumerate(LEGACY):
        if not (isinstance(schema, dict) and schema.get("$schema", "").startswith(
            "https://json-schema.org/draft/2019-09"
        )):
            continue
        for tdesc, data, valid in tests:
            out.append(pytest.param(1000 + i, schema, data, valid, id=f"{gdesc}|{tdesc}"))
    return out


try:
    CASES_1909 = _legacy_1909_cases()
except Exception:  # pragma: no cover
    CASES_1909 = []


@pytest.mark.parametrize("idx,schema,data,valid", CASES_1909)
def test_reference_agrees_2019_09(ref19, idx, schema, data, valid):
    JSON, JSONSchema, URI = ref19["JSON"], ref19["JSONSchema"], ref19["URI"]
    if idx not in _SCHEMA_CACHE:
        try:
            _SCHEMA_CACHE[idx] = JSONSchema(
                schema, catalog=ref19["catalog"], cacheid=f"case19-{idx}"
            )
        except Exception as e:
            _SCHEMA_CACHE[idx] = e
    compiled = _SCHEMA_CACHE[idx]
    if isinstance(compiled, Exception):
        pytest.skip(f"reference could not compile this schema here: {compiled}")
    got = compiled.evaluate(JSON(data)).valid
    assert got == valid, (
        f"REFERENCE (2019-09) disagrees with ported expectation: "
        f"schema={schema!r} data={data!r}: reference says {got}, port says {valid}"
    )


# ---------------------------------------------------------------------------
# Golden keywordLocation parity: since the compiler emits site-based
# dynamic /$ref spaths (core.py _target_spath), the engine's basic rows
# carry the SAME keywordLocation strings as the reference's basic
# output — compare them exactly (round-4 item; previously the fuzz
# comparator normalized keywordLocation down to its last token).
# ---------------------------------------------------------------------------

_GOLDEN_REF_CHAINS = [
    pytest.param(
        {
            "$id": "https://example.com/root",
            "type": "object",
            "properties": {"foo": {"$ref": "#/$defs/positive"}},
            "$defs": {
                "positive": {
                    "type": "integer",
                    "minimum": 1,
                    "allOf": [{"$ref": "#/$defs/other"}],
                },
                "other": {"multipleOf": 2},
            },
        },
        {"foo": -3},
        id="chained-refs-through-allOf",
    ),
    pytest.param(
        {
            "$id": "https://example.com/anchored",
            "properties": {"a": {"$ref": "#big"}},
            "$defs": {"big": {"$anchor": "big", "minimum": 100}},
        },
        {"a": 5},
        id="anchor-ref",
    ),
    pytest.param(
        {
            "$id": "https://example.com/tree",
            "$dynamicAnchor": "node",
            "type": "object",
            "properties": {
                "data": {"type": "integer"},
                "kids": {"type": "array", "items": {"$dynamicRef": "#node"}},
            },
        },
        {"data": 1, "kids": [{"data": "oops", "kids": []}]},
        id="recursive-dynamicRef",
    ),
    pytest.param(
        {
            "$id": "https://example.com/nested-res",
            "properties": {
                "x": {"$ref": "inner"},
            },
            "$defs": {
                "res": {
                    "$id": "https://example.com/inner",
                    "required": ["must"],
                    "properties": {"must": {"maxLength": 2}},
                }
            },
        },
        {"x": {"must": "toolong"}},
        id="nested-resource-ref",
    ),
]


@pytest.mark.parametrize("schema,data", _GOLDEN_REF_CHAINS)
def test_basic_keyword_locations_match_reference(spark, ref, schema, data):
    import copy as _copy

    from jschon_spark.testing import evaluate_batch
    from tests.test_fuzz_parity import _ref_leaf_set, _spark_leaf_set

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    compiled = JSONSchema(
        _copy.deepcopy(schema),
        catalog=ref["catalog"],
        cacheid=f"golden-{schema['$id']}",
        metaschema_uri=URI(_META),
    )
    res = compiled.evaluate(JSON(_copy.deepcopy(data)))
    assert not res.valid, "golden cases are failure cases"
    ref_rows = res.output("basic")["errors"]

    got = evaluate_batch(spark, schema, [data], with_violations=True)[0]
    assert got is not None, "golden instance must be typeable"
    sv, sviols = got[0], got[1]
    assert sv is False
    # exact string comparison of (instanceLocation, full keywordLocation)
    # over the directly comparable leaf-assertion rows
    want = _ref_leaf_set(ref_rows, strict=True)
    have = _spark_leaf_set(sviols, strict=True)
    assert want == have, f"\nreference={sorted(want)}\nspark    ={sorted(have)}"
    assert want, "golden case must exercise at least one leaf row"


@pytest.mark.parametrize("schema,data", _GOLDEN_REF_CHAINS)
def test_absolute_keyword_locations_match_reference(spark, ref, schema, data):
    """absoluteKeywordLocation parity: the compile-recorded ref-site
    prefix map translates dynamic keyword_paths to the reference's
    canonical URIs — checked via BOTH the driver-side helper
    (CompiledSchema.absolute_keyword_location) and the distributed
    basic_output expression column."""
    import copy as _copy

    from pyspark.sql import Row
    from jschon_spark.compiler import compile_schema
    from jschon_spark.output import basic_output
    from jschon_spark.testing import _to_row, infer_spark_type
    from pyspark.sql import types as T
    from tests.test_fuzz_parity import _LEAF_KEYWORDS

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    compiled_ref = JSONSchema(
        _copy.deepcopy(schema),
        catalog=ref["catalog"],
        cacheid=f"goldenabs-{schema['$id']}",
        metaschema_uri=URI(_META),
    )
    res = compiled_ref.evaluate(JSON(_copy.deepcopy(data)))
    want = {
        (e["instanceLocation"], e["keywordLocation"], e["absoluteKeywordLocation"])
        for e in res.output("basic")["errors"]
        if e["keywordLocation"].split("/")[-1] in _LEAF_KEYWORDS
    }
    assert want, "golden case must exercise leaf rows"

    dtype = infer_spark_type(data)
    df = spark.createDataFrame(
        [Row(value=_to_row(data, dtype))],
        T.StructType([T.StructField("value", dtype, True)]),
    )
    cs = compile_schema(schema)
    plan = cs.plan(dtype, F.col("value"))
    out = (
        plan.replay(df)
        .withColumn("valid", plan.valid)
        .withColumn("violations", plan.viols)
        .withColumn("rid", F.lit(1))
    )
    rows = basic_output(out, ["rid"], compiled=cs).collect()
    got_expr = {
        (r["instance_path"], r["keyword_path"], r["absolute_keyword_path"])
        for r in rows
        if r["keyword_path"].split("/")[-1] in _LEAF_KEYWORDS
    }
    got_helper = {
        (r["instance_path"], r["keyword_path"], cs.absolute_keyword_location(r["keyword_path"]))
        for r in rows
        if r["keyword_path"].split("/")[-1] in _LEAF_KEYWORDS
    }
    # instance paths at top level: our struct wrapper prefixes /value
    def strip(s):
        return {(ip.removeprefix("/value"), kp, ak) for ip, kp, ak in s}

    assert strip(got_expr) == want, f"\nref  ={sorted(want)}\nexpr ={sorted(strip(got_expr))}"
    assert strip(got_helper) == want
