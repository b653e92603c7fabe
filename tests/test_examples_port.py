"""Port of the reference's user-facing examples/ workflows.

Each reference example (consumed by its tests/test_examples.py against
golden stdout in examples/output/) maps to the equivalent flow on this
engine:

* examples/custom_keyword.py  -> tests/test_custom_vocabulary.py (full
  differential port, including annotations);
* examples/format_validation.py -> custom format validators below;
* examples/load_from_files_{1,2,3}.py -> catalog loading flows below,
  evaluated against the example's own data files and golden verdicts;
* examples/recursive_schema_extension.py -> tree/strict-tree
  $dynamicRef rebinding below, differential against the live reference.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import REFERENCE_ABSENT
from jschon_spark.compiler import SchemaCatalog, compile_schema
from jschon_spark.testing import evaluate_batch

DATA_DIR = "/root/reference/examples/data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DATA_DIR), reason=f"{REFERENCE_ABSENT}: {DATA_DIR} not found"
)


def _load(name: str):
    with open(os.path.join(DATA_DIR, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# format_validation.py: user-registered format validators + enable_formats
# ---------------------------------------------------------------------------

# the example's schema (format_validation.py:29-40)
_IP_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://example.com/schema",
    "type": "array",
    "items": {
        "type": "string",
        "anyOf": [{"format": "ipv4"}, {"format": "ipv6"}],
    },
}


def _custom_ip_validators():
    """Column-predicate equivalents of the example's ipaddress-backed
    @format_validator('ipv4'/'ipv6') hooks (format_validation.py:8-19).
    Deliberately STRICTER than the builtins on leading zeros, so the
    test proves the user hook actually overrides the builtin."""

    def ipv4(ctx):
        octet = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
        return ctx.col.rlike(rf"^{octet}(\.{octet}){{3}}$")

    def ipv6(ctx):
        # loopback-and-beyond subset is enough for the example's data;
        # a real deployment would pass a full-grammar regex or a
        # pandas_udf over ipaddress
        return ctx.col.rlike(r"^(::1|([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4})$")

    return {"ipv4": ipv4, "ipv6": ipv6}


def test_format_validation_example(spark):
    """The example's two evaluations: ['127.0.0.1','::1'] valid,
    ['127.0.1','::1'] invalid with format errors at the anyOf branches
    (golden output examples/output/format_validation.txt)."""
    compiled = compile_schema(
        _IP_SCHEMA,
        assert_formats=True,  # ≙ catalog.enable_formats('ipv4','ipv6')
        format_validators=_custom_ip_validators(),
    )
    df = spark.createDataFrame(
        [("ok", ["127.0.0.1", "::1"]), ("bad", ["127.0.1", "::1"])],
        "id string, ips array<string>",
    )
    c = compiled.columns(df.schema["ips"].dataType, F.col("ips"))
    rows = {
        r.id: (r.valid, [(v.keyword, v.instance_path) for v in r.viols])
        for r in df.select("id", c.valid.alias("valid"), c.viols.alias("viols")).collect()
    }
    assert rows["ok"] == (True, [])
    valid, viols = rows["bad"]
    assert valid is False
    # the failing element is /0; format participates in the failed anyOf
    assert ("anyOf", "/0") in viols
    assert all(ip == "/0" for _, ip in viols)


def test_format_annotations_match_golden(spark):
    """The valid case annotates each element with its matching format
    value ('ipv4' at element 0, 'ipv6' at element 1) — the example's
    golden basic output (examples/output/format_validation.txt). The
    per-element expansion lives in the verbose surface (array items
    compile inside HOF lambdas, so the flat annotation stream carries
    row-scope units only — same exclusion the fuzz comparator applies)."""
    from jschon_spark.output import verbose_output

    df = spark.createDataFrame([(["127.0.0.1", "::1"],)], "ips array<string>")
    schema = {
        "type": "object",
        "properties": {"ips": {"type": "array", "items": _IP_SCHEMA["items"]}},
    }
    out = verbose_output(
        schema,
        df,
        instance_columns=["ips"],
        assert_formats=True,
        format_validators=_custom_ip_validators(),
    )
    fmt_units = set()

    def walk(n):
        if isinstance(n, dict):
            ann = n.get("annotations", {})
            if "format" in ann:
                fmt_units.add(
                    (n["instanceLocation"], n["keywordLocation"], ann["format"])
                )
            for v in n.get("results", []):
                walk(v)

    walk(out[0]["result"])
    assert out[0]["result"]["valid"] is True
    assert ("/ips/0", "/properties/ips/items/anyOf/0", "ipv4") in fmt_units
    assert ("/ips/1", "/properties/ips/items/anyOf/1", "ipv6") in fmt_units


def test_format_hook_overrides_builtin(spark):
    """'127.000.000.001' passes the builtin ipv4 pattern-family check
    but the example's ipaddress-backed validator rejects leading zeros;
    the user hook must win."""
    compiled = compile_schema(
        {"type": "string", "format": "ipv4"},
        assert_formats=True,
        format_validators=_custom_ip_validators(),
    )
    c = compiled.columns(T.StringType(), F.lit("127.000.000.001"))
    assert spark.range(1).select(c.valid.alias("v")).collect()[0].v is False


# ---------------------------------------------------------------------------
# load_from_files_{1,2,3}.py: catalog loading flows over the example data
# ---------------------------------------------------------------------------


def test_load_from_files_explicit_registration(spark):
    """load_from_files_1: both documents registered explicitly (≙
    JSONSchema.loadf auto-registers under $id); the org schema's $ref
    to the person schema resolves through the catalog. Golden verdict:
    {'valid': True}."""
    cat = SchemaCatalog()
    cat.add_schema(_load("person-schema.json"))
    cat.add_schema(_load("org-schema.json"))
    res = evaluate_batch(
        spark, _load("org-schema.json"), [_load("org-data.json")],
        with_violations=True, catalog=cat,
    )
    assert res[0][0] is True


def test_load_from_files_directory_source(spark):
    """load_from_files_2/3: a URI-prefix source lazily loads BOTH the
    org schema (fetched by URI, ≙ catalog.get_schema) and its $ref
    target from disk."""
    cat = SchemaCatalog()
    cat.add_directory_source("https://example.com/", DATA_DIR)
    compiled = cat.compile("https://example.com/org-schema")

    data = _load("org-data.json")
    dtype = T.StructType(
        [
            T.StructField(
                "people",
                T.ArrayType(T.StructType([T.StructField("name", T.StringType())])),
            )
        ]
    )
    df = spark.createDataFrame([(data["people"],)], dtype)
    c = compiled.columns(dtype, F.struct(F.col("people")))
    assert df.select(c.valid.alias("v")).collect()[0].v is True

    # a person whose name is not a string fails through the $ref chain
    bad_dtype = T.StructType(
        [
            T.StructField(
                "people",
                T.ArrayType(T.StructType([T.StructField("name", T.LongType())])),
            )
        ]
    )
    bad = spark.createDataFrame([([{"name": 42}],)], bad_dtype)
    cb = cat.compile("https://example.com/org-schema").columns(
        bad_dtype, F.struct(F.col("people"))
    )
    row = bad.select(cb.valid.alias("v"), cb.viols.alias("viols")).collect()[0]
    assert row.v is False
    assert any(v.instance_path == "/people/0/name" for v in row.viols)


# ---------------------------------------------------------------------------
# recursive_schema_extension.py: tree / strict-tree $dynamicRef rebinding
# ---------------------------------------------------------------------------

_TREE = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://example.com/tree",
    "$dynamicAnchor": "node",
    "type": "object",
    "properties": {
        "data": True,
        "children": {"type": "array", "items": {"$dynamicRef": "#node"}},
    },
}
_STRICT_TREE = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://example.com/strict-tree",
    "$dynamicAnchor": "node",
    "$ref": "tree",
    "unevaluatedProperties": False,
}


def test_recursive_schema_extension_example(spark):
    """examples/recursive_schema_extension.py: the strict-tree schema's
    $dynamicAnchor REBINDS tree's recursive $dynamicRef, so the
    misspelled field fails deep in the recursion — and, per the golden
    verbose output (examples/output/recursive_schema_extension.txt),
    the failed `properties` contributes NO annotation, so root-level
    unevaluatedProperties ALSO fails on 'children'. Differential: both
    engines evaluate both schemas on the example's instance plus a
    well-formed tree, comparing verdicts AND basic-output units via the
    fuzz comparator."""
    import copy
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "ref_oracle"))
    sys.path.insert(0, "/root/reference")
    from test_fuzz_parity import _compare_case

    from jschon_spark.testing import evaluate_batch

    bad = {"children": [{"daat": 1}]}       # the example's instance
    good = {"data": 1, "children": [{"data": 2, "children": []}]}
    datas = [bad, good]

    # --- Spark engine ---
    cat = SchemaCatalog()
    cat.add_schema(copy.deepcopy(_TREE))
    tree_res = evaluate_batch(
        spark, copy.deepcopy(_TREE), datas,
        with_violations=True, with_annotations=True,
    )
    strict_res = evaluate_batch(
        spark, copy.deepcopy(_STRICT_TREE), datas,
        with_violations=True, with_annotations=True, catalog=cat,
    )
    assert tree_res[0][0] is True and tree_res[1][0] is True
    assert strict_res[0][0] is False and strict_res[1][0] is True
    # the golden output's two unevaluatedProperties failures
    locs = {
        (v["keyword_path"] + "/" + v["keyword"]).rstrip("/")
        for v in strict_res[0][1]
    }
    assert "/$ref/properties/children/items/$dynamicRef/unevaluatedProperties" in locs, locs
    assert "/unevaluatedProperties" in locs, locs

    # --- reference differential ---
    try:
        from jschon import JSONSchema
        from jschon.catalog import Catalog, LocalSource, _2020_12
    except Exception as e:  # pragma: no cover
        pytest.skip(f"{REFERENCE_ABSENT}: reference not importable: {e}")
    from jschon import JSON

    meta_dir = os.path.join(os.path.dirname(__file__), "ref_oracle",
                            "json-schema-2020-12")
    orig = _2020_12.LocalSource
    _2020_12.LocalSource = lambda base_dir, **kw: LocalSource(meta_dir, **kw)
    try:
        try:
            catalog = Catalog.get_catalog("examples")
        except Exception:
            catalog = Catalog(name="examples")
            _2020_12.initialize(catalog)
    finally:
        _2020_12.LocalSource = orig

    ref_tree = JSONSchema(copy.deepcopy(_TREE), catalog=catalog, cacheid="rse")
    ref_strict = JSONSchema(copy.deepcopy(_STRICT_TREE), catalog=catalog, cacheid="rse")
    for compiled_ref, spark_results, label in (
        (ref_tree, tree_res, "tree"),
        (ref_strict, strict_res, "strict-tree"),
    ):
        verdicts, outputs = [], []
        for d in datas:
            res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
            verdicts.append(bool(res.valid))
            out = res.output("basic")
            outputs.append(out.get("annotations", []) if res.valid
                           else out.get("errors", []))
        mismatches, _ = _compare_case(datas, verdicts, outputs,
                                      spark_results, label)
        assert not mismatches, "\n".join(mismatches)
