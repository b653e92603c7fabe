"""User-defined keyword vocabularies (catalog.create_vocabulary).

Ports the reference's worked extension example
(/root/reference/examples/custom_keyword.py: an ``enumRef`` keyword
resolving remote enumerations, activated through a custom metaschema +
vocabulary pair in examples/data/) and runs the SAME scenario through
the in-sandbox reference as a differential oracle.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import REFERENCE_ABSENT
from jschon_spark.compiler import (
    CompileError,
    CustomKeyword,
    SchemaCatalog,
    compile_schema,
)
from jschon_spark.testing import evaluate_batch

_HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = "/root/reference/examples/data"

# ≙ the example's remote_enum_cache (examples/custom_keyword.py:11-21)
ENUMS = {
    "https://example.com/remote-enum-colours": [
        "red", "orange", "yellow", "green", "blue", "indigo", "violet",
    ]
}

SCHEMA = {
    "$schema": "https://example.com/enumRef/enumRef-metaschema",
    "$id": "https://example.com/remote-enum-test-schema",
    "type": "string",
    "enumRef": "https://example.com/remote-enum-colours",
}


def _check_ref(value):
    if value not in ENUMS:
        raise ValueError(f"Unknown remote enumeration {value}")


def _enum_ref_spec() -> CustomKeyword:
    return CustomKeyword(
        key="enumRef",
        instance_types=("string",),
        check=_check_ref,
        predicate=lambda v, ctx: ctx.col.isin(*ENUMS[v]),
        message=lambda v: f"The instance is not a member of the {v} enumeration",
        annotate=lambda v: v,
    )


def _catalog() -> SchemaCatalog:
    if not os.path.isdir(DATA_DIR):  # pragma: no cover
        pytest.skip(f"{REFERENCE_ABSENT}: {DATA_DIR} not found")
    cat = SchemaCatalog()
    # the example's add_uri_source(LocalSource(data_dir, suffix='.json'))
    cat.add_directory_source("https://example.com/enumRef/", DATA_DIR)
    cat.create_vocabulary("https://example.com/enumRef", _enum_ref_spec())
    return cat


def test_enum_ref_example(spark):
    """The example's headline flow: schema valid, 'green' passes,
    'purple' fails with the keyword's message."""
    cat = _catalog()
    compiled = cat.compile(SCHEMA)
    df = spark.range(1)

    ok = compiled.columns(T.StringType(), F.lit("green"))
    assert df.select(ok.valid.alias("v")).collect()[0].v is True

    bad = compiled.columns(T.StringType(), F.lit("purple"))
    row = df.select(bad.valid.alias("v"), bad.viols.alias("viols")).collect()[0]
    assert row.v is False
    kws = {u.keyword for u in row.viols}
    assert "enumRef" in kws
    msg = next(u.error for u in row.viols if u.keyword == "enumRef")
    assert msg == (
        "The instance is not a member of the "
        "https://example.com/remote-enum-colours enumeration"
    )
    assert next(
        u.keyword_path for u in row.viols if u.keyword == "enumRef"
    ) == "/enumRef"


def test_enum_ref_annotation(spark):
    """On success the keyword annotates with its value
    (result.annotate in the example, custom_keyword.py:44-46)."""
    cat = _catalog()
    res = evaluate_batch(
        spark, SCHEMA, ["green", "purple"],
        with_violations=True, with_annotations=True, catalog=cat,
    )
    valid_green, _, anns_green = res[0]
    valid_purple, viols_purple, anns_purple = res[1]
    assert valid_green is True and valid_purple is False
    unit = [a for a in anns_green if a["keyword"] == "enumRef"]
    assert len(unit) == 1
    assert unit[0]["value_json"] == '"https://example.com/remote-enum-colours"'
    # annotation units carry the NODE's schema path; the full
    # keywordLocation is keyword_path + "/" + keyword (cf. the fuzz
    # comparator, tests/test_fuzz_parity.py)
    assert unit[0]["keyword_path"] + "/" + unit[0]["keyword"] == "/enumRef"
    # annotations of a failed evaluation are dropped (jschon drops them)
    assert not [a for a in (anns_purple or []) if a["keyword"] == "enumRef"]


def test_unknown_enum_ref_refuses(spark):
    """Compile-time value validation: an unknown reference aborts schema
    construction (the example raises JSONSchemaError from __init__)."""
    cat = _catalog()
    with pytest.raises(CompileError, match="Unknown remote enumeration"):
        cat.compile(
            {
                "$schema": "https://example.com/enumRef/enumRef-metaschema",
                "type": "string",
                "enumRef": "https://example.com/does-not-exist",
            }
        )


def test_inert_under_standard_dialect(spark):
    """Under the plain 2020-12 metaschema the vocabulary is not enabled,
    so the keyword neither validates its value nor asserts — matching
    the reference, where only the metaschema's kwclasses evaluate."""
    cat = _catalog()
    compiled = cat.compile(
        {
            "$schema": "https://json-schema.org/draft/2020-12/schema",
            # even an unknown reference is fine: the keyword is inert
            "enumRef": "https://example.com/does-not-exist",
        }
    )
    c = compiled.columns(T.StringType(), F.lit("purple"))
    assert spark.range(1).select(c.valid.alias("v")).collect()[0].v is True


def test_instance_type_scoping(spark):
    """instance_types=("string",): non-string nodes pass vacuously
    (the example ignores non-string instances)."""
    cat = _catalog()
    compiled = cat.compile(
        {
            "$schema": "https://example.com/enumRef/enumRef-metaschema",
            "enumRef": "https://example.com/remote-enum-colours",
        }
    )
    c = compiled.columns(T.IntegerType(), F.lit(42))
    assert spark.range(1).select(c.valid.alias("v")).collect()[0].v is True
    # runtime null of a string column passes vacuously too
    c = compiled.columns(T.StringType(), F.lit(None).cast("string"))
    assert spark.range(1).select(c.valid.alias("v")).collect()[0].v is True


def test_shadowing_builtin_refuses(spark):
    cat = SchemaCatalog()
    cat.create_vocabulary(
        "https://example.com/shadow",
        CustomKeyword(key="minimum", predicate=lambda v, ctx: F.lit(True)),
    )
    with pytest.raises(CompileError, match="shadows a built-in"):
        cat.compile({"type": "integer"})


def test_annotation_only_keyword(spark):
    """assertion=False: the keyword never fails, only annotates — like
    the meta-data vocabulary keywords."""
    cat = SchemaCatalog()
    cat.add_schema(
        {
            "$schema": "https://json-schema.org/draft/2020-12/schema",
            "$id": "https://example.com/tagged-meta",
            "$vocabulary": {
                "https://json-schema.org/draft/2020-12/vocab/core": True,
                "https://json-schema.org/draft/2020-12/vocab/validation": True,
                "https://example.com/tagging": True,
            },
        }
    )
    cat.create_vocabulary(
        "https://example.com/tagging",
        CustomKeyword(
            key="x-tag",
            assertion=False,
            annotate=lambda v: {"tag": v},
        ),
    )
    res = evaluate_batch(
        spark,
        {"$schema": "https://example.com/tagged-meta", "x-tag": "pii", "minLength": 2},
        ["ok", "x"],
        with_violations=True,
        with_annotations=True,
        catalog=cat,
    )
    valid_ok, _, anns_ok = res[0]
    valid_x, _, _ = res[1]
    assert valid_ok is True
    assert valid_x is False  # minLength still asserts; x-tag never does
    unit = [a for a in anns_ok if a["keyword"] == "x-tag"]
    assert len(unit) == 1 and unit[0]["value_json"] == '{"tag": "pii"}'


# ---------------------------------------------------------------------------
# Differential: the same extension scenario through the actual reference
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ref_enum_catalog():
    """A reference catalog with the enumRef vocabulary implemented via
    its own Keyword extension API — the in-sandbox analogue of
    examples/custom_keyword.py."""
    sys.path.insert(0, os.path.join(_HERE, "ref_oracle"))
    sys.path.insert(0, "/root/reference")
    try:
        from jschon import JSON, JSONSchema, JSONSchemaError, URI
        from jschon.catalog import Catalog, LocalSource, _2020_12
        from jschon.vocabulary import Keyword
    except Exception as e:  # pragma: no cover
        pytest.skip(f"{REFERENCE_ABSENT}: reference not importable: {e}")

    meta_dir = os.path.join(_HERE, "ref_oracle", "json-schema-2020-12")
    orig_source = _2020_12.LocalSource
    _2020_12.LocalSource = lambda base_dir, **kw: LocalSource(meta_dir, **kw)
    try:
        try:
            catalog = Catalog.get_catalog("customkw")
        except Exception:
            catalog = Catalog(name="customkw")
            _2020_12.initialize(catalog)
    finally:
        _2020_12.LocalSource = orig_source

    class EnumRefKeyword(Keyword):
        key = "enumRef"
        instance_types = ("string",)

        def __init__(self, parentschema, value):
            super().__init__(parentschema, value)
            if value not in ENUMS:
                raise JSONSchemaError(f"Unknown remote enumeration {value}")

        def evaluate(self, instance, result):
            if instance.data in ENUMS[self.json.value]:
                result.annotate(self.json.value)
            else:
                result.fail(
                    f"The instance is not a member of the {self.json.value} enumeration"
                )

    catalog.add_uri_source(
        URI("https://example.com/enumRef/"), LocalSource(DATA_DIR, suffix=".json")
    )
    catalog.create_vocabulary(URI("https://example.com/enumRef"), EnumRefKeyword)
    return {"catalog": catalog, "JSON": JSON, "JSONSchema": JSONSchema, "URI": URI}


def test_enum_ref_matches_reference(spark, ref_enum_catalog):
    """Verdicts AND the enumRef annotation agree with the live reference
    for the example's instances."""
    JSON, JSONSchema = ref_enum_catalog["JSON"], ref_enum_catalog["JSONSchema"]
    ref_schema = JSONSchema(dict(SCHEMA), catalog=ref_enum_catalog["catalog"])
    assert ref_schema.validate().valid is True

    cat = _catalog()
    ours = evaluate_batch(
        spark, SCHEMA, ["green", "purple"],
        with_violations=True, with_annotations=True, catalog=cat,
    )
    for data, (valid, viols, anns) in zip(["green", "purple"], ours):
        ref_res = ref_schema.evaluate(JSON(data))
        assert ref_res.valid == valid, data
        out = ref_res.output("basic")
        if valid:
            ref_units = {
                (u["keywordLocation"], repr(u["annotation"]))
                for u in out.get("annotations", [])
                if u["keywordLocation"] == "/enumRef"
            }
            our_units = {
                (
                    a["keyword_path"] + "/" + a["keyword"],
                    repr(__import__("json").loads(a["value_json"])),
                )
                for a in anns
                if a["keyword"] == "enumRef"
            }
            assert ref_units == our_units, data
        else:
            ref_errs = [
                u["error"] for u in out.get("errors", [])
                if u["keywordLocation"] == "/enumRef"
            ]
            our_errs = [
                v["error"] for v in viols if v["keyword"] == "enumRef"
            ]
            assert ref_errs == our_errs, data
