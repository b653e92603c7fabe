"""Derive a Spark ``DataType`` from a JSON Schema, and validate dynamic
JSON-string columns.

The reference is schemaless — any JSON shape is accepted at runtime
(jschon/json.py:120-151). Spark wants static types, so for *dynamic*
payload columns (a JSON string like ``events.props``) we derive the
Spark type FROM the schema itself, parse with ``from_json``, and then
run the ordinary compiled validation over the typed result
(SURVEY.md §1.4, "JSON-column" row). Parse failures surface as a
dedicated ``jsonParse`` violation — the reference raises at load time
(jschon/utils.py:63-74); at table scale a malformed row must be a
violation row, not a job abort.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.compiler.context import (
    Ctx,
    VIOLATION_DDL,
    concat_viols,
    empty_violations,
    make_violation,
)


class SchemaDerivationError(Exception):
    """The JSON Schema does not pin down a Spark type."""


_PRIMITIVES = {
    "string": T.StringType(),
    "integer": T.LongType(),
    "number": T.DoubleType(),
    "boolean": T.BooleanType(),
    "null": T.NullType(),
}


def _value_type(v: Any) -> T.DataType:
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, list):
        if not v:
            return T.ArrayType(T.StringType())
        return T.ArrayType(_value_type(v[0]))
    if isinstance(v, dict):
        return T.StructType(
            [T.StructField(k, _value_type(val)) for k, val in sorted(v.items())]
        )
    return T.StringType()


def _resolve_local_ref(root: dict, ref: str) -> Any:
    if not ref.startswith("#"):
        raise SchemaDerivationError(f"only local $ref supported for type derivation: {ref}")
    node: Any = root
    frag = ref[1:].lstrip("/")
    if frag:
        for tok in frag.split("/"):
            tok = tok.replace("~1", "/").replace("~0", "~")
            node = node[tok]
    return node


def spark_schema_for(schema: Any, _root: Any = None, _depth: int = 0) -> T.DataType:
    """Spark type implied by a (2020-12) JSON Schema.

    Supported: ``type`` (single or [X, "null"]), ``properties`` /
    ``required`` for objects, ``additionalProperties`` with a typed
    subschema (→ MapType when no named properties), ``items`` /
    ``prefixItems`` for arrays, ``enum``/``const`` value shapes, local
    ``$ref``, and ``allOf`` property merging. Anything that leaves the
    shape open (untyped schemas, mixed-type unions) raises — the caller
    should then model the column as a plain JSON string.
    """
    if _depth > 32:
        raise SchemaDerivationError("recursive $ref cannot be given a static Spark type")
    root = schema if _root is None else _root
    if schema is True or schema == {}:
        raise SchemaDerivationError("schema does not constrain the type")
    if not isinstance(schema, dict):
        raise SchemaDerivationError(f"cannot derive a type from {schema!r}")

    if "$ref" in schema:
        return spark_schema_for(_resolve_local_ref(root, schema["$ref"]), root, _depth + 1)

    if "const" in schema:
        return _value_type(schema["const"])
    if "enum" in schema and schema["enum"]:
        kinds = {type(v) if not isinstance(v, bool) else bool for v in schema["enum"]}
        if len(kinds) == 1:
            return _value_type(schema["enum"][0])
        raise SchemaDerivationError("enum mixes JSON types")

    if "allOf" in schema:
        merged: dict = {}
        for part in schema["allOf"]:
            resolved = (
                _resolve_local_ref(root, part["$ref"])
                if isinstance(part, dict) and "$ref" in part
                else part
            )
            if isinstance(resolved, dict):
                for k, v in resolved.items():
                    if k == "properties":
                        merged.setdefault("properties", {}).update(v)
                    else:
                        merged.setdefault(k, v)
        merged.pop("allOf", None)
        base = {k: v for k, v in schema.items() if k != "allOf"}
        for k, v in merged.items():
            if k == "properties":
                base.setdefault("properties", {})
                base["properties"] = {**v, **base["properties"]}
            else:
                base.setdefault(k, v)
        return spark_schema_for(base, root, _depth + 1)

    jtype = schema.get("type")
    if isinstance(jtype, list):
        non_null = [t for t in jtype if t != "null"]
        if len(non_null) != 1:
            raise SchemaDerivationError(f"mixed-type union not representable: {jtype}")
        jtype = non_null[0]

    if jtype is None:
        if "properties" in schema or "additionalProperties" in schema:
            jtype = "object"
        elif "items" in schema or "prefixItems" in schema:
            jtype = "array"
        else:
            raise SchemaDerivationError("schema has no type and no structural keywords")

    if jtype in _PRIMITIVES:
        return _PRIMITIVES[jtype]
    if jtype == "array":
        # Spark arrays are homogeneous: EVERY contributing subschema
        # (each prefixItems entry, plus items) must agree on one element
        # type — a heterogeneous tuple schema would silently null out
        # mismatched elements under from_json, so it must raise instead.
        elem_types: list[T.DataType] = []
        items = schema.get("items")
        if isinstance(items, (dict, bool)) and items is not True:
            elem_types.append(spark_schema_for(items, root, _depth + 1))
        for i, sub in enumerate(schema.get("prefixItems") or []):
            elem_types.append(spark_schema_for(sub, root, _depth + 1))
        if not elem_types:
            raise SchemaDerivationError("array schema without typed items")
        if any(t != elem_types[0] for t in elem_types[1:]):
            raise SchemaDerivationError(
                f"heterogeneous array element types not representable: "
                f"{[str(t) for t in elem_types]}"
            )
        return T.ArrayType(elem_types[0])
    if jtype == "object":
        props = schema.get("properties")
        if props:
            fields = [
                T.StructField(name, spark_schema_for(sub, root, _depth + 1))
                for name, sub in props.items()
            ]
            return T.StructType(fields)
        addl = schema.get("additionalProperties")
        if isinstance(addl, dict):
            return T.MapType(T.StringType(), spark_schema_for(addl, root, _depth + 1))
        raise SchemaDerivationError("object schema without properties")
    raise SchemaDerivationError(f"unsupported type {jtype!r}")


def validate_json_column(
    df: DataFrame,
    schema: Any,
    json_col: str,
    valid_col: str = "valid",
    violations_col: str = "violations",
    parsed_col: str | None = None,
    assert_formats: bool = False,
) -> DataFrame:
    """Validate a JSON-string column against a compiled schema.

    ``from_json`` with the derived type (null on malformed input —
    PERMISSIVE mode), then the standard Catalyst predicate tree over the
    parsed struct. A row whose payload is present but unparseable gets a
    single ``jsonParse`` violation; a null payload is the JSON ``null``
    instance (vacuously valid unless the schema requires otherwise).
    """
    from jschon_spark.compiler import compile_schema

    dtype = spark_schema_for(schema)
    # MATERIALIZE the parse in its own projection: the compiled keyword
    # tree references the parsed node many times, and inlining the
    # from_json expression would re-parse the JSON string once per
    # reference per row (measured 7 s → 1 s at sf0.1) and bloat the
    # generated code. CollapseProject keeps non-cheap expressions in
    # their own Project, so the scan parses exactly once.
    tmp_parsed = f"__{json_col}_parsed"
    tmp_corrupt = f"__{json_col}_corrupt"
    if isinstance(dtype, T.StructType):
        # PERMISSIVE from_json yields an all-null struct (not a null) on
        # malformed input — detect corruption via a corrupt-record field,
        # then re-project the clean struct so the extra field never leaks
        # into object-keyword semantics (additionalProperties etc.)
        corrupt = "_corrupt_json"
        wide = T.StructType(list(dtype.fields) + [T.StructField(corrupt, T.StringType())])
        raw = F.from_json(
            F.col(json_col), wide, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt}
        )
        staged = df.withColumn(tmp_corrupt, raw)
        parse_failed_extra = F.col(tmp_corrupt).getField(corrupt).isNotNull()
        staged = staged.withColumn(
            tmp_parsed,
            F.when(
                F.col(json_col).isNotNull() & ~parse_failed_extra,
                F.struct(
                    *[F.col(tmp_corrupt).getField(f.name).alias(f.name) for f in dtype.fields]
                ),
            ),
        )
    else:
        staged = df.withColumn(tmp_parsed, F.from_json(F.col(json_col), dtype)).withColumn(
            tmp_corrupt, F.lit(None).cast("string")
        )
        parse_failed_extra = F.lit(False)
    parsed = F.col(tmp_parsed)
    plan = compile_schema(schema, assert_formats=assert_formats).plan(dtype, parsed)
    staged = plan.replay(staged)
    parse_failed = (F.col(json_col).isNotNull() & parsed.isNull()) | parse_failed_extra
    parse_viol = F.when(
        parse_failed,
        F.array(
            make_violation(
                Ctx(col=parsed, dtype=dtype, path=F.lit(""), spath=""),
                "jsonParse",
                "payload is not parseable JSON for the derived schema",
            )
        ),
    ).otherwise(empty_violations())
    valid = F.when(parse_failed, F.lit(False)).otherwise(plan.valid)
    viols = F.when(parse_failed, parse_viol).otherwise(plan.viols)
    out = staged.withColumn(valid_col, valid).withColumn(violations_col, viols)
    if parsed_col:
        out = out.withColumn(parsed_col, parsed)
    return plan.drop_temps(out.drop(tmp_parsed, tmp_corrupt))
