"""Schema inference: profile a DataFrame in ONE distributed
aggregation pass and emit a JSON Schema (2020-12) that the observed
data satisfies — the reverse direction of the compiler, closing the
infer → validate → monitor loop a validation pipeline needs when no
hand-written schema exists yet.

What is inferred, per column:

- Spark type → JSON Schema ``type`` (the same mapping
  spark_schema.py uses in the forward direction, cited there against
  jschon/jsonschema.py's instance typing);
- nullability OBSERVED (null count > 0), not declared — a nullable
  column with no observed nulls becomes ``required``;
- numerics: ``minimum`` / ``maximum`` from the observed range;
- strings: ``minLength`` / ``maxLength``; when the approx distinct
  count is small (≤ ``enum_limit``), the exact value set becomes an
  ``enum`` (the approx count GATES the exact collect, so the
  data-sized aggregation never collects an unbounded set);
- arrays: ``minItems`` / ``maxItems`` plus item typing;
- structs: recurse into a nested object schema.

Everything is one ``df.agg(...)`` — partial-aggregated map-side,
a single reduce, output is O(columns), never O(rows). The optional
enum pass is a second scan restricted to the gated columns.

The emitted schema deliberately describes the OBSERVED data (closed
ranges, observed-null requiredness). Validating the profiled table
against its own inferred schema passes by construction
(tests/test_infer.py pins this round trip through the real compiler);
new data violating it is exactly the drift a monitor wants to see.

Reference: jschon validates but never infers (no equivalent surface);
this extends the engine per the brief's table-level mandate.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.compiler.context import is_integral, is_numeric

DEFAULT_ENUM_LIMIT = 16


def profile_table(
    df: DataFrame, enum_limit: int = DEFAULT_ENUM_LIMIT
) -> dict[str, dict[str, Any]]:
    """Column profiles in one aggregation pass (plus one gated enum
    scan). Returns {column: {type, n_nulls, min, max, min_length,
    max_length, approx_distinct, enum?}} for top-level columns."""
    aggs = []
    metas: list[tuple[str, str]] = []  # (column, kind)
    for f in df.schema.fields:
        c, dt = f.name, f.dataType
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        if is_numeric(dt):
            aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
            metas.append((c, "numeric"))
        elif isinstance(dt, T.StringType):
            aggs += [
                F.min(F.length(c)).alias(f"{c}__minlen"),
                F.max(F.length(c)).alias(f"{c}__maxlen"),
                F.approx_count_distinct(c).alias(f"{c}__approx"),
            ]
            metas.append((c, "string"))
        elif isinstance(dt, T.ArrayType):
            aggs += [
                F.min(F.size(c)).alias(f"{c}__minitems"),
                F.max(F.size(c)).alias(f"{c}__maxitems"),
            ]
            metas.append((c, "array"))
        elif isinstance(dt, T.BooleanType):
            metas.append((c, "boolean"))
        else:
            metas.append((c, "opaque"))
    row = df.agg(*aggs).collect()[0].asDict()

    profiles: dict[str, dict[str, Any]] = {}
    enum_candidates = []
    for c, kind in metas:
        p: dict[str, Any] = {"kind": kind, "n_nulls": int(row[f"{c}__nulls"] or 0)}
        if kind == "numeric":
            p["min"], p["max"] = row[f"{c}__min"], row[f"{c}__max"]
        elif kind == "string":
            p["min_length"] = row[f"{c}__minlen"]
            p["max_length"] = row[f"{c}__maxlen"]
            p["approx_distinct"] = int(row[f"{c}__approx"] or 0)
            # HLL error ~2%; 2x headroom keeps the gate safe
            if 0 < p["approx_distinct"] <= 2 * enum_limit:
                enum_candidates.append(c)
        elif kind == "array":
            p["min_items"] = row[f"{c}__minitems"]
            p["max_items"] = row[f"{c}__maxitems"]
        profiles[c] = p

    if enum_candidates:
        sets = df.agg(
            *[F.collect_set(c).alias(c) for c in enum_candidates]
        ).collect()[0]
        for c in enum_candidates:
            vals = sorted(sets[c])
            if len(vals) <= enum_limit:
                profiles[c]["enum"] = vals
    return profiles


def _field_schema(dt: T.DataType, profile: dict[str, Any] | None) -> dict[str, Any]:
    p = profile or {}
    if is_numeric(dt):
        out: dict[str, Any] = {"type": "integer" if is_integral(dt) else "number"}
        if p.get("min") is not None:
            out["minimum"] = p["min"]
        if p.get("max") is not None:
            out["maximum"] = p["max"]
        return out
    if isinstance(dt, T.StringType):
        out = {"type": "string"}
        if "enum" in p:
            out = {"enum": p["enum"]}
        else:
            if p.get("min_length") is not None:
                out["minLength"] = int(p["min_length"])
            if p.get("max_length") is not None:
                out["maxLength"] = int(p["max_length"])
        return out
    if isinstance(dt, T.BooleanType):
        return {"type": "boolean"}
    if isinstance(dt, T.ArrayType):
        out = {"type": "array", "items": _field_schema(dt.elementType, None)}
        if p.get("min_items") is not None:
            out["minItems"] = int(p["min_items"])
        if p.get("max_items") is not None:
            out["maxItems"] = int(p["max_items"])
        return out
    if isinstance(dt, T.StructType):
        return {
            "type": "object",
            "properties": {
                f.name: _field_schema(f.dataType, None) for f in dt.fields
            },
        }
    return {}  # opaque (binary/timestamp/map): unconstrained


def infer_schema(
    df: DataFrame,
    enum_limit: int = DEFAULT_ENUM_LIMIT,
    columns: list[str] | None = None,
) -> dict[str, Any]:
    """Infer a 2020-12 object schema over ``columns`` (default: all).
    See the module docstring for semantics; the result compiles with
    compile_schema and accepts the profiled table by construction."""
    if columns is not None:
        df = df.select(*columns)
    profiles = profile_table(df, enum_limit=enum_limit)
    props = {}
    required = []
    for f in df.schema.fields:
        props[f.name] = _field_schema(f.dataType, profiles.get(f.name))
        if profiles[f.name]["n_nulls"] == 0:
            required.append(f.name)
    out: dict[str, Any] = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "type": "object",
        "properties": props,
    }
    if required:
        out["required"] = required
    return out
