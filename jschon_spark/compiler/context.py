"""Compiler IR: typed evaluation contexts and compiled check results.

The reference walks a ``JSON`` node tree with a ``Result`` tree
(jschon/jsonschema.py:191-220, 343-553). Here the instance is a typed
DataFrame row; a *context* addresses one node of it (a Column expression
plus its static Spark type and a JSON-Pointer path Column), and a
*compiled* node is a pair of Columns: a boolean validity and an
array-of-violation-structs (≙ jschon's ``basic`` output rows,
jschon/output.py:46-70).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# one row per failed keyword — mirrors the `basic` output unit
# {instanceLocation, keywordLocation, error} (jschon/output.py:54-59)
VIOLATION_DDL = (
    "array<struct<instance_path:string,keyword_path:string,keyword:string,error:string>>"
)
VIOLATION_STRUCT = T.StructType(
    [
        T.StructField("instance_path", T.StringType()),
        T.StructField("keyword_path", T.StringType()),
        T.StructField("keyword", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def empty_violations() -> Column:
    """A typed empty violations array (safe operand for ``concat``)."""
    return F.array().cast(VIOLATION_DDL)


def escape_pointer(token: str) -> str:
    """RFC 6901 token escaping (reference jschon/jsonpointer.py:257-273)."""
    return token.replace("~", "~0").replace("/", "~1")


def escape_pointer_col(token: Column) -> Column:
    """RFC 6901 escaping of a RUNTIME token Column (dynamic map keys)."""
    return F.replace(F.replace(token, F.lit("~"), F.lit("~0")), F.lit("/"), F.lit("~1"))


@dataclass(frozen=True)
class Ctx:
    """Addresses one instance node during compilation.

    col    -- Column producing the node's value (may be a lambda variable
              when compiling inside a higher-order function)
    dtype  -- static Spark type of that value (drives jschon's
              ``instance_types`` gate at *compile* time — type-mismatched
              keywords constant-fold away, cf. jschon/vocabulary/__init__.py:131)
    path   -- Column<string>: JSON-Pointer instance location
    spath  -- static string: schema-relative keyword location prefix
    depth  -- compile recursion depth guard (for $ref cycles)
    scope  -- outermost-first canonical URIs of the schema RESOURCES
              entered on this compile path — the static image of
              jschon's dynamic scope (jschon/jsonschema.py:226-241),
              consulted by $dynamicRef rebinding
    """

    col: Column
    dtype: T.DataType
    path: Column
    spath: str = ""
    depth: int = 0
    scope: tuple = ()
    # True once compilation enters a higher-order-function lambda: the
    # node's columns reference lambda variables and cannot be selected
    # at row scope (verbose tracing skips such subtrees)
    no_trace: bool = False
    # Condition under which this schema node is actually APPLIED to the
    # instance (None = unconditionally). Conditional applicators
    # (then/else on the if outcome, properties on presence, prefixItems
    # on index < length, dependentSchemas on trigger presence) AND
    # their condition in via ``with_applied``; annotation collection
    # uses it so annotations never flow from unapplied subschemas
    # (mirrors the reference's Result tree, jschon/jsonschema.py:343+ —
    # an unapplied subschema has no Result node at all)
    applied: Optional[Column] = None
    # True once compilation entered this node through $ref/$dynamicRef
    # inlining: the subtree's trace entries are DYNAMIC-path aliases of
    # the target's static site, and the canonical (non-ref) application
    # of the same spath must win the once-per-static-site trace slot
    # (the reference reports ref-traversals under .../$ref/... keyword
    # locations instead, jschon/jsonschema.py Result.path)
    via_ref: bool = False
    # True for the DIRECT subschema of a `not` keyword: the reference's
    # NotKeyword evaluates that subschema into the `not` result node
    # itself and then force-flips the outcome (applicator.py:77-86), so
    # the result-TREE node at "/not" carries the NEGATED subschema
    # validity. The output walks (errors descend through invalid nodes,
    # annotations through valid ones) follow that flipped value; apply()
    # consumes this flag for exactly one node and resets it for children
    negate_result: bool = False

    def with_applied(self, cond: Column) -> "Ctx":
        return replace(
            self, applied=cond if self.applied is None else (self.applied & cond)
        )

    def child(self, col: Column, dtype: T.DataType, path: Column, spath_suffix: str) -> "Ctx":
        return replace(
            self,
            col=col,
            dtype=dtype,
            path=path,
            spath=self.spath + spath_suffix,
            depth=self.depth + 1,
        )

    def field(self, name: str) -> "Ctx":
        """Descend into a struct field / map value named ``name``."""
        dtype = self.dtype
        if isinstance(dtype, T.StructType):
            sub = dtype[name].dataType
            col = self.col.getField(name)
        elif isinstance(dtype, T.MapType):
            sub = dtype.valueType
            col = F.try_element_at(self.col, F.lit(name))
        else:  # pragma: no cover - guarded by callers
            raise TypeError(f"cannot descend into {dtype}")
        return replace(
            self,
            col=col,
            dtype=sub,
            path=F.concat(self.path, F.lit("/" + escape_pointer(name))),
            depth=self.depth + 1,
        )

    def element(self, col: Column, index: Column) -> "Ctx":
        """Descend into an array element (inside a HOF lambda)."""
        assert isinstance(self.dtype, T.ArrayType)
        return replace(
            self,
            col=col,
            dtype=self.dtype.elementType,
            path=F.concat(self.path, F.lit("/"), index.cast("string")),
            depth=self.depth + 1,
        )


@dataclass(frozen=True)
class Compiled:
    """One compiled schema node applied at a context.

    valid -- boolean Column, never null (three-valued logic resolved)
    viols -- Column of VIOLATION_DDL; empty array iff no asserted keyword
             failed. Kept separate from ``valid`` so the hot path (flag
             output) can use the cheap boolean conjunction alone.
    cond  -- violations from noassert ``if`` subtrees PENDING the gate of
             the nearest enclosing RESULT-TREE node. In the reference, a
             subschema applied by an applicator gets no result node of
             its own — its keyword results attach directly to the
             applicator keyword's node (JSONSchema.evaluate runs with
             the applicator's result as parent, jschon/jsonschema.py:
             191-220) — and the basic-output error walk descends only
             through INVALID nodes (output.py:47-60). A failed `if`
             never asserts, so its errors surface iff the applicator
             node itself is invalid, NOT iff the containing subschema
             application is. Handlers therefore export these viols
             unresolved and each applicator folds them in via
             ``resolve_node`` under its own node-validity gate.
             None ≡ empty (zero cost for if-free schemas).
    """

    valid: Column
    viols: Column
    cond: Optional[Column] = None

    @staticmethod
    def passed() -> "Compiled":
        return Compiled(F.lit(True), empty_violations())


def make_violation(ctx: Ctx, keyword: str, error: Column | str, path: Optional[Column] = None) -> Column:
    """Build a single violation struct at ``ctx`` for ``keyword``."""
    err = F.lit(error) if isinstance(error, str) else error
    kw_path = ctx.spath + "/" + escape_pointer(keyword) if keyword else ctx.spath
    return F.struct(
        (path if path is not None else ctx.path).alias("instance_path"),
        F.lit(kw_path or "/").alias("keyword_path"),
        F.lit(keyword).alias("keyword"),
        err.alias("error"),
    )


def leaf(ctx: Ctx, keyword: str, pred: Column, error: Column | str, applies: Column | None = None) -> Compiled:
    """Compile a leaf assertion keyword.

    ``pred`` is the keyword's predicate over a *non-null, type-matching*
    value. ``applies`` (default: value not null) is the runtime type
    gate — when it is false the keyword passes vacuously, mirroring
    jschon's ``instance_types`` skip (jschon/jsonschema.py:208-209).
    """
    applies = ctx.col.isNotNull() if applies is None else applies
    valid = F.when(applies, F.coalesce(pred, F.lit(False))).otherwise(F.lit(True))
    return assertion(ctx, keyword, valid, error)


def assertion(
    ctx: Ctx, keyword: str, valid: Column, error: Column | str, *children: Optional[Column]
) -> Compiled:
    """The result node of one keyword: ``valid``, plus one violation row
    for ``keyword`` at ``ctx`` where it is false, followed by the viols
    of ``children`` (a failing applicator's subresults; None ≡ empty)."""
    viols = F.when(
        ~valid, concat_viols(F.array(make_violation(ctx, keyword, error)), *children)
    ).otherwise(empty_violations())
    return Compiled(valid, viols)


def concat_viols(*cols: Column) -> Column:
    cols = [c for c in cols if c is not None]
    if not cols:
        return empty_violations()
    if len(cols) == 1:
        return cols[0]
    return F.concat(*cols)


def combine(parts: list[Compiled]) -> Compiled:
    """Fold sibling keyword results: node fails iff any asserted keyword
    failed (jschon/jsonschema.py:213-218). Pending noassert-if viols
    (``cond``) are merged, not resolved — the caller owns the gate."""
    if not parts:
        return Compiled.passed()
    valid = parts[0].valid
    for p in parts[1:]:
        valid = valid & p.valid
    conds = [p.cond for p in parts if p.cond is not None]
    return Compiled(
        valid,
        concat_viols(*[p.viols for p in parts]),
        concat_viols(*conds) if conds else None,
    )


def gate_compiled(c: Compiled, cond: Column) -> Compiled:
    """Gate a subschema application on ``cond`` (presence / index-in-range
    / applicability): when false the application vacuously passes and —
    matching the reference, where an unapplied subschema has no result
    nodes at all — contributes neither viols nor pending if-viols."""
    return Compiled(
        F.when(cond, c.valid).otherwise(F.lit(True)),
        F.when(cond, c.viols).otherwise(empty_violations()),
        None if c.cond is None else F.when(cond, c.cond).otherwise(empty_violations()),
    )


def resolve_node(c: Compiled) -> Compiled:
    """Fold pending noassert-if viols into this RESULT NODE's viols,
    gated on the node being invalid (the basic-output error walk
    descends only through invalid result nodes, jschon/output.py:47-60;
    subschema keyword results attach directly to the applicator's node,
    jschon/jsonschema.py:191-220)."""
    if c.cond is None:
        return c
    return Compiled(
        c.valid,
        concat_viols(
            c.viols, F.when(~c.valid, c.cond).otherwise(empty_violations())
        ),
        None,
    )


# ---------------------------------------------------------------------------
# JSON type model over Spark types (reference jschon/json.py:89-91, 120-151)
# ---------------------------------------------------------------------------

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)


def jtype_of(dtype: T.DataType) -> str:
    """Static JSON type of a Spark type. Binary has no JSON counterpart
    and matches nothing (the audio ``bytes`` column is opaque)."""
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, _INTEGRAL):
        return "integer"
    if isinstance(dtype, _FRACTIONAL):
        return "number"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dtype, T.NullType):
        return "null"
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "string"  # dates serialize as strings in JSON
    return "binary"


def is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INTEGRAL + _FRACTIONAL)


def is_integral(dtype: T.DataType) -> bool:
    return isinstance(dtype, _INTEGRAL)
