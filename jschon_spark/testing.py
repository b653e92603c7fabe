"""Harness for JSON-Schema-Test-Suite-style cases.

The reference consumes suite files of ``{description, schema, tests:
[{description, data, valid}]}`` (jschon/tests/test_suite.py:143-158) and
asserts ``JSONSchema(schema).evaluate(JSON(data)).valid``. Here a case
instance is loaded into a ONE-ROW typed DataFrame (Spark type inferred
from the JSON value) and evaluated by the compiled plan.

Heterogeneous arrays / objects with no single Spark type are reported by
``infer_spark_type`` raising ``Untypeable`` — those suite cases are
skipped with a documented semantic delta (SURVEY.md §2.9.1).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.compiler import compile_schema


class Untypeable(Exception):
    """The JSON value has no single Spark type (heterogeneous array,
    mixed-type object treated as closed struct…)."""


def _unify(a: T.DataType, b: T.DataType) -> T.DataType:
    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    nums = (T.LongType, T.DoubleType)
    if isinstance(a, nums) and isinstance(b, nums):
        return T.DoubleType()
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_unify(a.elementType, b.elementType), True)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        names = list(dict.fromkeys([f.name for f in a.fields] + [f.name for f in b.fields]))
        fields = []
        for n in names:
            ta = a[n].dataType if n in a.fieldNames() else T.NullType()
            tb = b[n].dataType if n in b.fieldNames() else T.NullType()
            fields.append(T.StructField(n, _unify(ta, tb), True))
        return T.StructType(fields)
    raise Untypeable(f"cannot unify {a} and {b}")


def infer_spark_type(data: Any) -> T.DataType:
    if data is None:
        return T.NullType()
    if isinstance(data, bool):
        return T.BooleanType()
    if isinstance(data, int):
        if not (-(2**63) <= data < 2**63):
            # arbitrary-precision integers (suite optional/bignum) have
            # no lossless Spark scalar type — documented delta
            raise Untypeable(f"integer {data} exceeds int64 range")
        return T.LongType()
    if isinstance(data, float):
        return T.DoubleType()
    if isinstance(data, str):
        return T.StringType()
    if isinstance(data, list):
        et: T.DataType = T.NullType()
        for item in data:
            et = _unify(et, infer_spark_type(item))
        return T.ArrayType(et, True)
    if isinstance(data, dict):
        return T.StructType(
            [T.StructField(k, infer_spark_type(v), True) for k, v in data.items()]
        )
    raise Untypeable(f"unsupported JSON value {data!r}")


def _to_row(data: Any, dtype: T.DataType) -> Any:
    if data is None:
        return None
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            # a NullType field is defined (by the compiler's presence
            # rule) to mean "explicitly present as null"; an instance
            # that OMITS such a field is indistinguishable from one that
            # carries null in the typed row — refuse rather than flip
            # required/unevaluated semantics silently
            if isinstance(f.dataType, T.NullType) and f.name not in data:
                raise Untypeable(
                    f"property {f.name!r} is null-typed in the unified schema but "
                    "absent in this instance — absence vs explicit null is not "
                    "representable in a typed row"
                )
        return Row(**{f.name: _to_row(data.get(f.name), f.dataType) for f in dtype.fields})
    if isinstance(dtype, T.ArrayType):
        return [_to_row(x, dtype.elementType) for x in data]
    if isinstance(dtype, T.DoubleType) and isinstance(data, int):
        return float(data)
    return data


def evaluate_instance(
    spark: SparkSession, schema: Any, data: Any, assert_formats: bool = False
) -> tuple[bool, list[Row]]:
    """Evaluate one JSON instance against one schema; returns
    (valid, violation_rows). ≙ schema.evaluate(JSON(data)) in the
    reference (jschon/jsonschema.py:191-220)."""
    dtype = infer_spark_type(data)
    if isinstance(dtype, T.NullType):
        # a bare null column: use a nullable long so Spark accepts it;
        # jtype stays 'null' because the value is always null — model it
        # with an explicitly nullable value column of void-like type
        df = spark.createDataFrame([Row(value=None)], T.StructType([T.StructField("value", T.NullType(), True)]))
    else:
        df = spark.createDataFrame(
            [Row(value=_to_row(data, dtype))], T.StructType([T.StructField("value", dtype, True)])
        )
    plan = compile_schema(schema, assert_formats=assert_formats).plan(dtype, F.col("value"))
    out = (
        plan.replay(df)
        .select(plan.valid.alias("valid"), plan.viols.alias("violations"))
        .collect()[0]
    )
    return bool(out["valid"]), list(out["violations"])


def _unify_batch(a: T.DataType, b: T.DataType) -> T.DataType:
    """Like ``_unify`` but safe for BATCHING several instances into one
    typed column: refuses to promote a struct field that is explicitly
    null in one instance (NullType field) to a concrete type carried by
    another — the promoted SQL NULL would flip from "present as null"
    to "absent" under ``_has_prop``'s presence rule (core.py:767-778).
    A field merely ABSENT from one side unifies fine (SQL NULL already
    means absent for concrete-typed fields)."""
    if a == b:
        return a
    if isinstance(a, T.NullType) or isinstance(b, T.NullType):
        # top-level / array-element nulls have no absence ambiguity,
        # but a struct FIELD NullType does; handled in the struct branch
        raise Untypeable("explicit-null vs concrete type across batch members")
    nums = (T.LongType, T.DoubleType)
    if isinstance(a, nums) and isinstance(b, nums):
        return T.DoubleType()
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        ea, eb = a.elementType, b.elementType
        # null-typed elements are explicit nulls; promoting them to a
        # concrete element type is safe (a null element stays jtype
        # 'null' — arrays have no absence concept)
        if isinstance(ea, T.NullType):
            return T.ArrayType(eb, True)
        if isinstance(eb, T.NullType):
            return T.ArrayType(ea, True)
        return T.ArrayType(_unify_batch(ea, eb), True)
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        names = list(dict.fromkeys([f.name for f in a.fields] + [f.name for f in b.fields]))
        fields = []
        for n in names:
            in_a, in_b = n in a.fieldNames(), n in b.fieldNames()
            if in_a and in_b:
                ta, tb = a[n].dataType, b[n].dataType
                if isinstance(ta, T.NullType) != isinstance(tb, T.NullType):
                    raise Untypeable(
                        f"field {n!r} is explicit-null in one batch member and "
                        "concrete-typed in another — presence would flip"
                    )
                ft = ta if isinstance(ta, T.NullType) else _unify_batch(ta, tb)
            else:
                # absent on one side: SQL NULL in a concrete-typed field
                # already means absent, so adopt the present side's type
                # (unless that type is NullType — then the absent side
                # would read as explicitly present, refuse)
                ft = a[n].dataType if in_a else b[n].dataType
                if isinstance(ft, T.NullType):
                    raise Untypeable(
                        f"field {n!r} explicit-null in one member, absent in another"
                    )
            fields.append(T.StructField(n, ft, True))
        return T.StructType(fields)
    raise Untypeable(f"cannot batch-unify {a} and {b}")


def evaluate_batch(
    spark: SparkSession,
    schema: Any,
    datas: list,
    assert_formats: bool = False,
    with_violations: bool = False,
    with_annotations: bool = False,
    **compile_kw: Any,
) -> list:
    """Evaluate MANY instances against ONE schema with as few Spark
    jobs as possible. Returns a list aligned with ``datas``: True /
    False (or, with ``with_violations``, a ``(valid, violation_rows)``
    tuple — plus an annotation-unit row list as a third member when
    ``with_annotations``), or None where the instance is Untypeable
    (documented typed-column delta, SURVEY.md §2.9.1).

    Instances are greedily grouped into unified Spark types via
    ``_unify_batch`` (presence-preserving), one DataFrame + one collect
    per group; the compiled plan is shared across groups."""
    compiled = compile_schema(schema, assert_formats=assert_formats, **compile_kw)
    results: list = [None] * len(datas)

    def _dtype_size(dt: T.DataType) -> int:
        if isinstance(dt, T.StructType):
            return 1 + sum(_dtype_size(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return 1 + _dtype_size(dt.elementType)
        return 1

    # (dtype, [(idx, data), ...]) groups; NullType top-levels together.
    # Unification is capped: a merged dtype beyond _MAX_UNIFIED nodes
    # starts a new group instead — compiled plan size grows with dtype
    # complexity (every struct field × every applicator), so unbounded
    # union-structs turn batching into a pessimization.
    _MAX_UNIFIED = 14
    groups: list = []
    null_group: list = []
    for i, data in enumerate(datas):
        try:
            dt = infer_spark_type(data)
        except Untypeable:
            continue
        if isinstance(dt, T.NullType):
            null_group.append(i)
            continue
        placed = False
        for g in groups:
            try:
                u = _unify_batch(g[0], dt)
            except Untypeable:
                continue
            if u != g[0] and _dtype_size(u) > _MAX_UNIFIED:
                continue
            g[0] = u
            g[1].append((i, data))
            placed = True
            break
        if not placed:
            groups.append([dt, [(i, data)]])

    def _outcome(row) -> object:
        if with_violations and with_annotations:
            return (bool(row["v"]), list(row["viols"]), list(row["anns"] or []))
        if with_violations:
            return (bool(row["v"]), list(row["viols"]))
        return bool(row["v"])

    def _select(df, dtype, col):
        """ONE staged plan per group (deeply nested fuzz schemas spill
        intermediate node columns instead of building one exponential
        tree). With annotation units wanted the plan is traced, and
        valid/viols/anns all derive from that single compile."""
        from jschon_spark.output import annotation_array

        plan = compiled.plan(dtype, col, trace=with_annotations)
        cols = [plan.valid.alias("v")]
        if with_violations:
            cols.append(plan.viols.alias("viols"))
        if with_annotations:
            # jschon drops every annotation of a failed evaluation
            cols.append(F.when(plan.valid, annotation_array(plan)).alias("anns"))
        return plan.replay(df).select(
            *(["id"] if "id" in df.columns else []), *cols
        )

    # Plan CONSTRUCTION stays serial (it hammers the single py4j
    # gateway), but each group's collect() — where Catalyst analysis, Janino
    # codegen and execution actually happen, the dominant cost for big
    # fuzz schemas — runs on a thread pool: Spark supports concurrent
    # actions on one session, and per-group plans are independent.
    pending: list = []  # (selected_df, handler(rows))

    if null_group:
        dtype = T.StructType([T.StructField("value", T.NullType(), True)])
        df = spark.createDataFrame([Row(value=None)], dtype)
        sel = _select(df, T.NullType(), F.col("value"))

        def _null_handler(rows, _idxs=tuple(null_group)):
            out = _outcome(rows[0])
            for i in _idxs:
                results[i] = out

        pending.append((sel, _null_handler))

    def _group_handler(rows):
        for r in rows:
            results[r["id"]] = _outcome(r)

    for dtype, members in groups:
        rows, spill = [], []
        for i, data in members:
            try:
                rows.append(Row(id=i, value=_to_row(data, dtype)))
            except Untypeable:
                spill.append((i, data))
        if rows:
            df = spark.createDataFrame(
                rows,
                T.StructType(
                    [
                        T.StructField("id", T.LongType(), False),
                        T.StructField("value", dtype, True),
                    ]
                ),
            )
            pending.append((_select(df, dtype, F.col("value")), _group_handler))
        for i, data in spill:
            # guard tripped under the unified dtype — evaluate solo
            try:
                dt = infer_spark_type(data)
                row = Row(value=_to_row(data, dt))
            except Untypeable:
                # absence-vs-null can be unrepresentable even within a
                # SINGLE instance (an array whose elements unify to a
                # struct with a NullType field one element omits) —
                # same documented typed-column delta, skip
                continue
            df = spark.createDataFrame(
                [row],
                T.StructType([T.StructField("value", dt, True)]),
            )
            def _solo_handler(rows, _i=i):
                results[_i] = _outcome(rows[0])

            pending.append((_select(df, dt, F.col("value")), _solo_handler))

    if len(pending) == 1:
        sel, handler = pending[0]
        handler(sel.collect())
    elif pending:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(pending))) as pool:
            for (_, handler), rows in zip(
                pending, pool.map(lambda p: p[0].collect(), pending)
            ):
                handler(rows)
    return results


def check_case(spark: SparkSession, schema: Any, data: Any, expected_valid: bool, **kw) -> None:
    valid, viols = evaluate_instance(spark, schema, data, **kw)
    assert valid == expected_valid, (
        f"schema={schema!r} data={data!r}: got valid={valid}, want {expected_valid}; "
        f"violations={viols}"
    )
    if not valid:
        assert len(viols) > 0, "invalid instance must carry at least one violation row"


def check_case_in_group(
    spark: SparkSession,
    schema: Any,
    tests: list,
    index: int,
    cache: dict,
    cache_key: Any,
    assert_formats: bool = False,
    **compile_kw: Any,
) -> None:
    """Batched ``check_case`` for ported-suite slabs: evaluates the whole
    ``tests`` group (``[(desc, data, expected_valid), ...]`` sharing one
    schema) through :func:`evaluate_batch` ONCE — memoized in
    ``cache[cache_key]`` — then asserts the ``index``-th case. One
    compiled plan + a handful of grouped-dtype Spark jobs per GROUP
    instead of one job per case (the round-3 suite run cost ~2 CPU-hours
    serial at one job per case). Raises :class:`Untypeable` for
    instances with no single Spark type, matching ``check_case``."""
    got = cache.get(cache_key)
    if got is None:
        got = evaluate_batch(
            spark,
            schema,
            [d for _, d, _ in tests],
            assert_formats=assert_formats,
            with_violations=True,
            **compile_kw,
        )
        cache[cache_key] = got
    _desc, data, expected_valid = tests[index]
    out = got[index]
    if out is None:
        raise Untypeable(f"instance {data!r} has no single Spark type")
    valid, viols = out
    assert valid == expected_valid, (
        f"schema={schema!r} data={data!r}: got valid={valid}, want {expected_valid}; "
        f"violations={viols}"
    )
    if not valid:
        assert len(viols) > 0, "invalid instance must carry at least one violation row"
