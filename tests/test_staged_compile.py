"""Staged materialization of deeply nested schemas (round-4 fix).

Round 3's one real defect: Catalyst analysis expands the shared Column
DAG into a tree, and because every node's viols channel re-references
its children's `valid` trees, materialized size grew ~2x per NESTING
level — a ~600-node compile of a 7+-level-nested schema (fuzz seeds
main 5069 / ext 5088) exhausted a 12 GB driver heap at `.select()`.
The fix (core.py staged materialization): row-scope subschema nodes
whose subtree weight reaches ``STAGE_THRESHOLD`` spill their
valid/viols/cond channels into numbered stages that ``Plan.replay``
adds as successive ``withColumns`` projections, so analysis sees
bounded expressions over named attribute refs. Both fuzz seeds now run
clean against the in-sandbox reference (campaign `ok`, 40 instances
each); this module pins the nested shape as a fast regression.

Plans are built on fresh per-call state, so the module also pins what
that buys: a CompiledSchema does not grow across validate() calls, is
safe to share across threads, and reports absolute keyword locations
only from plans it has actually built.
"""

import sys
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from jschon_spark.compiler import Ctx, SchemaCatalog, compile_schema
from jschon_spark.compiler import core
from jschon_spark.output import basic_output
from jschon_spark.testing import evaluate_batch


def _nested(n: int) -> dict:
    """The OOM shape: each level layers oneOf + if/then + allOf over an
    object whose property carries the next level (≙ fuzz gen_root_schema
    nesting, tests/test_fuzz_parity.py)."""
    if n == 0:
        return {"type": "integer", "minimum": 0, "maximum": 100}
    return {
        "type": "object",
        "required": ["a"],
        "properties": {"a": _nested(n - 1), "b": {"type": "string", "minLength": 1}},
        "oneOf": [
            {"properties": {"b": {"pattern": "^x"}}},
            {"properties": {"b": {"pattern": "^y"}}, "required": ["b"]},
        ],
        "if": {"required": ["b"]},
        "then": {"properties": {"b": {"maxLength": 10}}},
        "allOf": [{"properties": {"a": {}}}, {"minProperties": 1}],
    }


def _instance(n: int, good: bool = True):
    if n == 0:
        return 50 if good else -5
    return {"a": _instance(n - 1, good), "b": "xhello"}


def test_deep_nested_schema_compiles_and_evaluates(spark):
    """9 levels of oneOf/allOf/if nesting — 2 levels past the round-3
    OOM threshold — must compile, evaluate, and agree on verdicts.
    Violations from the failing leaf must surface with the full
    instance path."""
    schema = _nested(9)
    res = evaluate_batch(
        spark, schema, [_instance(9, True), _instance(9, False)], with_violations=True
    )
    assert res[0][0] is True and res[0][1] == []
    valid, viols = res[1]
    assert valid is False
    paths = {v["instance_path"] for v in viols}
    assert "/a/a/a/a/a/a/a/a/a" in paths  # the deep failing leaf
    assert any(v["keyword"] == "minimum" for v in viols)


def test_staging_spills_intermediate_columns(spark):
    """The staged path actually engages for the nested shape (stages
    non-empty, stage-k expressions reference only earlier temps), and
    an unstaged plan — what bare ``columns()`` uses — has no stages, so
    its Columns select standalone."""
    schema = _nested(4)

    def dt(n):
        if n == 0:
            return T.LongType()
        return T.StructType(
            [T.StructField("a", dt(n - 1), True), T.StructField("b", T.StringType(), True)]
        )

    dtype = T.StructType([T.StructField("v", dt(4), True)])
    compiled = compile_schema(schema)
    plan = compiled.plan(dt(4), F.col("v"))
    assert sum(len(s) for s in plan.stages) > 0, "deep schema should spill stages"
    ctx = Ctx(col=F.col("v"), dtype=dt(4), path=F.lit(""))
    unstaged = compiled.compiler.plan(compiled.schema, ctx, trace=False, staged=False)
    assert unstaged.stages == ()

    # bare columns(): no staging — the Columns must select standalone
    row = {"a": {"a": {"a": {"a": 7, "b": "x"}, "b": "x"}, "b": "x"}, "b": "x"}
    df = spark.createDataFrame([(row,)], dtype)
    c2 = compiled.columns(dt(4), F.col("v"))
    got = df.select(c2.valid.alias("ok")).collect()[0]
    assert got["ok"] is True


def test_staged_and_unstaged_agree(spark):
    """Same schema, same instances: validate() (staged) and a direct
    columns() select (unstaged) must produce identical valid/viols."""
    schema = _nested(3)
    rows = [
        {"a": {"a": {"a": 5, "b": "xq"}, "b": "x"}, "b": "x"},
        {"a": {"a": {"a": -1, "b": "xq"}, "b": "x"}, "b": "x"},
        {"a": {"a": {"a": 5, "b": "zzz"}, "b": "x"}, "b": "x"},
    ]

    def dt(n):
        if n == 0:
            return T.LongType()
        return T.StructType(
            [T.StructField("a", dt(n - 1), True), T.StructField("b", T.StringType(), True)]
        )

    dtype = T.StructType([T.StructField("v", dt(3), True)])
    df = spark.createDataFrame([(r,) for r in rows], dtype)
    compiled = compile_schema(schema)

    # validate() roots the instance at the struct-of-columns {"v": ...},
    # so wrap the schema the same way for both sides; the unstaged side
    # applies columns() over an identical root struct.
    wrapped = {"type": "object", "required": ["v"], "properties": {"v": schema}}
    wdtype = T.StructType([T.StructField("v", dt(3), True)])
    compiled_w = compile_schema(wrapped)
    staged = compiled_w.validate(df, instance_columns=["v"]).select("valid", "violations")
    c = compiled_w.columns(wdtype, F.struct(F.col("v").alias("v")))
    plain = df.select(c.valid.alias("valid"), c.viols.alias("violations"))
    got_s = [(r["valid"], sorted((v["keyword"], v["instance_path"]) for v in r["violations"]))
             for r in staged.collect()]
    got_p = [(r["valid"], sorted((v["keyword"], v["instance_path"]) for v in r["violations"]))
             for r in plain.collect()]
    assert got_s == got_p
    assert got_s[0][0] is True and got_s[1][0] is False and got_s[2][0] is False


def test_stage_columns_dropped_from_validate_output(spark):
    schema = _nested(4)

    def dt(n):
        if n == 0:
            return T.LongType()
        return T.StructType(
            [T.StructField("a", dt(n - 1), True), T.StructField("b", T.StringType(), True)]
        )

    dtype = T.StructType([T.StructField("v", dt(4), True)])
    df = spark.createDataFrame(
        [({"a": {"a": {"a": {"a": 7, "b": "x"}, "b": "x"}, "b": "x"}, "b": "x"},)], dtype
    )
    out = compile_schema(schema).validate(df, instance_columns=["v"])
    assert not [c for c in out.columns if c.startswith("__jsv")]
    assert out.columns == ["v", "valid", "violations"]


def _dt(n):
    if n == 0:
        return T.LongType()
    return T.StructType(
        [T.StructField("a", _dt(n - 1), True), T.StructField("b", T.StringType(), True)]
    )


def _verdicts(df):
    return [
        (r["valid"], sorted((v["keyword_path"], v["instance_path"]) for v in r["violations"]))
        for r in df.orderBy("id").collect()
    ]


def test_single_application_stages_agree_with_unstaged(spark, monkeypatch):
    """With the spill threshold at one application every row-scope node
    spills, and the verdicts and violations still equal the unstaged
    Columns."""
    monkeypatch.setattr(core, "STAGE_THRESHOLD", 1)
    rows = [
        (0, {"a": {"a": {"a": 5, "b": "xq"}, "b": "x"}, "b": "x"}),
        (1, {"a": {"a": {"a": -1, "b": "xq"}, "b": "x"}, "b": "yy"}),
        (2, {"a": {"a": {"a": 5, "b": "zzz"}, "b": None}, "b": "x"}),
    ]
    df = spark.createDataFrame(rows, T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", _dt(3))]
    ))
    compiled = compile_schema(_nested(3))
    plan = compiled.plan(_dt(3), F.col("v"))
    default_stages = len(compile_schema(_nested(3)).plan(_dt(3), F.col("v")).stages)
    assert len(plan.stages) >= default_stages
    staged = plan.replay(df).select("id", plan.valid.alias("valid"), plan.viols.alias("violations"))
    c = compiled.columns(_dt(3), F.col("v"))
    plain = df.select("id", c.valid.alias("valid"), c.viols.alias("violations"))
    assert _verdicts(staged) == _verdicts(plain)
    assert [v for v, _ in _verdicts(staged)] == [True, False, False]


# unevaluatedProperties re-applies its sibling guards, which fills the
# per-plan re-application memo on every compile
_GUARDED = {
    "type": "object",
    "allOf": [{"properties": {"a": {"type": "integer"}}}],
    "anyOf": [{"properties": {"b": {"minimum": 0}}}, {"required": ["c"]}],
    "unevaluatedProperties": False,
}


def _container_sizes(obj) -> dict:
    return {
        k: len(v) for k, v in vars(obj).items() if isinstance(v, (dict, list, set, tuple))
    }


def test_validate_leaves_compiler_state_unchanged(spark):
    """Repeated validate() calls build fresh plans: after one warm-up
    call (which may load catalog documents), no container on the
    compiler grows and no per-call field appears on it."""
    df = spark.createDataFrame([(1, -2, None), (3, 4, "x")], "a long, b long, c string")
    cs = compile_schema(_GUARDED)
    cs.validate(df).collect()
    fields, sizes = set(vars(cs.compiler)), _container_sizes(cs.compiler)
    for _ in range(5):
        cs.validate(df)
    assert set(vars(cs.compiler)) == fields
    assert _container_sizes(cs.compiler) == sizes


def test_shared_compiled_schema_is_thread_safe(spark):
    """8 threads validating through ONE CompiledSchema — a fresh one, so
    their first plans also load a catalog document concurrently — get
    exactly the single-threaded result."""
    cat = SchemaCatalog()
    cat.add_schema({"$id": "https://ex.dev/ext", "$defs": {"obj": {"required": ["b"]}}})
    schema = _GUARDED | {
        "properties": {"v": _nested(4)},
        "allOf": [{"properties": {"v": {"$ref": "https://ex.dev/ext#/$defs/obj"}}}],
    }
    rows = [
        (i, {"a": {"a": {"a": {"a": a, "b": "x"}, "b": b}, "b": "x"}, "b": "xy"})
        for i, (a, b) in enumerate([(7, "x"), (-3, "x"), (7, "q" * 12), (101, None)])
    ]
    df = spark.createDataFrame(rows, T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", _dt(4))]
    ))

    def run(cs):
        return _verdicts(cs.validate(df, instance_columns=["v"]).select("id", "valid", "violations"))

    want = run(compile_schema(schema, catalog=cat))
    assert [v for v, _ in want] == [True, False, False, False]
    shared = compile_schema(schema, catalog=cat)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(lambda _: run(shared), range(8), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert got == [want] * 8


_CROSS_REF = {
    "$id": "https://ex.dev/root",
    "type": "object",
    "properties": {"a": {"$ref": "pos"}},
    "$defs": {"pos": {"$id": "https://ex.dev/pos", "minimum": 0}},
}


def test_absolute_keyword_location_needs_a_built_plan(spark):
    """absoluteKeywordLocation comes from the ref sites of the plans a
    CompiledSchema has built: before any, asking is an error (not a
    silently wrong root-document URI); after validate(), a path through
    a cross-resource $ref lands in the target resource."""
    kp = "/properties/a/$ref/minimum"
    df = spark.createDataFrame([(0, -1)], "rid long, a long")
    cs = compile_schema(_CROSS_REF)
    with pytest.raises(RuntimeError, match="no plan"):
        cs.absolute_keyword_location(kp)
    with pytest.raises(RuntimeError, match="no plan"):
        basic_output(df.withColumn("violations", F.array()), ["rid"], compiled=cs)

    out = cs.validate(df, instance_columns=["a"])
    rows = basic_output(out, ["rid"], compiled=cs).collect()
    assert [(r["keyword_path"], r["absolute_keyword_path"]) for r in rows] == [
        (kp, "https://ex.dev/pos#/minimum")
    ]
    assert cs.absolute_keyword_location(kp) == "https://ex.dev/pos#/minimum"
    assert cs.absolute_keyword_location("/type") == "https://ex.dev/root#/type"
