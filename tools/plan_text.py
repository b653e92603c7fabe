"""Dump the normalized text of compiled plans over a fixed schema corpus.

A compiler refactor that must not change what the compiler emits is
checked by dumping at the parent commit and at the change, then
comparing the two files byte for byte:

    python tools/plan_text.py --out /tmp/plans_parent.json   # parent checkout
    python tools/plan_text.py --out /tmp/plans_change.json   # the change
    cmp /tmp/plans_parent.json /tmp/plans_change.json

The script imports the package and the test modules of the checkout it
lives in, so copy it into a clone of the parent to run it there.

The corpus:

* ``suite`` -- every group of the ported JSON-Schema-Test-Suite slabs
  (tests/test_suite_port.py and tests/test_suite_port_legacy.py), at
  the fixed Spark types (``FIXED_TYPES``) plus each test instance's inferred type;
* ``fuzz/<family>`` -- every schema the tests/test_fuzz_parity.py
  generators build for its pytest seed ranges, at the fixed types plus
  each generated instance's inferred type (the generators need no
  reference checkout);
* ``named`` -- CLIP_SCHEMA, ORDERS_SCHEMA and CUSTOMER_SCHEMA at the
  row types their callers validate.

Every (schema, type) is planned with trace off and on. A plan's text is
the repr() of ``plan.valid``, ``plan.viols``, every stage temp, every
trace entry's path/valid/viols/cond/applied, the custom annotations and
the ref sites. PySpark names lambda variables ``x_N``/``y_N``/``z_N``
from a process-wide counter, so they are renumbered in order of
appearance. A compile or plan that raises records the error instead.
The output maps each plan key to the sha256 of its text (``--text``
stores the text itself, for diffing two dumps that differ).
"""

from __future__ import annotations

import argparse
import copy
import hashlib
import json
import os
import random
import re
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

FIXED_TYPES = [
    T.NullType(),
    T.BooleanType(),
    T.LongType(),
    T.DoubleType(),
    T.StringType(),
    T.ArrayType(T.LongType()),
    T.StructType([T.StructField("foo", T.LongType()), T.StructField("bar", T.StringType())]),
    T.MapType(T.StringType(), T.LongType()),
    T.MapType(T.StringType(), T.ArrayType(T.StringType())),
]

_LAMBDA_VAR = re.compile(r"\b([xyz])_(\d+)\b")
# a Python UDF's column text carries the Origin of its argument: a JVM
# array printed by identity hash ("[Ljava.lang.StackTraceElement;@6964")
# and the Python call site ("Some((col,/path/to/plan_text.py:123))")
_ORIGIN = re.compile(r";@[0-9a-f]+|Some\(\((\w+),[^()]*:\d+\)\)")


def normalize(text: str) -> str:
    """Renumber lambda variables by order of first appearance and drop
    the run- and path-dependent parts of UDF origins."""
    seen: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        return seen.setdefault(m.group(0), f"{m.group(1)}_{len(seen)}")

    text = _ORIGIN.sub(lambda m: ";@" if m.group(1) is None else f"Some(({m.group(1)}))", text)
    return _LAMBDA_VAR.sub(sub, text)


def plan_text(plan) -> str:
    lines = [f"valid {plan.valid!r}", f"viols {plan.viols!r}"]
    for k, stage in enumerate(plan.stages):
        for name, col in stage:
            lines.append(f"stage {k} {name} {col!r}")
    for spath, (_schema, path, node, applied, dtype, _col) in plan.trace_entries:
        lines.append(
            f"trace {spath!r} {dtype.simpleString()} path {path!r} valid {node.valid!r}"
            f" viols {node.viols!r} cond {node.cond!r} applied {applied!r}"
        )
    for spath, anns in sorted(plan.custom_annotations.items()):
        for key, ann, nonnull, own in anns:
            lines.append(f"annotation {spath!r} {key} {ann} {nonnull} {own!r}")
    for spath, uri in sorted(plan.ref_sites.items()):
        lines.append(f"ref {spath!r} {uri}")
    return normalize("\n".join(lines))


def inferred_types(datas) -> list:
    """FIXED_TYPES plus the inferred type of each instance that has one."""
    from jschon_spark.testing import Untypeable, infer_spark_type

    out = list(FIXED_TYPES)
    for d in datas:
        try:
            out.append(infer_spark_type(d))
        except Untypeable:
            continue
    return out


def instance_types(tests) -> list:
    return inferred_types([d for _, d, _ in tests])


def suite_cases():
    import test_suite_port as sp
    import test_suite_port_legacy as sl

    for gi, (fname, _g, schema, tests) in enumerate(sp.SUITE):
        yield f"suite/{gi}/{fname}", schema, {}, instance_types(tests)
    for gi, (fname, _g, schema, tests) in enumerate(sp.SPARK_ONLY_SUITE):
        yield f"suite-spark-only/{gi}/{fname}", schema, {}, instance_types(tests)
    for gi, (fname, _g, schema, tests, fmt) in enumerate(sl.SUITE):
        yield f"suite-legacy/{gi}/{fname}", schema, {"assert_formats": fmt}, instance_types(tests)
    for gi, (_g, schema, tests) in enumerate(sl.FORMAT_ASSERTION_2020):
        yield f"suite-format/{gi}", schema, {"assert_formats": True}, instance_types(tests)


def fuzz_cases():
    """The schemas and instances of each tests/test_fuzz_parity.py
    family, drawn from the same seeded generators in the same order."""
    import test_fuzz_parity as fz
    from jschon_spark.compiler.catalog import SchemaCatalog

    n = fz.INSTANCES_PER_SCHEMA

    def hinted(rng, *schemas, extra=()):
        hints = {"values": [], "keys": []}
        for s in schemas:
            fz.collect_hints(s, hints)
        hints["values"].extend(extra)
        return [fz.gen_instance(rng, 2, hints) for _ in range(n)]

    def with_catalog(ext):
        cat = SchemaCatalog()
        cat.add_schema(copy.deepcopy(ext))
        return {"catalog": cat}

    for seed in fz.SEEDS:
        rng = random.Random(98_000 + seed)
        schema = fz.gen_root_schema(rng)
        yield f"fuzz/main/{seed}", schema, {}, inferred_types(hinted(rng, schema))
    for seed in fz.NEG_SEEDS:
        rng = random.Random(310_000 + seed)
        schema = fz.gen_negation_schema(rng)
        yield f"fuzz/neg/{seed}", schema, {}, inferred_types(hinted(rng, schema))
    for seed in fz.REF_SEEDS:
        rng = random.Random(77_000 + seed)
        schema = fz.gen_ref_heavy_schema(rng, seed)
        yield f"fuzz/ref/{seed}", schema, {}, inferred_types(hinted(rng, schema))
    for seed in fz.LEGACY_SEEDS:
        rng = random.Random(55_000 + seed)
        schema = fz.to_2019_09(fz.gen_root_schema(rng))
        schema["$schema"] = fz._META_1909
        if rng.random() < 0.4:
            schema["$recursiveAnchor"] = True
            schema.setdefault("properties", {})["a"] = {"$recursiveRef": "#"}
        yield f"fuzz/legacy/{seed}", schema, {}, inferred_types(hinted(rng, schema))
    for seed in fz.EXT_SEEDS:
        rng = random.Random(77_000 + seed)
        main, ext, _pool = fz.gen_external_pair(rng, seed)
        types = inferred_types(hinted(rng, main, ext))
        yield f"fuzz/ext/{seed}", main, with_catalog(ext), types
    for seed in fz.EQ_SEEDS:
        rng = random.Random(210_000 + seed)
        schema, vals = fz.gen_equality_schema(rng)
        types = inferred_types([fz.gen_eq_instance(rng, vals) for _ in range(n)])
        yield f"fuzz/eq/{seed}", schema, {}, types
    for seed in fz.MAP_SEEDS:
        rng = random.Random(640_000 + seed)
        schema, vtype = fz.gen_map_schema(rng)
        datas = [fz.gen_map_instance(rng, vtype) for _ in range(n)]
        val_t = T.StringType() if vtype == "string" else T.LongType()
        types = inferred_types(datas) + [T.MapType(T.StringType(), val_t, True)]
        yield f"fuzz/map/{seed}", schema, {}, types
    for seed in fz.DYN_SEEDS:
        rng = random.Random(520_000 + seed)
        main, ext = fz.gen_dynamic_pair(rng, seed)
        types = inferred_types([fz._gen_tree_instance(rng, 3) for _ in range(n)])
        yield f"fuzz/dyn/{seed}", main, with_catalog(ext), types
    for seed in fz.CKW_SEEDS:
        rng = random.Random(55_000 + seed)
        schema = fz.gen_custom_kw_schema(rng)
        types = inferred_types(hinted(rng, schema, extra=["a1c", "ab", "abc", "ba", "b", "ca", "1x"]))
        yield f"fuzz/ckw/{seed}", schema, {"catalog": fz._spark_ckw_catalog()}, types


def named_cases():
    """The clips pipeline's and ``__spark_entry__``'s schemas at the row
    types their callers validate (one struct of the named columns)."""
    import __spark_entry__ as entry
    from jschon_spark.pipeline import CLIP_SCHEMA

    for case, schema, ddl in (
        ("named/clip", CLIP_SCHEMA,
         "clip_id string, sr_hz int, dur_ms int, codec string, transcript string"),
        ("named/orders", entry.ORDERS_SCHEMA,
         "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
         "o_totalprice double, o_orderpriority string"),
        ("named/customer", entry.CUSTOMER_SCHEMA,
         "c_acctbal double, c_mktsegment string, c_nationkey int"),
    ):
        yield case, schema, {}, [T._parse_datatype_string(ddl)]


CORPORA = {"suite": suite_cases, "fuzz": fuzz_cases, "named": named_cases}


def dump(corpora: list[str], keep_text: bool, log) -> tuple[dict, int]:
    """(plan key -> text or sha256, number of compiles/plans that raised)."""
    from jschon_spark.compiler import compile_schema

    out: dict[str, str] = {}
    errors = 0
    t0 = time.perf_counter()

    def put(key: str, text: str) -> None:
        out[key] = text if keep_text else hashlib.sha256(text.encode()).hexdigest()

    for corpus in corpora:
        for case, schema, kw, types in CORPORA[corpus]():
            try:
                cs = compile_schema(copy.deepcopy(schema), **kw)
            except Exception as e:  # noqa: BLE001 - the error is the result
                errors += 1
                put(case, f"compile error {type(e).__name__}: {e}")
                continue
            by_name = {dt.simpleString(): dt for dt in types}
            for name, dt in by_name.items():
                # a row type is planned the way validate() plans a row
                # (core.row_instance); anything else as one value column
                col = (
                    F.struct(*[F.col(f.name).alias(f.name) for f in dt.fields])
                    if corpus == "named"
                    else F.col("value")
                )
                for trace in (False, True):
                    try:
                        text = plan_text(cs.plan(dt, col, trace=trace))
                    except Exception as e:  # noqa: BLE001
                        errors += 1
                        text = f"plan error {type(e).__name__}: {e}"
                    put(f"{case} | {name} | trace={int(trace)}", text)
            log(f"{case}: {len(by_name)} types, {len(out)} plans, {time.perf_counter() - t0:.0f}s")
    return out, errors


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True, help="JSON file to write")
    ap.add_argument("--corpus", default="suite,fuzz,named", help="comma-separated subset")
    ap.add_argument("--text", action="store_true", help="store plan text, not its sha256")
    ap.add_argument("--quiet", action="store_true")
    args = ap.parse_args()

    # plans are built, never executed: a small JVM heap is enough
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from jschon_spark.session import get_session

    spark = get_session(cpus=1, app_name="plan_text")
    spark.sparkContext.setLogLevel("ERROR")
    log = (lambda msg: None) if args.quiet else (lambda msg: print(msg, file=sys.stderr, flush=True))
    try:
        out, errors = dump(args.corpus.split(","), args.text, log)
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
        f.write("\n")
    print(json.dumps({"plans": len(out), "errors": errors, "out": args.out}))


if __name__ == "__main__":
    main()
