"""Physical-plan hygiene gates (SURVEY.md §4): these assert properties
of the OPTIMIZED/PHYSICAL plan, not results — regressions here are
invisible at test scale but fatal at 100 TB.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jschon_spark import fixtures as fx
from jschon_spark.pipeline import validate_clips_rows

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hyg") / "clips.parquet")
    pdf = fx.gen_clips_batch(np.arange(500), audio=True)
    spark.createDataFrame(pdf, schema=fx.CLIPS_DDL).write.partitionBy("part_id").mode(
        "overwrite"
    ).parquet(d)
    return d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_metadata_validation_never_reads_audio_bytes(spark, clips_path):
    """The per-row keyword stage must column-prune the audio payload out
    of its parquet scan — reading `bytes` for a metadata check would be
    a 1000x I/O regression at the design scale."""
    clips = spark.read.parquet(clips_path)
    v = validate_clips_rows(clips).select("clip_id", "valid")
    plan = _plan(v)
    scan = plan[plan.index("FileScan"):]
    read_schema = scan[scan.index("ReadSchema"): scan.index("ReadSchema") + 400]
    assert "bytes" not in read_schema, read_schema


def test_validation_predicates_are_codegen(spark, clips_path):
    """Compiled keyword predicates must sit inside WholeStageCodegen
    (JVM, vectorized) — no Python evaluation in the hot path."""
    clips = spark.read.parquet(clips_path)
    v = validate_clips_rows(clips)
    plan = _plan(v)
    # `*(n)` is the WholeStageCodegen marker in the compact plan string
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_filter_pushdown_reaches_scan(spark):
    """A keyword-derived filter over a scanned column must appear in
    PushedFilters on the parquet scan."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    q = orders.where(F.col("o_totalprice") >= 1000).select("o_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(o_totalprice" in plan


def test_referential_check_broadcasts_small_dim(spark):
    """Cardinality-driven join strategy: a small dim side must be
    broadcast (no shuffle of the fact table)."""
    from jschon_spark.operators.table_checks import referential_check

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    out = referential_check(orders, cust, "o_custkey", "c_custkey")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_flag_summary_partial_aggregation(spark, clips_path):
    """The per-partition flag rollup must partial-aggregate map-side
    (HashAggregate before AND after the exchange) so the shuffle carries
    one partial row per task, not raw rows."""
    from jschon_spark.output import flag_summary

    clips = spark.read.parquet(clips_path)
    plan = _plan(flag_summary(validate_clips_rows(clips), "part_id"))
    assert plan.count("HashAggregate") >= 2


def test_embedding_band_join_plan_shape(spark):
    """The banded LSH candidate pipeline must appear ONCE in the plan
    (one band self-join; the verify joins reuse the candidate pairs
    rather than re-deriving them), the signature UDF must run exactly
    once per join side (posexplode_outer avoids the implicit
    size()>0 filter that double-evaluates it), and nothing may
    degenerate to a cartesian product."""
    import numpy as np
    import pandas as pd

    from jschon_spark.operators.similarity import embedding_near_duplicates

    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    df = spark.createDataFrame(pd.DataFrame({"vec_id": range(50), "embedding": list(vecs)}))
    out = embedding_near_duplicates(df, threshold=0.9)
    plan = _plan(out)
    assert plan.count("ShuffledHashJoin") == 1, plan[:3000]
    assert plan.count("ArrowEvalPython") == 2, plan[:3000]
    assert "CartesianProduct" not in plan


def test_contains_subschema_compiled_once(spark):
    """VERDICT r2 #4: contains/minContains/maxContains must share ONE
    compiled count expression instead of each re-deriving it (the
    duplication cost is Python-side plan construction — it compounds on
    big schemas). Count apply() calls on the contains subschema."""
    from pyspark.sql import types as T

    from jschon_spark.compiler import core as core_mod
    from jschon_spark.compiler import compile_schema

    sub = {"const": 987654321}
    schema = {"contains": sub, "minContains": 2, "maxContains": 3}
    calls = {"n": 0}
    orig = core_mod.Compiler.apply

    def counting(self, sch, ctx):
        if sch == sub:
            calls["n"] += 1
        return orig(self, sch, ctx)

    core_mod.Compiler.apply = counting
    try:
        compile_schema(schema).columns(T.ArrayType(T.LongType()), F.col("xs"))
    finally:
        core_mod.Compiler.apply = orig
    assert calls["n"] == 1, calls["n"]


_FOLD_CALLERS = {
    # keyword: (schema around the subschema, instance type)
    "items": (lambda sub: {"prefixItems": [{}], "items": sub}, "array<bigint>"),
    "unevaluatedItems": (
        lambda sub: {"prefixItems": [{}], "unevaluatedItems": sub}, "array<bigint>"
    ),
    "patternProperties": (lambda sub: {"patternProperties": {"^x": sub}}, "map<string,bigint>"),
    "additionalProperties": (
        lambda sub: {"properties": {"a": {}}, "additionalProperties": sub}, "map<string,bigint>"
    ),
    "propertyNames": (lambda sub: {"propertyNames": sub}, "map<string,bigint>"),
    "unevaluatedProperties": (
        lambda sub: {"properties": {"a": {}}, "unevaluatedProperties": sub}, "map<string,bigint>"
    ),
}


@pytest.mark.parametrize("keyword", sorted(_FOLD_CALLERS))
def test_map_entries_subschema_compiled_once(spark, keyword):
    """Sibling finding in r2 #4: the MapType patternProperties path
    compiled each entry's subschema twice (once for .valid, once for
    .viols inside the same lambda). Every caller of the one HOF fold
    compiles its subschema once per lambda."""
    from pyspark.sql.types import _parse_datatype_string

    from jschon_spark.compiler import core as core_mod
    from jschon_spark.compiler import compile_schema

    sub = {"const": 123456789}
    wrap, ddl = _FOLD_CALLERS[keyword]
    calls = {"n": 0}
    orig = core_mod.Compiler.apply

    def counting(self, sch, ctx):
        if sch == sub:
            calls["n"] += 1
        return orig(self, sch, ctx)

    core_mod.Compiler.apply = counting
    try:
        compile_schema(wrap(sub)).columns(_parse_datatype_string(ddl), F.col("m"))
    finally:
        core_mod.Compiler.apply = orig
    assert calls["n"] == 1, calls["n"]


def test_feature_stage_projects_only_needed_columns(spark, clips_path):
    """The DSP feature stage passes non-bytes columns through, so the
    caller's pre-projection must reach the parquet scan: selecting
    3 metadata columns + bytes before with_audio_features must NOT
    read transcript (large string) from disk."""
    from jschon_spark.audio.features import with_audio_features

    clips = spark.read.parquet(clips_path).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec"
    )
    feats = with_audio_features(clips)
    plan = _plan(feats)
    scan = plan[plan.index("FileScan"):]
    read_schema = scan[scan.index("ReadSchema"): scan.index("ReadSchema") + 400]
    assert "transcript" not in read_schema, read_schema
    assert "bytes" in read_schema  # the payload itself IS read here


def test_feature_stage_is_map_only(spark, clips_path):
    """No shuffle anywhere in the feature-extraction plan — the stage
    must stay embarrassingly parallel at the design scale."""
    from jschon_spark.audio.features import with_audio_features

    clips = spark.read.parquet(clips_path).select(
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec"
    )
    plan = _plan(with_audio_features(clips))
    assert "Exchange" not in plan, plan


def test_temperature_sample_filter_is_map_side(spark):
    """After the one counting pass, the applied sample is a pure scan
    filter: no Exchange, no Python eval — the md5 gate is codegen'd."""
    from jschon_spark.operators.sampling import temperature_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(300)], "doc_id long, lang string"
    )
    out = temperature_sample(df, "lang", "doc_id", alpha=0.5, target_frac=0.5)
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_cer_is_jvm_side(spark):
    """CER = levenshtein over normalized Columns: stays inside codegen,
    never enters Python."""
    from jschon_spark.operators.transcripts import cer

    df = spark.createDataFrame(
        [("a", "x y", "x z")], "id string, hyp string, ref string"
    )
    plan = _plan(df.select(cer(F.col("hyp"), F.col("ref")).alias("c")))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "*(1)" in plan  # whole-stage-codegen marker


def test_sequence_assembly_groupby_reuses_bucket_partitioning(spark):
    """Covered in tests/test_sequences.py too, but pinned here with the
    other plan-shape gates: ONE Exchange for window + groupBy, and the
    aggregation carries no Python stage."""
    from jschon_spark.operators.sequences import assemble_sequences

    df = spark.createDataFrame(
        [(f"d{i}", list(range(i % 7 + 1))) for i in range(50)],
        "doc_id string, token_ids array<int>",
    )
    plan = _plan(assemble_sequences(df, budget=8, n_buckets=4))
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_one_arrow_decode_walk():
    """Every audio stage decodes through ``audio.iter_decoded``: Arrow
    binary-buffer access (``.buffers()``) appears nowhere else in the
    package, and the audio module keeps no pandas-UDF fork of the walk."""
    import ast
    import pathlib

    import jschon_spark

    root = pathlib.Path(jschon_spark.__file__).parent
    sites = []
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "buffers":
                    sites.append((str(path.relative_to(root)), getattr(top, "name", None)))
    assert sites == [("audio/__init__.py", "iter_decoded")], sites
    assert "pandas_udf" not in (root / "audio" / "__init__.py").read_text()


def test_one_wav_reader_and_writer():
    """Only ``audio/__init__.py`` knows the RIFF/WAVE format: within the
    package and the jobs, the byte literals ``b"RIFF"`` and ``b"WAVE"``
    appear nowhere else, and no module imports the stdlib ``wave``."""
    import ast
    import pathlib

    import jschon_spark

    repo = pathlib.Path(jschon_spark.__file__).parent.parent
    literals, wave_imports = set(), set()
    for path in sorted([*(repo / "jschon_spark").rglob("*.py"), *(repo / "jobs").glob("*.py")]):
        rel = str(path.relative_to(repo))
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and node.value in (b"RIFF", b"WAVE"):
                literals.add(rel)
            elif isinstance(node, ast.Import) and any(a.name == "wave" for a in node.names):
                wave_imports.add(rel)
            elif isinstance(node, ast.ImportFrom) and node.module == "wave":
                wave_imports.add(rel)
    assert literals == {"jschon_spark/audio/__init__.py"}, literals
    assert not wave_imports, wave_imports


def test_one_band_self_join():
    """Every near-duplicate blocker (MinHash LSH, MinHash SQL bands,
    SimHash-128, embedding hyperplane LSH) ends in ``dedup.band_pairs``:
    the shuffle_hash band self-join is hinted nowhere else."""
    import ast
    import pathlib

    import jschon_spark

    root = pathlib.Path(jschon_spark.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "hint"
                    and node.args
                    and getattr(node.args[0], "value", None) == "shuffle_hash"
                ):
                    sites.add((str(path.relative_to(root)), getattr(top, "name", None)))
    assert sites == {("operators/dedup.py", "band_pairs")}, sites


def _core_functions() -> list:
    """The top-level functions and methods of ``compiler/core.py``."""
    import ast
    import pathlib

    from jschon_spark.compiler import core as core_mod

    tree = ast.parse(pathlib.Path(core_mod.__file__).read_text())
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
        defs += [n for n in cls.body if isinstance(n, ast.FunctionDef)]
    return defs


def test_one_applicator_fold():
    """Every per-item subschema application (items, unevaluatedItems and
    the MapType patternProperties / additionalProperties / propertyNames
    / unevaluatedProperties) runs through ``Compiler._fold``: the HOFs
    that build and reduce the per-item structs appear nowhere else.
    ``map_entries`` also sorts a map literal's entries in ``_eq_literal``."""
    import ast

    sites: dict[str, list] = {"forall": [], "map_keys": [], "map_entries": []}
    for fn in _core_functions():
        for node in ast.walk(fn):
            func = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(func, ast.Attribute)
                and getattr(func.value, "id", None) == "F"
                and func.attr in sites
            ):
                sites[func.attr].append(fn.name)
    sites = {k: sorted(v) for k, v in sites.items()}
    assert sites == {
        "forall": ["_fold"],
        "map_keys": ["_fold"],
        "map_entries": ["_eq_literal", "_fold"],
    }, sites


def test_one_dynamic_ref_resolver():
    """$dynamicRef evaluation and the unevaluated* coverage walk resolve
    through ``Compiler._resolve_dynamic``: apart from ``_index``, which
    builds them, no other method reads the dynamic-anchor tables."""
    import ast

    readers = set()
    for fn in _core_functions():
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and node.attr in ("dynamic_anchors", "dynamic_in_resource")
            ):
                readers.add(fn.name)
    assert readers == {"_index", "_resolve_dynamic"}, readers


def test_one_struct_field_application():
    """Every per-field subschema application to a struct (properties,
    patternProperties, additionalProperties, unevaluatedProperties)
    descends through ``Compiler._apply_fields``, which marks the child
    applied by the condition that gates its result: ``ctx.field`` is
    called nowhere else."""
    import ast

    sites = [
        fn.name
        for fn in _core_functions()
        for node in ast.walk(fn)
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "field"
    ]
    assert sites == ["_apply_fields"], sites


def test_one_manifest_commit_protocol():
    """Every resumable job resumes and commits through the protocol in
    ``pipeline``: the manifest's anti-join, the pending-partition
    selection and the commit append are called nowhere else in the
    package or the jobs."""
    import ast
    import pathlib

    import jschon_spark

    repo = pathlib.Path(jschon_spark.__file__).parent.parent
    names = ("pending_partitions", "select_pending", "append_results")
    sites = set()
    for path in sorted([*(repo / "jschon_spark").rglob("*.py"), *(repo / "jobs").glob("*.py")]):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                func = getattr(node, "func", None)
                name = getattr(func, "attr", None) or getattr(func, "id", None)
                if isinstance(node, ast.Call) and name in names:
                    sites.add((str(path.relative_to(repo)), getattr(top, "name", None), name))
    assert sites == {
        ("jschon_spark/pipeline.py", "resume_pending", "pending_partitions"),
        ("jschon_spark/pipeline.py", "resume_pending", "select_pending"),
        ("jschon_spark/pipeline.py", "commit_partitions", "append_results"),
    }, sites
