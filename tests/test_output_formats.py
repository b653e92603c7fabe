"""Output formatter parity: flag / basic / detailed / histogram shapes
(reference jschon/output.py:39-103)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jschon_spark.compiler import compile_schema
from jschon_spark.output import basic_output, detailed_output, flag_summary, violation_histogram

SCHEMA = {
    "type": "object",
    "required": ["name"],
    "properties": {
        "name": {"type": "string", "minLength": 2},
        "age": {"type": "integer", "minimum": 0},
        "tags": {"type": "array", "items": {"pattern": "^[a-z]+$"}, "uniqueItems": True},
    },
}


@pytest.fixture(scope="module")
def validated(spark):
    pdf = pd.DataFrame(
        {
            "rid": [1, 2, 3, 4],
            "part": [0, 0, 1, 1],
            "name": ["ok", "x", None, "fine"],
            "age": [3, -1, 5, 7],
            "tags": [["a", "b"], ["a", "a"], ["UP"], []],
        }
    )
    df = spark.createDataFrame(
        pdf, schema="rid long, part int, name string, age long, tags array<string>"
    )
    return compile_schema(SCHEMA).validate(df, instance_columns=["name", "age", "tags"])


def test_noassert_if_errors_follow_result_node_nesting(spark):
    """A failed noassert `if` reports its errors iff the error walk
    reaches its RESULT node — which is the applicator keyword's node
    for direct-evaluation applicators (items, applicator.py:177) but a
    per-application subresult for allOf/properties (applicator.py:34,
    262). Campaign-derived golden case (fuzz neg 5004 family)."""
    import pandas as pd

    # items: element results attach to the items node → a VALID
    # element's failed if still reports once the items node is invalid
    df = spark.createDataFrame(
        pd.DataFrame({"rid": [1], "v": [[2.5, 1.0]]}),
        schema="rid long, v array<double>",
    )
    out = compile_schema(
        {"properties": {"v": {"items": {"if": {"type": "null"}, "else": {"maximum": 1.5}}}}}
    ).validate(df, instance_columns=["v"])
    rows = basic_output(out, ["rid"]).toPandas()
    units = set(zip(rows["instance_path"], rows["keyword"]))
    assert ("/v/0", "maximum") in units          # else asserted on 2.5
    assert ("/v/0", "type") in units             # failed if under invalid element
    assert ("/v/1", "type") in units             # failed if under VALID element too
    # allOf: per-branch subresult → a passing branch's failed if is
    # NOT reported even when a sibling branch fails
    df2 = spark.createDataFrame(
        pd.DataFrame({"rid": [1], "v": [5.0]}), schema="rid long, v double"
    )
    out2 = compile_schema(
        {"properties": {"v": {"allOf": [
            {"maximum": 1},
            {"if": {"type": "string"}, "then": {"minLength": 99}},
        ]}}}
    ).validate(df2, instance_columns=["v"])
    rows2 = basic_output(out2, ["rid"]).toPandas()
    units2 = set(zip(rows2["instance_path"], rows2["keyword"]))
    assert ("/v", "maximum") in units2
    assert ("/v", "type") not in units2


def test_flag_rollup(validated):
    flag = flag_summary(validated, "part").toPandas().set_index("part")
    assert not flag.loc[0, "partition_valid"]  # rows 2 fails
    assert not flag.loc[1, "partition_valid"]  # row 3 fails
    assert int(flag["n_rows"].sum()) == 4
    assert int(flag["n_valid"].sum()) == 2  # rows 1 and 4


def test_basic_rows(validated):
    rows = basic_output(validated, ["rid"]).toPandas()
    by_rid = rows.groupby("rid")["keyword"].apply(set).to_dict()
    assert by_rid[2] == {"minLength", "minimum", "uniqueItems"}
    assert by_rid[3] == {"required", "pattern"}
    assert 1 not in by_rid and 4 not in by_rid
    # pointer paths are RFC 6901 instance locations
    paths = set(rows[rows.rid == 3]["instance_path"])
    assert "/tags/0" in paths


def test_detailed_sampled(validated):
    docs = detailed_output(validated, ["rid"], max_rows=10)
    assert {d["rid"] for d in docs} == {2, 3}
    d2 = next(d for d in docs if d["rid"] == 2)
    assert d2["result"]["valid"] is False
    kw_locs = {e["keywordLocation"] for e in d2["result"]["errors"]}
    assert "/properties/name/minLength" in kw_locs
    # every error node carries instance + keyword locations
    for e in d2["result"]["errors"]:
        assert e["keywordLocation"].startswith("/")


def test_histogram(validated):
    h = violation_histogram(validated).toPandas().set_index("keyword")
    assert int(h.loc["uniqueItems", "n_violations"]) == 1
    assert int(h.loc["required", "n_violations"]) == 1


def test_verbose_output(spark):
    """Golden-shape test mirroring /root/reference/tests/test_output.py's
    verbose fixtures: full result tree, passing nodes included, with
    annotations and both locations per node."""
    from pyspark.sql import Row

    from jschon_spark.output import verbose_output

    schema = {
        "title": "doc",
        "properties": {
            "name": {"title": "the name", "type": "string", "minLength": 2},
            "age": {"type": "integer", "minimum": 0},
        },
        "required": ["name"],
    }
    df = spark.createDataFrame(
        [Row(id=1, name="ok", age=3), Row(id=2, name="x", age=-1)],
        "id long, name string, age long",
    )
    out = verbose_output(schema, df, instance_columns=["name", "age"], id_cols=["id"], max_rows=10)
    assert len(out) == 2
    by_id = {o["id"]: o["result"] for o in out}
    root1, root2 = by_id[1], by_id[2]
    # root node: annotations surface, validity per document
    assert root1["valid"] is True and root2["valid"] is False
    assert root1["annotations"] == {"title": "doc"}
    assert root1["keywordLocation"] == "" and root1["instanceLocation"] == ""
    # child nodes present INCLUDING passing ones (verbose, not detailed)
    kids1 = {n["keywordLocation"]: n for n in root1["results"]}
    assert "/properties/name" in kids1 and kids1["/properties/name"]["valid"] is True
    assert kids1["/properties/name"]["annotations"] == {"title": "the name"}
    assert kids1["/properties/name"]["instanceLocation"] == "/name"
    kids2 = {n["keywordLocation"]: n for n in by_id[2]["results"]}
    assert kids2["/properties/name"]["valid"] is False  # minLength 2
    assert kids2["/properties/age"]["valid"] is False  # minimum 0


def test_hierarchical_output(spark):
    """Nesting by INSTANCE location (reference jschon/output.py:129-165)."""
    from pyspark.sql import Row

    from jschon_spark.compiler import compile_schema
    from jschon_spark.output import hierarchical_output

    schema = {
        "properties": {
            "a": {"properties": {"b": {"type": "integer"}, "c": {"minimum": 0}}},
            "d": {"type": "string"},
        }
    }
    df = spark.createDataFrame(
        [Row(id=1, a=Row(b="x", c=-1), d=5)],
        "id long, a struct<b string, c long>, d long",
    )
    v = compile_schema(schema).validate(df, instance_columns=["a", "d"])
    out = hierarchical_output(v, ["id"])
    assert len(out) == 1
    root = out[0]["result"]
    assert root["valid"] is False and root["instanceLocation"] == ""
    kids = {n["instanceLocation"]: n for n in root["children"]}
    assert set(kids) == {"/a", "/d"}
    a_kids = {n["instanceLocation"]: n for n in kids["/a"]["children"]}
    assert set(a_kids) == {"/a/b", "/a/c"}
    assert a_kids["/a/b"]["errors"][0]["keyword"] == "type"
    assert a_kids["/a/c"]["errors"][0]["keyword"] == "minimum"
    assert kids["/d"]["errors"][0]["keyword"] == "type"


def test_verbose_output_with_unevaluated(spark):
    """Coverage-guard re-applications must not hijack trace slots: the
    root node's verbose validity is the ROOT's, not a guard's."""
    from pyspark.sql import Row

    from jschon_spark.output import verbose_output

    schema = {
        "properties": {"a": {"type": "integer"}},
        "if": {"required": ["a"]},
        "then": {"properties": {"b": {}}},
        "unevaluatedProperties": False,
    }
    df = spark.createDataFrame([Row(id=1, a=1, b=2), Row(id=2, a=None, b=2)],
                               "id long, a long, b long")
    out = verbose_output(schema, df, instance_columns=["a", "b"], id_cols=["id"])
    by_id = {o["id"]: o["result"] for o in out}
    assert by_id[1]["valid"] is True   # if holds → then covers b
    assert by_id[2]["valid"] is False  # a absent → b unevaluated


def test_verbose_output_per_element_array_subtree(spark):
    """VERDICT r2 #5 golden fixture: an array-items subtree must show
    PER-ELEMENT results in verbose output (reference jschon/output.py:
    106-126 descends into HOF-applied subschemas; the r2 engine
    summarized them by their parent)."""
    from jschon_spark.output import verbose_output

    # struct element type throughout (a heterogeneous tuple is not one
    # Spark array type): element 0 exercises prefixItems, the rest items
    schema = {
        "type": "object",
        "properties": {
            "xs": {
                "type": "array",
                "prefixItems": [{"properties": {"v": {"minimum": 100}}}],
                "items": {"properties": {"v": {"minimum": 10}}},
            }
        },
    }
    df = spark.createDataFrame(
        [(1, [{"v": 100}, {"v": 12}, {"v": 3}])],
        "id long, xs array<struct<v: long>>",
    )
    out = verbose_output(schema, df, instance_columns=["xs"], id_cols=["id"], max_rows=5)
    assert len(out) == 1

    def collect_nodes(node, acc):
        acc.append(node)
        for c in node.get("results", []):
            collect_nodes(c, acc)
        return acc

    nodes = collect_nodes(out[0]["result"], [])
    by_loc = {(n["keywordLocation"], n["instanceLocation"]): n["valid"] for n in nodes}
    # the prefixItems element result (v=100 >= 100)
    assert by_loc[("/properties/xs/prefixItems/0", "/xs/0")] is True
    # per-element items results: element 1 (v=12) passes, element 2 (v=3) fails
    assert by_loc[("/properties/xs/items", "/xs/1")] is True
    assert by_loc[("/properties/xs/items", "/xs/2")] is False
    # the items subtree descends further: the nested subschema node of
    # the failing element is present with its own instance location
    assert by_loc[("/properties/xs/items/properties/v", "/xs/2/v")] is False
    assert by_loc[("/properties/xs/items/properties/v", "/xs/1/v")] is True


def test_annotation_output_distributed(spark):
    """jschon collects annotations from VALID nodes only (reference
    jsonschema.py:515-524, output.py basic units). This output is a
    plain distributed projection — per-row validity gates which nodes
    contribute."""
    from jschon_spark.output import annotation_output

    schema = {
        "title": "doc",
        "properties": {
            "name": {"title": "the name", "type": "string", "minLength": 2},
            "age": {"deprecated": True, "type": "integer", "minimum": 0},
        },
    }
    df = spark.createDataFrame(
        [(1, "ok", 3), (2, "x", 5), (3, "fine", -2)],
        "id long, name string, age long",
    )
    rows = annotation_output(schema, df, instance_columns=["name", "age"], id_cols=["id"]).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, set()).add((r.keyword_path, r.keyword, r.value_json))
    # doc 1 valid everywhere: root title + both property annotations
    assert ("", "title", '"doc"') in by_id[1]
    assert ("/properties/name", "title", '"the name"') in by_id[1]
    assert ("/properties/age", "deprecated", "true") in by_id[1]
    # docs 2 and 3 are INVALID documents → no annotation rows at all
    assert 2 not in by_id and 3 not in by_id


def test_null_valued_annotations_invisible_in_output(spark):
    """An annotation whose value is JSON null (``"default": null``) is
    stored by the reference but filtered out of every output format —
    reference output.py:52 yields a unit only when ``msgval is not
    None``. Found by differential fuzzing (ref family, seed 1001)."""
    from jschon_spark.output import annotation_output, verbose_output

    schema = {
        "default": None,
        "description": "desc",
        "properties": {"a": {"default": None, "title": "A"}},
    }
    df = spark.createDataFrame([(1, 5)], "id long, a long")
    rows = annotation_output(schema, df, instance_columns=["a"], id_cols=["id"]).collect()
    units = {(r.keyword_path, r.keyword) for r in rows}
    assert ("", "description") in units
    assert ("/properties/a", "title") in units
    assert not any(k == "default" for _, k in units)

    out = verbose_output(schema, df, instance_columns=["a"], id_cols=["id"], max_rows=1)

    def walk(node):
        yield node
        for c in node.get("results", []) or []:
            yield from walk(c)

    seen = list(walk(out[0]["result"]))
    assert any(n.get("annotations", {}).get("title") == "A" for n in seen)
    for node in seen:
        assert "default" not in (node.get("annotations") or {}), node


def test_annotation_applicator_node_pruning(spark):
    """jschon prunes annotation collection at invalid applicator GROUP
    nodes (jsonschema.py:518): a double-match /oneOf or failed /allOf
    node contributes nothing even from its individually-valid branches,
    while annotations DO flow out of a passing `not` whose inner failed
    (applicator.py:77-86 inverts only the /not node). All expectations
    verified against the reference live (round 3)."""
    from jschon_spark.output import annotation_output

    df = spark.createDataFrame([(1, 7)], "id long, a long")

    def titles(schema):
        rows = annotation_output(schema, df, instance_columns=["a"], id_cols=["id"]).collect()
        return sorted(r.keyword_path for r in rows if r.keyword == "title")

    # oneOf double-match under a passing not: branch titles pruned
    assert titles({"not": {"oneOf": [{"title": "T"}, {"type": "object"}],
                           "required": ["zz"]}}) == []
    # failed /allOf node under a passing not: valid branch title pruned
    assert titles({"not": {"allOf": [{"title": "T"}, False]}}) == []
    # valid anyOf branch inside the failed not-inner still flows
    assert titles({"not": {"anyOf": [{"title": "T"}], "required": ["zz"]}}) == ["/not/anyOf/0"]
    # failed sibling dependency prunes the whole /dependentSchemas node
    assert titles({"not": {"dependentSchemas": {
        "a": {"title": "T"}, "b": {"type": "string"}}}}) == []
    # positive-context sanity: single-match oneOf and passing allOf flow
    assert titles({"oneOf": [{"title": "T", "type": "object"}, {"type": "string"}]}) == ["/oneOf/0"]
    assert titles({"allOf": [{"title": "T"}, {"type": "object"}]}) == ["/allOf/0"]
    # keyword GROUP nodes prune the same way: a /prefixItems node with a
    # failed index, or a /properties node with a failed member, drops
    # even its valid children's annotations (negation fuzz seed 19)
    arr = spark.createDataFrame([(1, [1, 2])], "id long, a array<bigint>")
    obj = spark.createDataFrame([(1, 1, 2)], "id long, a long, b long")

    def titles_on(df, cols, schema):
        rows = annotation_output(schema, df, instance_columns=cols, id_cols=["id"]).collect()
        return sorted(r.keyword_path for r in rows if r.keyword == "title")

    wrap = {"type": "array", "minItems": 99}
    assert titles_on(arr, ["a"], {"properties": {"a": {"not": {
        "prefixItems": [{"title": "T"}, {"type": "object"}], **wrap}}}}) == []
    assert titles_on(arr, ["a"], {"properties": {"a": {"not": {
        "prefixItems": [{"title": "T"}, {"type": "integer"}], **wrap}}}}) == [
        "/properties/a/not/prefixItems/0"]
    assert titles_on(obj, ["a", "b"], {"not": {
        "properties": {"a": {"title": "T"}, "b": {"type": "string"}}}}) == []


def test_verbose_output_per_entry_map_subtree(spark):
    """Map-entry subtrees also expand per entry in verbose output (the
    map analogue of the r3 array expansion)."""
    from pyspark.sql import types as T

    from jschon_spark.output import verbose_output

    schema = {
        "type": "object",
        "properties": {
            "m": {
                "patternProperties": {"^x": {"minimum": 10}},
                "additionalProperties": {"maximum": 0},
            }
        },
    }
    df = spark.createDataFrame(
        [(1, {"xa": 50, "xb": 3, "other": -1})],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            ]
        ),
    )
    out = verbose_output(schema, df, instance_columns=["m"], id_cols=["id"], max_rows=5)

    def collect_nodes(node, acc):
        acc.append(node)
        for c in node.get("results", []):
            collect_nodes(c, acc)
        return acc

    nodes = collect_nodes(out[0]["result"], [])
    by_loc = {(n["keywordLocation"], n["instanceLocation"]): n["valid"] for n in nodes}
    assert by_loc[("/properties/m/patternProperties/^x", "/m/xa")] is True
    assert by_loc[("/properties/m/patternProperties/^x", "/m/xb")] is False
    assert by_loc[("/properties/m/additionalProperties", "/m/other")] is True


def test_audit_output_golden(spark):
    """Distributed audit rows: per-node validity/applied/annotations for
    known documents, exactly — including the derived applicator group
    gates and the unapplied-property rule (absent property's node is
    applied=false and the /properties gate ignores it)."""
    from jschon_spark.output import audit_output

    schema = {
        "type": "object",
        "required": ["a"],
        "properties": {
            "a": {"type": "integer", "minimum": 3, "title": "A"},
            "b": {"type": "string", "maxLength": 2},
        },
        "allOf": [{"minProperties": 1}],
    }
    df = spark.createDataFrame(
        [("r1", 5, "ok"), ("r2", 1, "toolong"), ("r3", None, "x")],
        "rid string, a int, b string",
    )
    rows = audit_output(schema, df, instance_columns=["a", "b"], id_cols=["rid"]).collect()
    got = {(r.rid, r.keyword_path): r for r in rows}
    assert len(rows) == 3 * 6  # 4 traced nodes + 2 group gates per doc

    want_valid = {
        ("r1", ""): True, ("r1", "/properties/a"): True, ("r1", "/properties/b"): True,
        ("r1", "/allOf/0"): True, ("r1", "/allOf"): True, ("r1", "/properties"): True,
        ("r2", ""): False, ("r2", "/properties/a"): False, ("r2", "/properties/b"): False,
        ("r2", "/allOf/0"): True, ("r2", "/allOf"): True, ("r2", "/properties"): False,
        ("r3", ""): False,            # required: a missing
        ("r3", "/properties/a"): False,
        ("r3", "/properties/b"): True,
        ("r3", "/allOf/0"): True, ("r3", "/allOf"): True,
        ("r3", "/properties"): True,  # gate ignores the UNAPPLIED a-node
    }
    for k, v in want_valid.items():
        assert got[k].valid is v, (k, got[k].valid, v)
    assert got[("r3", "/properties/a")].applied is False
    assert got[("r2", "/properties/a")].applied is True
    # static annotations ride only on VALID nodes
    assert got[("r1", "/properties/a")].annotations_json == '{"title": "A"}'
    assert got[("r2", "/properties/a")].annotations_json is None
    # instance locations
    assert got[("r1", "/properties/a")].instance_path == "/a"
    assert got[("r1", "")].instance_path == ""


def test_audit_output_predicate_one_plan(spark):
    """where= selects the row subset inside ONE map-only plan (no
    Exchange, no per-doc jobs, no driver-side limit) and
    include_passing=False gives the detailed-style failing view."""
    from jschon_spark.output import audit_output

    schema = {"properties": {"age": {"minimum": 0}}}
    df = spark.createDataFrame(
        [(i, i - 2) for i in range(10)], "rid int, age int"
    )
    out = audit_output(
        schema, df, instance_columns=["age"], id_cols=["rid"],
        where=F.col("rid") >= 5, include_passing=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "CollectLimit" not in plan and "GlobalLimit" not in plan, plan
    rows = out.collect()
    # rids 5,6 have age 3,4 ≥ 0 → pass; nothing else selected
    assert rows == [] or all(r.rid >= 5 for r in rows)
    full = audit_output(
        schema, df, instance_columns=["age"], id_cols=["rid"],
        where="rid < 5", include_passing=False,
    ).collect()
    bad = {r.rid for r in full if r.keyword_path == "/properties/age"}
    assert bad == {0, 1}  # age -2, -1 fail minimum; age 0.. pass


def test_audit_output_agrees_with_verbose(spark, validated):
    """Every audit row for a document matches the flattened verbose
    result tree at the same (keywordLocation, instanceLocation) — the
    two views are the same trace, surfaced distributed vs driver-side."""
    from jschon_spark.output import audit_output, verbose_output

    df = spark.createDataFrame(
        [(1, "ok", 3), (2, "x", -1)], "rid long, name string, age long"
    )
    audit = audit_output(
        SCHEMA, df, instance_columns=["name", "age"], id_cols=["rid"]
    ).collect()
    verb = verbose_output(
        SCHEMA, df, instance_columns=["name", "age"], id_cols=["rid"], max_rows=10
    )

    def flatten(node, acc):
        acc[(node["keywordLocation"], node["instanceLocation"])] = node["valid"]
        for ch in node.get("results", []):
            flatten(ch, acc)
        return acc

    by_rid = {v["rid"]: flatten(v["result"], {}) for v in verb}
    for r in audit:
        key = (r.keyword_path, r.instance_path)
        if key in by_rid[r.rid] and r.applied:
            assert by_rid[r.rid][key] == r.valid, (r.rid, key)


@pytest.mark.parametrize(
    "kw", ["additionalProperties", "unevaluatedProperties", "propertyNames"]
)
def test_absent_struct_field_never_annotates(spark, kw):
    """A struct field that is null is absent, so the reference builds no
    result node for the per-field subschema and it never annotates
    (jsonschema.py:515-524). Every per-field struct keyword marks its
    child applied by its presence gate. Only the first field's
    application is traced (one trace slot per keyword location), so the
    rows null out ``a``, then ``b``."""
    from jschon_spark.output import annotation_output, audit_output

    schema = {kw: {"title": "T"}}
    df = spark.createDataFrame([(1, None, 5), (2, 3, None)], "rid long, a long, b long")
    cols = ["a", "b"]
    units = {
        r.rid
        for r in annotation_output(schema, df, instance_columns=cols, id_cols=["rid"]).collect()
        if r.instance_path == "/a" and r.keyword_path == "/" + kw
    }
    assert units == {2}
    audit = {
        r.rid: r.applied
        for r in audit_output(schema, df, instance_columns=cols, id_cols=["rid"]).collect()
        if r.keyword_path == "/" + kw
    }
    assert audit == {1: False, 2: True}
