"""jschon-style evaluation outputs over validated DataFrames.

``flag``  — per-row boolean, rolled up per partition
            (reference jschon/output.py:39-43)
``basic`` — flat violation rows with instance/keyword locations
            (reference jschon/output.py:46-70)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def basic_output(
    df: DataFrame,
    id_cols: list[str],
    violations_col: str = "violations",
    compiled=None,
) -> DataFrame:
    """Explode per-row violation arrays into `basic`-format rows:
    one row per failed keyword, addressed by instance/keyword paths.

    ``keyword_path`` is the reference's dynamic keywordLocation (ref
    traversals as /$ref//$dynamicRef segments). Pass the
    ``CompiledSchema`` that produced the violations to ALSO emit
    ``absolute_keyword_path`` (≙ absoluteKeywordLocation,
    jschon/output.py:54-59) — translated by a bounded longest-prefix
    expression over the ref sites its plans recorded, so the shuffled
    violation payload itself stays 4 fields."""
    v = F.explode(F.col(violations_col)).alias("v")
    cols = [
        F.col("v.instance_path").alias("instance_path"),
        F.col("v.keyword_path").alias("keyword_path"),
        F.col("v.keyword").alias("keyword"),
        F.col("v.error").alias("error"),
    ]
    if compiled is not None:
        sites = compiled.ref_sites
        kp = F.col("v.keyword_path")
        # longest prefix first: deeper ref applications have strictly
        # longer dynamic prefixes, so the first match is the right one
        expr = F.concat(F.lit(compiled.compiler.base_uri + "#"), kp)
        for pref in sorted(sites, key=len):
            absolute = F.lit(sites[pref])
            expr = F.when(
                (kp == F.lit(pref)) | kp.startswith(pref + "/"),
                F.concat(absolute, F.substring(kp, len(pref) + 1, 1_000_000)),
            ).otherwise(expr)
        cols.append(expr.alias("absolute_keyword_path"))
    return (
        df.where(F.size(violations_col) > 0)
        .select(*id_cols, v)
        .select(*id_cols, *cols)
    )


def flag_summary(
    df: DataFrame, partition_col: str | Column, valid_col: str = "valid"
) -> DataFrame:
    """Per-partition pass/fail parity rows: the partition passes iff
    every row in it passed (``flag`` rolled up). Map-side partial
    aggregation keeps this a single cheap shuffle of tiny rows."""
    valid = F.col(valid_col)
    return (
        df.groupBy(partition_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(valid.cast("long")).alias("n_valid"),
            F.sum((~valid).cast("long")).alias("n_invalid"),
            F.min(valid).alias("partition_valid"),
        )
        .orderBy(partition_col)
    )


def detailed_output(
    df: DataFrame,
    id_cols: list[str],
    violations_col: str = "violations",
    max_rows: int = 100,
) -> list[dict]:
    """jschon ``detailed`` output for a SAMPLE of failing rows: the flat
    `basic` violation rows re-nested into the pruned hierarchy keyed by
    keyword location (reference jschon/output.py:73-103). Tree-shaped
    and driver-side by design — at table scale the flat violations
    DataFrame is the product; this is the human-debugging view, so it
    is capped at ``max_rows`` documents."""
    out = []
    for ident, viols in _failing_sample(df, id_cols, violations_col, max_rows):
        root: dict = {
            "valid": False,
            "instanceLocation": "",
            "keywordLocation": "",
            "errors": [],
        }
        index: dict[str, dict] = {"": root}
        for v in sorted(viols, key=lambda v: v["keyword_path"]):
            segs = [s for s in v["keyword_path"].split("/") if s]
            parent = root
            prefix = ""
            # attach under the deepest existing ancestor node
            for s in segs[:-1]:
                prefix = f"{prefix}/{s}"
                if prefix in index:
                    parent = index[prefix]
            node = {
                "valid": False,
                "instanceLocation": v["instance_path"],
                "keywordLocation": v["keyword_path"],
                "error": v["error"],
            }
            index[v["keyword_path"]] = node
            parent.setdefault("errors", []).append(node)
        out.append({**ident, "result": root})
    return out


def hierarchical_output(
    df: DataFrame,
    id_cols: list[str],
    violations_col: str = "violations",
    max_rows: int = 100,
) -> list[dict]:
    """jschon ``hierarchical`` output for a SAMPLE of failing rows: the
    flat violation rows re-nested by INSTANCE location (reference
    jschon/output.py:129-165 — `detailed` nests by keyword location,
    `hierarchical` by instance location). Driver-side and sampled by
    design, like detailed_output."""
    out = []
    for ident, viols in _failing_sample(df, id_cols, violations_col, max_rows):
        root: dict = {"valid": False, "instanceLocation": "", "errors": [], "children": []}
        index: dict[str, dict] = {"": root}

        def node_at(ipath: str) -> dict:
            if ipath in index:
                return index[ipath]
            parent_path = ipath.rsplit("/", 1)[0] if "/" in ipath else ""
            parent = node_at(parent_path)
            node = {"valid": False, "instanceLocation": ipath, "errors": [], "children": []}
            parent["children"].append(node)
            index[ipath] = node
            return node

        for v in sorted(viols, key=lambda v: (v["instance_path"], v["keyword_path"])):
            node = node_at(v["instance_path"] or "")
            node["errors"].append(
                {"keywordLocation": v["keyword_path"], "keyword": v["keyword"], "error": v["error"]}
            )
        out.append({**ident, "result": root})
    return out


def _failing_sample(df: DataFrame, id_cols: list[str], violations_col: str, max_rows: int) -> list:
    """(id columns as a dict, violations) of up to ``max_rows`` failing
    rows, collected in one job."""
    rows = (
        df.where(F.size(violations_col) > 0)
        .select(*id_cols, F.col(violations_col).alias("_viols"))
        .limit(max_rows)
        .collect()
    )
    return [({c: r[c] for c in id_cols}, r["_viols"]) for r in rows]


_ANNOTATION_KEYS = (
    "title",
    "description",
    "default",
    "deprecated",
    "readOnly",
    "writeOnly",
    "examples",
    "format",
)


def _static_annotations(node_schema) -> dict:
    """A schema node's static annotation keywords → values. A
    null-valued annotation (``"default": null``) is stored by the
    reference but invisible in every output format (reference
    output.py:52 yields a unit only when ``msgval is not None``)."""
    if not isinstance(node_schema, dict):
        return {}
    return {k: node_schema[k] for k in _ANNOTATION_KEYS if node_schema.get(k) is not None}


# content-vocabulary annotations are TYPE-SCOPED: the reference's
# Content*Keyword classes declare instance_types=("string",)
# (jschon/vocabulary/annotation.py:54-70), so the unit exists only when
# the instance at that node is a string; contentSchema additionally
# requires a contentMediaType sibling (depends_on + discard otherwise).
_CONTENT_KEYS = ("contentEncoding", "contentMediaType", "contentSchema")


def _traced_plan(schema, df: DataFrame, instance_columns, id_cols, compile_kw):
    """(CompiledSchema, traced Plan, root dtype, root Column) for the
    output formats: the instance is the struct of ``instance_columns``
    (default: every column that is not an id column)."""
    from jschon_spark.compiler.core import CompiledSchema, row_instance

    cs = CompiledSchema(schema, **compile_kw)
    cols = instance_columns or [c for c in df.columns if c not in (id_cols or [])]
    dtype, root_col = row_instance(df, cols)
    return cs, cs.plan(dtype, root_col, trace=True), dtype, root_col


def audit_output(
    schema,
    df: DataFrame,
    instance_columns: list[str] | None = None,
    id_cols: list[str] | None = None,
    where: "Column | str | None" = None,
    include_passing: bool = True,
    **compile_kw,
) -> DataFrame:
    """DISTRIBUTED verbose-style audit rows: ONE Spark plan producing
    one output row per (selected document, schema node) — validity,
    dynamic keywordLocation, instanceLocation, applied-ness, and the
    node's static annotation keywords as JSON — for EVERY row-scope
    node the compile trace records (all keywords, every applicator
    branch, ref targets) plus the derived applicator group nodes
    (allOf/oneOf/properties/... gates, same pruning rule as jschon's
    collect_annotations, jsonschema.py:515-524).

    This is the at-scale audit-trail complement to ``verbose_output``:
    the row subset comes from a ``where`` predicate (pushed into the
    scan), not a driver-side sample/limit, and there are NO per-doc
    Spark jobs — the whole thing is a map-only projection + explode, so
    it runs over a 10^12-row table exactly like the violations output.
    The one scope difference: per-element HOF subtree results (array
    items / map values) stay summarized at their applicator node —
    those subtrees execute inside codegen lambdas; ``verbose_output``'s
    sampled driver-side walk expands them for human debugging.

    ``include_passing=False`` keeps only failing nodes — a distributed
    ``detailed``-style audit.

    Known limit: a struct per-field keyword (additionalProperties,
    patternProperties, propertyNames, unevaluatedProperties) has one
    trace slot per keyword location, so only its first field's node is
    reported."""
    import json as _json

    _, plan, _, _ = _traced_plan(schema, df, instance_columns, id_cols, compile_kw)
    entries = plan.trace_entries
    structs = []
    for spath, ent in entries:
        node_schema, path_col, compiled = ent[0], ent[1], ent[2]
        applied = ent[3] if len(ent) > 3 else None
        valid = F.coalesce(compiled.valid, F.lit(True))
        d = _static_annotations(node_schema)
        ann = _json.dumps(d, sort_keys=True) if d else None
        structs.append(
            F.struct(
                F.lit(spath).alias("keyword_path"),
                F.coalesce(path_col, F.lit("")).alias("instance_path"),
                valid.alias("valid"),
                (
                    F.lit(True)
                    if applied is None
                    else F.coalesce(applied, F.lit(False))
                ).alias("applied"),
                (
                    F.when(valid, F.lit(ann)).otherwise(F.lit(None).cast("string"))
                    if ann
                    else F.lit(None).cast("string")
                ).alias("annotations_json"),
            )
        )
    by_spath = dict(entries)
    for q, gate in _applicator_node_gates(entries).items():
        parent = by_spath.get(q.rsplit("/", 1)[0])
        ppath = F.coalesce(parent[1], F.lit("")) if parent is not None else F.lit("")
        structs.append(
            F.struct(
                F.lit(q).alias("keyword_path"),
                ppath.alias("instance_path"),
                F.coalesce(gate, F.lit(True)).alias("valid"),
                F.lit(True).alias("applied"),
                F.lit(None).cast("string").alias("annotations_json"),
            )
        )

    base = df.where(where) if where is not None else df
    out = (
        plan.replay(base)
        .select(*(id_cols or []), F.explode(F.array(*structs)).alias("n"))
        .select(
            *(id_cols or []),
            F.col("n.keyword_path").alias("keyword_path"),
            F.col("n.instance_path").alias("instance_path"),
            F.col("n.valid").alias("valid"),
            F.col("n.applied").alias("applied"),
            F.col("n.annotations_json").alias("annotations_json"),
        )
    )
    if not include_passing:
        out = out.where(~F.col("valid"))
    return out


def verbose_output(
    schema,
    df: DataFrame,
    instance_columns: list[str] | None = None,
    id_cols: list[str] | None = None,
    max_rows: int = 10,
    **compile_kw,
) -> list[dict]:
    """jschon ``verbose`` output for a SAMPLE of documents: the FULL
    result tree — every schema node with its validity, both locations,
    and its annotation keywords — passing nodes included (reference
    jschon/output.py:106-126; `detailed` prunes to failures, `verbose`
    does not).

    Implementation: a traced plan records one (valid,
    instanceLocation) Column pair per schema node applied at row scope;
    one Spark job selects them all for ``max_rows`` sampled rows and the
    tree is nested driver-side by keyword-location prefix. Subtrees
    compiled inside higher-order function lambdas (array items /
    prefixItems / contains) cannot be selected at row scope, so for the
    sampled documents they are RE-EVALUATED per element — one batched
    Spark job per array node (the elements become rows), giving the
    reference's full per-element result tree (jschon/output.py:106-126);
    MapType property subtrees are expanded the same way per entry.
    Driver-side and sampled by design: the flat violations DataFrame is
    the at-scale product; this is the human-debugging view.
    """
    cs, plan, dtype, root_col = _traced_plan(schema, df, instance_columns, id_cols, compile_kw)
    sel_cols = list(id_cols or []) + [root_col.alias("__instance")]
    sel_cols += _trace_columns(plan.trace_entries)
    rows = plan.replay(df).select(*sel_cols).limit(max_rows).collect()
    spark = df.sparkSession

    out = []
    for r in rows:

        def expand(node, node_schema, spath, ipath, _inst=r["__instance"]):
            # per-element / per-entry expansion of HOF-applied subschemas
            for walk in (_expand_array_subtrees, _expand_map_subtrees):
                walk(spark, cs.compiler, node, node_schema, spath, _inst, dtype, ipath)

        roots = _result_nodes(plan.trace_entries, r, expand)
        ident = {c: r[c] for c in id_cols or []}
        out.append({**ident, "result": roots[0] if roots else {}})
    return out


def _trace_columns(entries) -> list:
    """``__v{i}``/``__p{i}``: each traced node's validity and instance
    location, selected side by side for the verbose walk."""
    cols = []
    for i, (_, (_, path_col, compiled, *_x)) in enumerate(entries):
        cols += [compiled.valid.alias(f"__v{i}"), path_col.alias(f"__p{i}")]
    return cols


def _result_nodes(entries, row, expand=None) -> list[dict]:
    """One collected row's verbose result nodes, each nested under its
    deepest traced keyword-location ancestor (the root node, when
    traced, adopts every orphan); returns the top-level nodes.
    ``expand(node, schema, spath, ipath)`` may attach per-element
    subtrees to each dict-schema node."""
    index: dict[str, dict] = {}
    roots: list[dict] = []
    for i, (spath, (node_schema, *_x)) in enumerate(entries):
        node: dict = {
            "valid": bool(row[f"__v{i}"]),
            "keywordLocation": spath,
            "instanceLocation": row[f"__p{i}"] or "",
        }
        # verbose units carry annotations only on VALID nodes (invalid
        # ones carry errors — ref output.py verbose)
        ann = _static_annotations(node_schema) if node["valid"] else {}
        if ann:
            node["annotations"] = ann
        index[spath] = node
        parent = index.get("") if spath else None
        prefix = ""
        for s in [s for s in spath.split("/") if s != ""][:-1]:
            prefix = f"{prefix}/{s}"
            parent = index.get(prefix, parent)
        if parent is not None:
            parent.setdefault("results", []).append(node)
        else:
            roots.append(node)
        if expand is not None and isinstance(node_schema, dict):
            expand(node, node_schema, spath, node["instanceLocation"])
    return roots


def _walk_value(value, dtype, ipath: str):
    """(value, dtype) at a JSON-Pointer instance location inside a
    collected Row, or (None, None) when the path doesn't resolve."""
    from pyspark.sql import types as T

    node, dt = value, dtype
    for raw in [s for s in ipath.split("/") if s != ""]:
        token = raw.replace("~1", "/").replace("~0", "~")
        if isinstance(dt, T.StructType) and token in dt.fieldNames():
            node = None if node is None else node[token]
            dt = dt[token].dataType
        elif isinstance(dt, T.ArrayType):
            idx = int(token)
            node = None if node is None or idx >= len(node) else node[idx]
            dt = dt.elementType
        elif isinstance(dt, T.MapType):
            node = None if node is None else node.get(token)
            dt = dt.valueType
        else:
            return None, None
    return node, dt


def _entry_results(spark, comp, sub, kw_spath: str, key, rows: list, val_dt, path) -> list[dict]:
    """Full verbose results of ``sub`` for each entry of one sampled
    array or map: the entries become the rows (``key`` field, value
    ``e``) of a tiny DataFrame and the subschema's traced plan is
    selected across them in ONE job; ``path`` is the entry's instance
    location Column."""
    from pyspark.sql import types as T

    from jschon_spark.compiler.context import Ctx

    edf = spark.createDataFrame(rows, T.StructType([key, T.StructField("e", val_dt, True)]))
    ctx = Ctx(col=F.col("e"), dtype=val_dt, path=path, spath=kw_spath)
    plan = comp.plan(sub, ctx, trace=True, staged=True)
    got = plan.replay(edf).select(F.col(key.name), *_trace_columns(plan.trace_entries)).collect()
    results: list[dict] = []
    for er in sorted(got, key=lambda x: x[0]):
        results.extend(_result_nodes(plan.trace_entries, er))
    return results


def _expand_array_subtrees(
    spark, comp, node: dict, node_schema: dict, spath: str, instance, root_dtype, ipath: str
) -> None:
    """Replace the summarized HOF subtrees (items / prefixItems /
    contains) of one traced node with real per-element results, one
    job per keyword (see _entry_results)."""
    from pyspark.sql import types as T

    if not any(k in node_schema for k in ("items", "prefixItems", "contains")):
        return
    value, dt = _walk_value(instance, root_dtype, ipath)
    if value is None or not isinstance(dt, T.ArrayType):
        return
    elems = list(value)
    if not elems:
        return
    n_prefix = len(node_schema.get("prefixItems") or [])
    key = T.StructField("idx", T.LongType(), False)
    path = F.concat(F.lit(ipath + "/"), F.col("idx").cast("string"))

    def eval_elements(sub, kw_spath: str, idxs: list[int]) -> list[dict]:
        rows = [(i, elems[i]) for i in idxs]
        return _entry_results(spark, comp, sub, kw_spath, key, rows, dt.elementType, path)

    expanded: list[dict] = []
    for i, sub in enumerate(node_schema.get("prefixItems") or []):
        if i < len(elems):
            expanded.extend(eval_elements(sub, f"{spath}/prefixItems/{i}", [i]))
    if "items" in node_schema and len(elems) > n_prefix:
        expanded.extend(
            eval_elements(node_schema["items"], f"{spath}/items", list(range(n_prefix, len(elems))))
        )
    if "contains" in node_schema:
        expanded.extend(
            eval_elements(node_schema["contains"], f"{spath}/contains", list(range(len(elems))))
        )
    if expanded:
        node.setdefault("results", []).extend(expanded)


def _applicator_node_gates(entries):
    """Extra gate Columns for applicator NODES that have no trace entry
    of their own: jschon prunes annotation collection at the /allOf
    node (invalid when ANY branch fails), the /oneOf node (invalid
    unless EXACTLY one branch passes — a double-match prunes both valid
    branches), the /dependentSchemas node (invalid when any APPLIED
    dependency fails), and likewise the /prefixItems and /properties
    keyword nodes (invalid when any APPLIED child fails — an absent
    property / out-of-range index is vacuous) — jsonschema.py:518. The
    trace only records the child schema nodes, so derive each group
    node's validity from them. Returns {group_spath: Column}; a
    consumer conjoins the gates for every group on an entry's ancestor
    chain. Groups with untraced dict/boolean children whose
    applied-ness is unknowable (a boolean prefixItems entry) skip the
    gate — conservative: no pruning."""
    from jschon_spark.compiler.context import escape_pointer

    gates: dict[str, "F.Column"] = {}
    by_spath = dict(entries)

    def branch_valid(child_spath: str, sub) -> "F.Column | None":
        v = by_spath.get(child_spath)
        if v is not None:
            return F.coalesce(v[2].valid, F.lit(True))
        # boolean / empty subschemas short-circuit in apply() and are
        # never traced — their validity is static
        if sub is True or sub == {}:
            return F.lit(True)
        if sub is False:
            return F.lit(False)
        return None  # untraced dict branch: bail out of this group

    def applied_term(v) -> "F.Column":
        val = F.coalesce(v[2].valid, F.lit(True))
        applied = v[3]
        return val if applied is None else (~applied | val)

    for spath, (node_schema, _pc, _c, _a, *_rest) in entries:
        if not isinstance(node_schema, dict):
            continue
        for kw in ("allOf", "oneOf", "dependentSchemas", "properties", "prefixItems"):
            subs = node_schema.get(kw)
            if not subs:
                continue
            q = f"{spath}/{kw}"
            if q in gates:
                continue
            if kw in ("dependentSchemas", "properties"):
                # every APPLIED child must be valid; untraced (boolean)
                # children have no applied condition → skip the gate.
                # A non-empty dict child with no entry is a property
                # name absent from the typed column — never applied,
                # vacuously valid, skip just that name.
                terms = []
                for name, sub in subs.items():
                    v = by_spath.get(f"{q}/{escape_pointer(name)}")
                    if v is None:
                        if kw == "properties" and isinstance(sub, dict) and sub:
                            continue
                        terms = None
                        break
                    terms.append(applied_term(v))
                if not terms:
                    continue
                g = terms[0]
                for t in terms[1:]:
                    g = g & t
            elif kw == "prefixItems":
                # applied = index < len(array); untraced boolean entries
                # would need the array column → skip the gate
                terms = []
                for i in range(len(subs)):
                    v = by_spath.get(f"{q}/{i}")
                    if v is None:
                        terms = None
                        break
                    terms.append(applied_term(v))
                if not terms:
                    continue
                g = terms[0]
                for t in terms[1:]:
                    g = g & t
            else:
                valids = []
                for i, sub in enumerate(subs):
                    bv = branch_valid(f"{q}/{i}", sub)
                    if bv is None:
                        valids = None
                        break
                    valids.append(bv)
                if not valids:
                    continue
                if kw == "allOf":
                    g = valids[0]
                    for v in valids[1:]:
                        g = g & v
                else:  # oneOf: EXACTLY one branch valid
                    n = F.when(valids[0], F.lit(1)).otherwise(F.lit(0))
                    for v in valids[1:]:
                        n = n + F.when(v, F.lit(1)).otherwise(F.lit(0))
                    g = n == F.lit(1)
            gates[q] = g
    return gates


def annotation_array(plan) -> "F.Column":
    """array<struct<instance_path,keyword_path,keyword,value_json>> of
    the annotation units a traced :class:`Plan` contributes for one
    document. jschon collects annotations by walking the Result tree
    (jsonschema.py:515-524), which (a) has no node at all for UNAPPLIED
    subschemas (a `then` whose `if` failed, an absent property, a
    prefixItems index beyond the array length), and (b) prunes at
    INVALID nodes — a valid node buried under a failed anyOf branch
    contributes nothing. Reproduce both: the compile-time ctx.applied
    condition covers (a); the ancestor-chain validity conjunction
    covers (b).

    ``plan.custom_annotations`` (spath → [(keyword, value_json,
    needs_nonnull, own_valid|None)]) adds units for ACTIVE user-defined
    keywords that annotate (≙ result.annotate from a custom
    Keyword.evaluate on success)."""
    import json as _json

    from pyspark.sql import types as T

    units = []
    entries = plan.trace_entries
    node_gates = _applicator_node_gates(entries)

    # Ancestor-chain gates, memoized along the schema-path tree. A node's
    # gate conjoins (a) the validity of every TRACED proper ancestor and
    # (b) the derived validity of every applicator GROUP node (/allOf,
    # /oneOf, /dependentSchemas, /properties, /prefixItems — no trace
    # entry of their own; jschon prunes at invalid nodes even when this
    # branch passed) on the chain, group nodes applying to themselves
    # too. Because all prefixes of a path form a chain, the conjunction
    # at a node is its deepest prefix point's inheritable gate plus that
    # point's own contribution — one ``&`` per point instead of the
    # O(n²) per-entry ancestor rescan this replaced (the rescan made
    # annotation plans quadratic in schema size: ~90k py4j Column ops
    # for a 300-node fuzz schema).
    points: dict[str, tuple] = {}
    for p, pv in entries:
        points[p] = ("entry", pv[2].valid)
    for q, qg in node_gates.items():
        points[q] = ("group", qg)

    def _conj(a, b):
        if a is None:
            return b
        if b is None:
            return a
        return a & b

    at: dict[str, "F.Column | None"] = {}  # gate applying AT this point
    down: dict[str, "F.Column | None"] = {}  # gate inherited by strict descendants
    for p in sorted(points):  # lexicographic → every prefix before its extensions
        kind, contrib = points[p]
        anc = None
        segs = [s for s in p.split("/") if s != ""]
        prefix = ""
        if p != "" and "" in points:
            anc = ""
        for s in segs[:-1]:
            prefix = f"{prefix}/{s}"
            if prefix in points:
                anc = prefix
        base = down.get(anc) if anc is not None else None
        if kind == "group":
            # a group's own gate applies to the group node itself
            at[p] = _conj(base, contrib)
            down[p] = at[p]
        else:
            at[p] = base
            down[p] = _conj(base, contrib)

    for spath, (node_schema, path_col, compiled, applied, dtype, val_col) in entries:
        if not isinstance(node_schema, dict):
            continue
        # content* units exist only at STRING instances (see _CONTENT_KEYS
        # note); the static dtype decides the type, the runtime null check
        # excludes explicit nulls (jtype 'null' is not 'string')
        content_keys: tuple = ()
        if isinstance(dtype, T.StringType):
            content_keys = tuple(
                k
                for k in _CONTENT_KEYS
                if k in node_schema
                and node_schema[k] is not None
                and (k != "contentSchema" or "contentMediaType" in node_schema)
            )
        custom = plan.custom_annotations.get(spath, ())
        anns = _static_annotations(node_schema)
        if not content_keys and not custom and not anns:
            continue
        gate = compiled.valid
        if applied is not None:
            gate = gate & applied
        extra = at.get(spath)
        if extra is not None:
            gate = gate & extra
        emit = [(k, gate) for k in anns] + [(k, gate & val_col.isNotNull()) for k in content_keys]
        for k, kgate in emit:
            units.append(
                F.when(
                    kgate,
                    F.struct(
                        F.coalesce(path_col, F.lit("")).alias("instance_path"),
                        F.lit(spath).alias("keyword_path"),
                        F.lit(k).alias("keyword"),
                        F.lit(_json.dumps(node_schema[k])).alias("value_json"),
                    ),
                )
            )
        for k, vjson, needs_nonnull, own in custom:
            kgate = gate & val_col.isNotNull() if needs_nonnull else gate
            if own is not None:
                # asserting keywords annotate iff their own evaluation
                # succeeded (walk validity can be flipped under `not`)
                kgate = kgate & own
            units.append(
                F.when(
                    kgate,
                    F.struct(
                        F.coalesce(path_col, F.lit("")).alias("instance_path"),
                        F.lit(spath).alias("keyword_path"),
                        F.lit(k).alias("keyword"),
                        F.lit(vjson).alias("value_json"),
                    ),
                )
            )
    if not units:
        empty = T.ArrayType(
            T.StructType(
                [
                    T.StructField("instance_path", T.StringType()),
                    T.StructField("keyword_path", T.StringType()),
                    T.StructField("keyword", T.StringType()),
                    T.StructField("value_json", T.StringType()),
                ]
            )
        )
        return F.lit(None).cast(empty)
    return F.filter(F.array(*units), lambda u: u.isNotNull())


def annotation_output(
    schema,
    df: DataFrame,
    instance_columns: list[str] | None = None,
    id_cols: list[str] | None = None,
    **compile_kw,
) -> DataFrame:
    """Distributed jschon-style annotation collection (reference
    output.py `basic` format's ``annotations`` units, jschon collects
    them in jsonschema.py:515-524): one row per (document, schema node,
    annotation keyword) for nodes that VALIDATED on that document —
    annotations do not flow from failed nodes.

    Unlike verbose_output this is NOT sampled: annotation values are
    static per schema node, so the only dynamic inputs are each node's
    per-row validity and instance location — plain codegen'd Columns
    from the compiler trace, scaling like any other projection. Rows
    where the DOCUMENT as a whole failed are excluded (jschon drops
    annotations of failed evaluations; output.py:46-70).

    Known limit: a struct per-field keyword (additionalProperties,
    patternProperties, propertyNames, unevaluatedProperties) has one
    trace slot per keyword location, filled by its first field, so only
    that field annotates: ``{"additionalProperties": {"title": "T"}}``
    over ``(a=4, b=5)`` gives a unit at ``/a`` only, where jschon gives
    ``/a`` and ``/b``."""
    _, plan, _, _ = _traced_plan(schema, df, instance_columns, id_cols, compile_kw)
    ident = [F.col(c) for c in (id_cols or [])]
    out = (
        plan.replay(df)
        .where(plan.valid)
        .select(*ident, F.explode(annotation_array(plan)).alias("a"))
    )
    return out.select(
        *(id_cols or []),
        F.col("a.instance_path").alias("instance_path"),
        F.col("a.keyword_path").alias("keyword_path"),
        F.col("a.keyword").alias("keyword"),
        F.col("a.value_json").alias("value_json"),
    )


def _expand_map_subtrees(
    spark, comp, node: dict, node_schema: dict, spath: str, instance, root_dtype, ipath: str
) -> None:
    """Per-ENTRY results for MapType nodes (the map analogue of
    `_expand_array_subtrees`): each applicable subschema's trace is
    selected across the keys it governs — properties by name,
    patternProperties by regex, additionalProperties for the rest."""
    import re as _re

    from pyspark.sql import types as T

    from jschon_spark.compiler.context import escape_pointer, escape_pointer_col

    kws = ("properties", "patternProperties", "additionalProperties")
    if not any(k in node_schema for k in kws):
        return
    value, dt = _walk_value(instance, root_dtype, ipath)
    if value is None or not isinstance(dt, T.MapType):
        return
    entries = dict(value)
    if not entries:
        return
    key = T.StructField("k", T.StringType(), False)
    path = F.concat(F.lit(ipath + "/"), escape_pointer_col(F.col("k")))

    def eval_keys(sub, kw_spath: str, keys: list[str]) -> list[dict]:
        rows = [(k, entries[k]) for k in keys]
        return _entry_results(spark, comp, sub, kw_spath, key, rows, dt.valueType, path)

    expanded: list[dict] = []
    named = node_schema.get("properties") or {}
    pats = node_schema.get("patternProperties") or {}
    matched: set[str] = set()
    for name, sub in named.items():
        if name in entries:
            matched.add(name)
            expanded.extend(
                eval_keys(sub, f"{spath}/properties/{escape_pointer(name)}", [name])
            )
    for regex, sub in pats.items():
        hit = [k for k in entries if _re.search(regex, k)]
        if hit:
            matched.update(hit)
            expanded.extend(
                eval_keys(sub, f"{spath}/patternProperties/{escape_pointer(regex)}", sorted(hit))
            )
    if "additionalProperties" in node_schema:
        rest = sorted(k for k in entries if k not in matched)
        if rest and node_schema["additionalProperties"] is not False:
            expanded.extend(
                eval_keys(node_schema["additionalProperties"], f"{spath}/additionalProperties", rest)
            )
    if expanded:
        node.setdefault("results", []).extend(expanded)


def violation_histogram(df: DataFrame, violations_col: str = "violations") -> DataFrame:
    """Counts by (keyword, keyword_path) — a quick profile of what
    failed across the table."""
    v = F.explode(F.col(violations_col)).alias("v")
    return (
        df.where(F.size(violations_col) > 0)
        .select(v)
        .groupBy(F.col("v.keyword").alias("keyword"), F.col("v.keyword_path").alias("keyword_path"))
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .orderBy(F.desc("n_violations"))
    )
