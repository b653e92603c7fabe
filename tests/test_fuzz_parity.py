"""DIFFERENTIAL FUZZING against the in-sandbox reference.

tests/test_reference_parity.py machine-checks the hand-ported suite
expectations; this module goes further: deterministic, seeded random
(schema, instance) pairs are evaluated by BOTH the reference (jschon
itself, via the tests/ref_oracle shim) and the Spark engine, and every
verdict must agree. This attacks the one remaining correctness risk
named by the round-2 verdict — keyword INTERACTIONS outside the ported
suite's cross-product (ref consumes the full official suite at
/root/reference/tests/test_suite.py:92-170; we cannot, no network).

The generator covers: type/enum/const, numeric + string bounds,
pattern, object blocks (properties / patternProperties /
additionalProperties / required / dependentRequired / dependentSchemas
/ propertyNames / min-maxProperties), array blocks (prefixItems /
items / contains / min-maxContains / min-maxItems / uniqueItems),
combinators (allOf/anyOf/oneOf/not/if-then-else), $defs + $ref, and
unevaluatedProperties / unevaluatedItems layered over all of the
above. Instances are biased toward schema-derived hint values
(bounds ± 1, enum members, property names) so the valid/invalid
boundary is exercised, not just the trivially-invalid bulk.

Beyond the valid/invalid verdict, every comparison also checks OUTPUT
parity against the reference's `basic` format:

- invalid instances: the set of (instanceLocation, leaf keyword)
  violation locations must match exactly (applicator summaries and
  per-element contains detail excluded — documented granularity
  deltas);
- valid instances: the set of (instanceLocation, keyword, value)
  annotation units must match exactly (dynamic/aliased positions
  excluded — see _ANNOT_EXCLUDE_SEGS).

Instances with no single Spark type (heterogeneous arrays etc.) are
skipped on the Spark side only — the documented typed-column delta
(SURVEY.md §2.9.1); the skip rate is asserted bounded so the fuzz
can't silently degrade into skipping everything.

Round-3 families: format annotations, unevaluated* layered over
array/conditional/$ref bases, and EXTERNAL-CATALOG pairs (a main
document referencing a separately registered document through
absolute/relative/anchor/pointer/nested-resource URI forms) — the
external family found two real bugs on its first run: nested $id
resources of catalog documents were not directly addressable, and
external targets' trace locations collided with root-document spaths
(both fixed in compiler/catalog.py + core.py this round).
"""

from __future__ import annotations

import copy
import json
import os
import random
import sys

import pytest

from conftest import REFERENCE_ABSENT
from jschon_spark.testing import evaluate_batch

_HERE = os.path.dirname(os.path.abspath(__file__))
_META = "https://json-schema.org/draft/2020-12/schema"

# ---------------------------------------------------------------- reference


@pytest.fixture(scope="module")
def ref():
    """Shimmed reference (same loading as test_reference_parity.py)."""
    sys.path.insert(0, os.path.join(_HERE, "ref_oracle"))
    sys.path.insert(0, "/root/reference")
    try:
        from jschon import JSON, JSONSchema, URI
        from jschon.catalog import Catalog, LocalSource, _2020_12
    except Exception as e:  # pragma: no cover
        pytest.skip(f"{REFERENCE_ABSENT}: reference not importable: {e}")

    meta_dir = os.path.join(_HERE, "ref_oracle", "json-schema-2020-12")
    orig_source = _2020_12.LocalSource
    _2020_12.LocalSource = lambda base_dir, **kw: LocalSource(meta_dir, **kw)
    try:
        try:
            catalog = Catalog.get_catalog("parity")
        except Exception:
            catalog = Catalog(name="parity")
            _2020_12.initialize(catalog)
    finally:
        _2020_12.LocalSource = orig_source
    return {"catalog": catalog, "JSON": JSON, "JSONSchema": JSONSchema, "URI": URI}


# ---------------------------------------------------------------- generators

_KEYS = ["a", "b", "c", "d"]
_PATTERNS = ["^a", "a$", "^[ab]+$", "c", "^a.c$", "^[0-9]+$", "^(a|b)b*$"]
_STRINGS = ["", "a", "b", "ab", "aa", "abc", "a1c", "bb", "12", "ccc"]
_INTS = [-2, -1, 0, 1, 2, 3, 5, 10]
_FLOATS = [0.5, 1.0, 1.5, 2.0, 2.5, 9.5]
_TYPES = ["null", "boolean", "integer", "number", "string", "array", "object"]


def _scalar(rng: random.Random):
    k = rng.randrange(5)
    if k == 0:
        return None
    if k == 1:
        return rng.choice([True, False])
    if k == 2:
        return rng.choice(_INTS)
    if k == 3:
        return rng.choice(_FLOATS)
    return rng.choice(_STRINGS)


def gen_schema(rng: random.Random, depth: int, defs: list) -> object:
    r = rng.random()
    if depth <= 0 or r < 0.06:
        return rng.choice([True, False, {}, {"type": rng.choice(_TYPES)}])
    s: dict = {}
    for _ in range(rng.randint(1, 3)):
        _FACETS[rng.randrange(len(_FACETS))](s, rng, depth, defs)
    return s


def _f_type(s, rng, depth, defs):
    if rng.random() < 0.3:
        s["type"] = rng.sample(_TYPES, rng.randint(2, 3))
    else:
        s["type"] = rng.choice(_TYPES)


def _f_const_enum(s, rng, depth, defs):
    vals = [_scalar(rng) for _ in range(rng.randint(1, 4))]
    if rng.random() < 0.3:
        vals.append([_scalar(rng), _scalar(rng)])
    if rng.random() < 0.4:
        s["const"] = rng.choice(vals)
    else:
        s["enum"] = vals


def _f_numeric(s, rng, depth, defs):
    for kw in rng.sample(
        ["minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum", "multipleOf"],
        rng.randint(1, 2),
    ):
        if kw == "multipleOf":
            s[kw] = rng.choice([1, 2, 3, 0.5, 1.5, 10])
        else:
            s[kw] = rng.choice(_INTS + _FLOATS)


def _f_string(s, rng, depth, defs):
    kw = rng.choice(["minLength", "maxLength", "pattern"])
    if kw == "pattern":
        s[kw] = rng.choice(_PATTERNS)
    else:
        s[kw] = rng.randint(0, 5)


def _f_object(s, rng, depth, defs):
    which = rng.sample(
        ["properties", "patternProperties", "additionalProperties", "required",
         "dependentRequired", "dependentSchemas", "propertyNames", "counts"],
        rng.randint(1, 3),
    )
    if "properties" in which:
        s["properties"] = {
            k: gen_schema(rng, depth - 1, defs)
            for k in rng.sample(_KEYS, rng.randint(1, 3))
        }
    if "patternProperties" in which:
        s["patternProperties"] = {rng.choice(["^a", "^[ab]", "c$"]): gen_schema(rng, depth - 1, defs)}
    if "additionalProperties" in which:
        s["additionalProperties"] = (
            rng.choice([True, False]) if rng.random() < 0.5 else gen_schema(rng, depth - 1, defs)
        )
    if "required" in which:
        s["required"] = rng.sample(_KEYS, rng.randint(1, 2))
    if "dependentRequired" in which:
        s["dependentRequired"] = {rng.choice(_KEYS): rng.sample(_KEYS, rng.randint(1, 2))}
    if "dependentSchemas" in which:
        s["dependentSchemas"] = {rng.choice(_KEYS): gen_schema(rng, depth - 1, defs)}
    if "propertyNames" in which:
        s["propertyNames"] = rng.choice(
            [{"maxLength": rng.randint(0, 3)}, {"pattern": rng.choice(["^a", "^[abc]$", "^[a-d]"])}]
        )
    if "counts" in which:
        s[rng.choice(["minProperties", "maxProperties"])] = rng.randint(0, 3)


def _f_array(s, rng, depth, defs):
    which = rng.sample(
        ["prefixItems", "items", "contains", "counts", "uniqueItems"], rng.randint(1, 3)
    )
    if "prefixItems" in which:
        s["prefixItems"] = [gen_schema(rng, depth - 1, defs) for _ in range(rng.randint(1, 3))]
    if "items" in which:
        s["items"] = (
            rng.choice([True, False]) if rng.random() < 0.3 else gen_schema(rng, depth - 1, defs)
        )
    if "contains" in which:
        s["contains"] = gen_schema(rng, depth - 1, defs)
        if rng.random() < 0.5:
            s["minContains"] = rng.randint(0, 2)
        if rng.random() < 0.3:
            s["maxContains"] = rng.randint(1, 3)
    if "counts" in which:
        s[rng.choice(["minItems", "maxItems"])] = rng.randint(0, 4)
    if "uniqueItems" in which:
        s["uniqueItems"] = True


def _f_combinator(s, rng, depth, defs):
    kw = rng.choice(["allOf", "anyOf", "oneOf"])
    s[kw] = [gen_schema(rng, depth - 1, defs) for _ in range(rng.randint(1, 3))]


def _f_not(s, rng, depth, defs):
    s["not"] = gen_schema(rng, depth - 1, defs)


def _f_conditional(s, rng, depth, defs):
    s["if"] = gen_schema(rng, depth - 1, defs)
    if rng.random() < 0.8:
        s["then"] = gen_schema(rng, depth - 1, defs)
    if rng.random() < 0.6:
        s["else"] = gen_schema(rng, depth - 1, defs)


def _f_unevaluated(s, rng, depth, defs):
    # layer over an in-place applicator so there is evaluation to track —
    # vary the base: combinators, direct array keywords (prefixItems /
    # items / contains feed unevaluatedItems coverage), conditionals
    # (coverage gated on the branch guard), or a $ref carrier
    base = rng.randrange(4)
    if base == 0:
        _f_array(s, rng, depth, defs)
    elif base == 1:
        _f_conditional(s, rng, depth, defs)
    elif base == 2 and defs:
        _f_ref(s, rng, depth, defs)
    else:
        _f_combinator(s, rng, depth, defs)
    if rng.random() < 0.15:  # both trackers at once
        s["unevaluatedProperties"] = (
            rng.choice([True, False]) if rng.random() < 0.5 else gen_schema(rng, depth - 1, defs)
        )
        s["unevaluatedItems"] = (
            rng.choice([True, False]) if rng.random() < 0.5 else gen_schema(rng, depth - 1, defs)
        )
        return
    if rng.random() < 0.5:
        s["unevaluatedProperties"] = (
            rng.choice([True, False]) if rng.random() < 0.5 else gen_schema(rng, depth - 1, defs)
        )
    else:
        s["unevaluatedItems"] = (
            rng.choice([True, False]) if rng.random() < 0.5 else gen_schema(rng, depth - 1, defs)
        )


def _f_ref(s, rng, depth, defs):
    # ``defs`` is a pool of ready-to-use $ref strings (pointer, anchor,
    # or URI form — the caller decides)
    if defs:
        s["$ref"] = rng.choice(defs)
    else:
        _f_combinator(s, rng, depth, defs)


def _f_annotation(s, rng, depth, defs):
    # pair an annotation with something assertive so the node isn't
    # a no-op; annotation parity is checked on VALID instances
    kw, val = rng.choice(
        [
            ("title", rng.choice(["T1", "T2", "a title"])),
            ("description", "desc"),
            ("default", _scalar(rng)),
            ("deprecated", True),
            ("readOnly", rng.choice([True, False])),
            ("examples", [_scalar(rng), _scalar(rng)]),
            ("format", rng.choice(["email", "date-time", "uuid", "ipv4", "x-fuzz"])),
            # content vocabulary (round-4 family expansion): annotation-
            # only, TYPE-SCOPED to string instances in the reference
            ("contentEncoding", rng.choice(["base64", "quoted-printable"])),
            ("contentMediaType", rng.choice(["application/json", "text/plain"])),
        ]
    )
    s[kw] = val
    if kw == "contentMediaType" and rng.random() < 0.5:
        # contentSchema only annotates beside a contentMediaType sibling
        s["contentSchema"] = rng.choice([{"type": "object"}, {"minLength": 1}, True])
    elif rng.random() < 0.15:
        # orphaned contentSchema: the reference DISCARDS its annotation
        s["contentSchema"] = {"type": "string"}
    _FACETS[rng.randrange(len(_FACETS) - 1)](s, rng, depth, defs)


_FACETS = [
    _f_type, _f_const_enum, _f_numeric, _f_string, _f_object, _f_object,
    _f_array, _f_array, _f_combinator, _f_combinator, _f_not, _f_conditional,
    _f_unevaluated, _f_unevaluated, _f_ref,
    _f_annotation,  # keep last: _f_annotation recurses into the others
]


def gen_root_schema(rng: random.Random, depth: int = 3) -> dict:
    n_defs = rng.randint(0, 2)
    names = [f"d{i}" for i in range(n_defs)]
    pool = [f"#/$defs/{n}" for n in names]
    root = gen_schema(rng, depth, pool)
    if not isinstance(root, dict):
        root = {"allOf": [root]}
    if names:
        # later defs may reference earlier ones
        root["$defs"] = {
            name: gen_schema(rng, depth - 1, pool[:i]) for i, name in enumerate(names)
        }
    return root


def gen_ref_heavy_schema(rng: random.Random, seed: int, depth: int = 3) -> dict:
    """Identification-and-referencing stress: $defs carrying $anchor
    names and nested $id resources (absolute and relative), refs drawn
    from JSON-Pointer, plain-anchor, relative-URI and absolute-URI
    forms, plus an optional root $dynamicAnchor extended via
    $dynamicRef — the resolution machinery of core.py:_index/resolve_ref
    against the reference's jschon/jsonschema.py + catalog."""
    base = f"https://fuzz.example/{seed}/root"
    n_defs = rng.randint(2, 4)
    names, pool, carriers = [], [], []
    for i in range(n_defs):
        names.append(f"d{i}")
        kind = rng.randrange(3)
        if kind == 0:
            pool.append(f"#/$defs/d{i}")
        elif kind == 1:
            pool.append(f"#a{i}")  # plain anchor
        else:
            # nested resource: both relative and absolute URI forms
            # resolve to https://fuzz.example/<seed>/sub<i>
            pool.append(rng.choice([f"sub{i}", f"https://fuzz.example/{seed}/sub{i}"]))
        carriers.append(kind)
    defs = {}
    for i, name in enumerate(names):
        if carriers[i] == 2:
            # inside a nested $id resource, "#/..." pointer fragments
            # and "#anchor" refs resolve against the SUB-resource base,
            # so only URI-form pool entries stay valid there; a
            # relative "subK" against base .../sub<i> still resolves to
            # .../subK — that cross-sibling hop is the interesting case
            inner_pool = [p for p in pool[:i] if not p.startswith("#")]
        else:
            inner_pool = pool[:i]
        sub = gen_schema(rng, depth - 1, inner_pool)
        if not isinstance(sub, dict):
            sub = {"allOf": [sub]}
        if carriers[i] == 1:
            sub["$anchor"] = f"a{i}"
        elif carriers[i] == 2:
            sub["$id"] = f"sub{i}"
        defs[name] = sub
    root = gen_schema(rng, depth, pool)
    if not isinstance(root, dict):
        root = {"allOf": [root]}
    root["$id"] = base
    root["$defs"] = defs
    if rng.random() < 0.4:
        # dynamic extension: root declares the dynamic anchor; a def
        # reached through a static ref extends through it. Only non-
        # resource defs qualify — inside a nested $id resource, the
        # initial "#T" target resolves against the SUB base where no
        # such anchor exists (the reference refuses, correctly)
        hosts = [n for n, k in zip(names, carriers) if k != 2]
        if hosts:
            root["$dynamicAnchor"] = "T"
            d = root["$defs"][rng.choice(hosts)]
            if isinstance(d, dict):
                d.setdefault("allOf", []).append({"$dynamicRef": "#T"})
    return root


def to_2019_09(schema):
    """Rewrite a generated 2020-12 schema into its exact 2019-09
    equivalent (the inverse of compiler/legacy.py's normalization):
    prefixItems -> tuple-form items (any schema-form items becomes
    additionalItems)."""
    if isinstance(schema, list):
        return [to_2019_09(s) for s in schema]
    if not isinstance(schema, dict):
        return schema
    out = {}
    for k, v in schema.items():
        if k == "prefixItems":
            out["items"] = [to_2019_09(s) for s in v]
            if "items" in schema:
                out["additionalItems"] = to_2019_09(schema["items"])
            continue
        if k == "items" and "prefixItems" in schema:
            continue  # folded into additionalItems above
        out[k] = to_2019_09(v)
    return out


# hint collection: values that sit near the schema's decision boundaries
def collect_hints(schema, hints):
    if isinstance(schema, dict):
        for k, v in schema.items():
            if k in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum", "multipleOf"):
                hints["values"].extend([v, v + 1, v - 1])
            elif k in ("minLength", "maxLength", "minItems", "maxItems",
                       "minProperties", "maxProperties", "minContains", "maxContains"):
                hints["values"].append("a" * max(0, int(v)))
            elif k == "const":
                hints["values"].append(v)
            elif k == "enum":
                hints["values"].extend(v)
            elif k in ("properties", "patternProperties", "dependentSchemas", "dependentRequired"):
                hints["keys"].extend(v.keys())
                collect_hints(list(v.values()), hints)
                continue
            elif k == "required":
                hints["keys"].extend(v)
                continue
            collect_hints(v, hints)
    elif isinstance(schema, list):
        for v in schema:
            collect_hints(v, hints)


def gen_instance(rng: random.Random, depth: int, hints) -> object:
    if hints["values"] and rng.random() < 0.3:
        return copy.deepcopy(rng.choice(hints["values"]))
    kind = rng.choices(
        ["null", "bool", "int", "float", "str", "arr", "obj"],
        weights=[1, 1, 3, 2, 3, 3 if depth > 0 else 0, 3 if depth > 0 else 0],
    )[0]
    if kind == "null":
        return None
    if kind == "bool":
        return rng.choice([True, False])
    if kind == "int":
        return rng.choice(_INTS)
    if kind == "float":
        return rng.choice(_FLOATS)
    if kind == "str":
        return rng.choice(_STRINGS)
    if kind == "arr":
        n = rng.randint(0, 4)
        if rng.random() < 0.75:
            # homogeneous (stays Spark-typeable): one element generator
            gen = rng.choice([
                lambda: rng.choice(_INTS),
                lambda: rng.choice(_STRINGS),
                lambda: rng.choice(_FLOATS),
                lambda: gen_instance(rng, depth - 1, hints),
            ])
            first = gen()
            out = [first] + [gen() for _ in range(n - 1)] if n else []
            return out
        return [gen_instance(rng, depth - 1, hints) for _ in range(n)]
    keys = hints["keys"] + _KEYS if hints["keys"] else _KEYS
    chosen = []
    for k in keys:
        if rng.random() < 0.35 and k not in chosen:
            chosen.append(k)
    return {k: gen_instance(rng, depth - 1, hints) for k in chosen}


# ----------------------------------------------- violation-location parity

# Leaf assertion keywords whose error rows are directly comparable
# between the engines. Applicator summaries ("/properties", "/anyOf",
# "/not", boolean-false schema positions…) differ in which get emitted
# and are excluded; so are unevaluated* (the reference emits ONE
# object-level summary, we emit one row per offending member — a
# documented, strictly finer granularity).
_LEAF_KEYWORDS = {
    "type", "enum", "const", "multipleOf", "maximum", "exclusiveMaximum",
    "minimum", "exclusiveMinimum", "maxLength", "minLength", "pattern",
    "maxItems", "minItems", "uniqueItems", "maxContains", "minContains",
    "maxProperties", "minProperties", "required", "dependentRequired",
}


def _ref_leaf_set(errors, strict: bool = True) -> set:
    """``strict`` compares the FULL dynamic keywordLocation string —
    exact parity with the reference's basic output, possible since the
    compiler emits site-based /$ref dynamic paths (core.py
    _target_spath). Legacy (2019-09/draft-07) families pass
    strict=False: the legacy.py rewrites relocate keywords (tuple
    items→prefixItems, dependencies→dependentSchemas, $recursiveRef→
    $dynamicRef), so only the (instanceLocation, leaf keyword) pair is
    comparable there."""
    out = set()
    for e in errors:
        toks = e["keywordLocation"].split("/")
        # per-element detail under `contains` is reference-only (we
        # summarize the match count — SURVEY.md §2.9.1)
        if "contains" in toks[:-1]:
            continue
        if toks[-1] in _LEAF_KEYWORDS:
            out.add(
                (e["instanceLocation"], e["keywordLocation"] if strict else toks[-1])
            )
    return out


def _spark_leaf_set(viols, strict: bool = True) -> set:
    out = set()
    for r in viols:
        toks = r["keyword_path"].split("/")
        if "contains" in toks[:-1]:
            continue
        if toks[-1] in _LEAF_KEYWORDS:
            out.add((r["instance_path"], r["keyword_path"] if strict else toks[-1]))
    return out


# Annotation units comparable 1:1. Excluded dynamic/aliased positions:
# per-element HOF subtrees aren't traced (items/contains/unevaluated*),
# multiple struct fields share one trace spath (patternProperties /
# additionalProperties / propertyNames), and $ref'd subtrees are traced
# once statically while the reference reports one unit per dynamic
# path ($ref / $defs / $dynamicRef / $recursiveRef segments).
_ANNOT_KEYWORDS = {
    "title", "description", "default", "deprecated", "readOnly",
    "writeOnly", "examples", "format",
    "contentEncoding", "contentMediaType", "contentSchema",
}
# r4: "$ref"/"$defs"/"$dynamicRef" removed — ref applications now get
# per-application trace slots with site-based dynamic spaths, so
# annotation units THROUGH refs are directly comparable. Still excluded:
# per-element HOF subtrees aren't traced (items/contains/unevaluated*)
# and multiple struct fields share one trace spath (patternProperties /
# additionalProperties / propertyNames). "$defs" stays excluded on the
# REFERENCE side only in the sense that a unit whose dynamic path walks
# $defs can only be reached through a ref — which now carries a $ref
# segment on both sides.
# r4 late: "$recursiveRef" removed too — it had survived the r4 cleanup
# by oversight, and the exclusion was ASYMMETRIC (campaign legacy seed
# 7059): the legacy rewrite renames the keyword to $dynamicRef on the
# Spark side, so reference units through $recursiveRef were dropped
# while the matching Spark units survived. $recursiveRef only occurs in
# legacy families, which compare loose (leaf keyword) locations, so the
# rename itself is invisible to the comparison.
_ANNOT_EXCLUDE_SEGS = {
    "items", "contains", "unevaluatedItems", "unevaluatedProperties",
    "patternProperties", "additionalProperties", "propertyNames",
}


def _ref_annot_set(annots, strict: bool = True) -> set:
    """``strict`` includes the FULL dynamic keywordLocation in each
    annotation unit (exact location parity, like the violation sets);
    legacy families pass strict=False (keyword rewrites relocate)."""
    out = set()
    for a in annots:
        toks = a["keywordLocation"].split("/")
        if set(toks[:-1]) & _ANNOT_EXCLUDE_SEGS:
            continue
        if toks[-1] in _ANNOT_KEYWORDS:
            loc = a["keywordLocation"] if strict else toks[-1]
            out.add((a["instanceLocation"], loc, json.dumps(a.get("annotation"))))
    return out


def _spark_annot_set(anns, exclude_extra: frozenset = frozenset(),
                     strict: bool = True) -> set:
    out = set()
    exclude = _ANNOT_EXCLUDE_SEGS | exclude_extra
    for r in anns:
        full = r["keyword_path"] + "/" + r["keyword"]
        toks = full.split("/")
        if set(toks[:-1]) & exclude:
            continue
        if toks[-1] in _ANNOT_KEYWORDS:
            loc = full if strict else r["keyword"]
            out.add((r["instance_path"], loc, r["value_json"]))
    return out


# For LEGACY-dialect (2019-09/draft-07) comparisons only: tuple-form
# `items` compiles as `prefixItems` on the Spark side (legacy.py
# rewrite), so a reference unit at .../items/0/... — excluded by the
# "items" segment above — reappears at .../prefixItems/0/... in the
# Spark trace. Genuine 2019-09 schemas cannot contain a real
# prefixItems keyword, so excluding the segment on the Spark side is
# exactly the symmetric filter. (2020-12 comparisons keep prefixItems
# units comparable on both sides.)
_LEGACY_SPARK_EXCLUDE = frozenset({"prefixItems"})


def _compare_case(datas, ref_verdicts, ref_outputs, spark_results, label,
                  spark_annot_exclude: frozenset = frozenset(),
                  strict_locations: bool = True):
    """Shared verdict + leaf-violation-location + annotation-unit
    comparison. ``ref_outputs`` holds each instance's basic-output
    errors (invalid) or annotations (valid)."""
    mismatches, skipped = [], 0
    for d, rv, re_, sr in zip(datas, ref_verdicts, ref_outputs, spark_results):
        if sr is None:
            skipped += 1
            continue
        sv, sviols, sanns = sr
        if sv != rv:
            mismatches.append(f"  data={d!r}: reference={rv} spark={sv}")
            continue
        if not sv:
            want = _ref_leaf_set(re_, strict_locations)
            got = _spark_leaf_set(sviols, strict_locations)
            if want != got:
                mismatches.append(
                    f"  data={d!r}: leaf violation locations differ\n"
                    f"    reference={sorted(want)}\n    spark    ={sorted(got)}"
                )
        else:
            want = _ref_annot_set(re_, strict_locations)
            got = _spark_annot_set(sanns, spark_annot_exclude, strict_locations)
            if want != got:
                mismatches.append(
                    f"  data={d!r}: annotation units differ\n"
                    f"    reference={sorted(want)}\n    spark    ={sorted(got)}"
                )
    return mismatches, skipped


def test_unevaluated_ref_member_order(spark, ref):
    """Pins the reference bug ref_canonical works around, in BOTH
    directions: (a) OUR engine gives the spec verdict for both member
    orders; (b) the reference's two orders DISAGREE — if a future
    jschon release fixes its unevaluated* depends_on, this assertion
    flips and the canonicalization should be re-adjudicated."""
    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    defs = {"d0": {"items": True}}
    ref_first = {"$defs": defs, "$ref": "#/$defs/d0", "unevaluatedItems": False}
    uei_first = {"$defs": defs, "unevaluatedItems": False, "$ref": "#/$defs/d0"}
    data = [1.5, 2.0]

    ours = evaluate_batch(spark, ref_first, [data]) + evaluate_batch(
        spark, uei_first, [data]
    )
    assert ours == [True, True], f"engine must be member-order-insensitive: {ours}"

    meta = URI("https://json-schema.org/draft/2020-12/schema")
    got = []
    for i, s in enumerate((ref_first, uei_first)):
        compiled = JSONSchema(
            s, catalog=ref["catalog"], cacheid=f"order-pin-{i}", metaschema_uri=meta
        )
        got.append(bool(compiled.evaluate(JSON(data)).valid))
    assert got == [True, False], (
        f"reference member-order sensitivity changed ({got}) — re-adjudicate "
        "ref_canonical if jschon fixed unevaluated* depends_on"
    )
    # and the canonicalized spelling restores agreement
    fixed = JSONSchema(
        ref_canonical(uei_first), catalog=ref["catalog"], cacheid="order-pin-c",
        metaschema_uri=meta,
    )
    assert bool(fixed.evaluate(JSON(data)).valid) is True


def ref_canonical(schema):
    """Deep copy of ``schema`` with unevaluatedItems/unevaluatedProperties
    moved LAST in every object — for the REFERENCE side of the
    comparison only.

    jschon 0.11.1 evaluates keywords in MEMBER ORDER subject to
    ``depends_on`` (jsonschema.py:169-183), and the unevaluated*
    keywords' depends_on lists omit $ref/$dynamicRef/$recursiveRef
    (vocabulary/applicator.py:193, :336), so a document that spells
    unevaluatedItems BEFORE an adjacent $ref evaluates it before the
    ref's coverage annotations exist: probed live, {"unevaluatedItems":
    false, "$ref": "#/$defs/d0"} with d0={"items": true} REJECTS
    [1.5, 2.0] while the $ref-first spelling accepts it — member-order-
    sensitive verdicts, a reference bug its own suite never trips
    (suite files all spell $ref first). Our compiled engine is
    member-order-insensitive per 2020-12 §11.2, so the fuzz comparison
    canonicalizes the reference's input (JSON objects are unordered;
    reordering members never changes document semantics). Found by
    campaign main seed 7205; pinned in test_unevaluated_ref_member_order."""
    if isinstance(schema, dict):
        late = {
            k: schema[k]
            for k in ("unevaluatedItems", "unevaluatedProperties")
            if k in schema
        }
        out = {k: ref_canonical(v) for k, v in schema.items() if k not in late}
        for k, v in late.items():
            out[k] = ref_canonical(v)
        return out
    if isinstance(schema, list):
        return [ref_canonical(v) for v in schema]
    return schema


# ---------------------------------------------------------------- the fuzz

# 5069: the round-3 deep-nesting OOM seed — pinned since staged
# materialization (compiler/core.py) made it compile within budget.
# 7205: unevaluatedItems spelled before $ref — the reference's member-
# order sensitivity (see ref_canonical); green under canonicalization.
SEEDS = list(range(32)) + [5069, 7205]
INSTANCES_PER_SCHEMA = 40


@pytest.mark.parametrize("seed", SEEDS)
def test_fuzz_spark_matches_reference(spark, ref, seed):
    rng = random.Random(98_000 + seed)
    schema = gen_root_schema(rng)

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    try:
        compiled_ref = JSONSchema(
            ref_canonical(schema), catalog=ref["catalog"], cacheid=f"fuzz-{seed}", metaschema_uri=URI(_META)
        )
        # force full resolution so schema bugs surface here, not per-instance
        compiled_ref.validate()
    except Exception as e:
        pytest.skip(f"generated schema not accepted by reference: {e}")

    hints = {"values": [], "keys": []}
    collect_hints(schema, hints)
    datas = [gen_instance(rng, 2, hints) for _ in range(INSTANCES_PER_SCHEMA)]

    ref_verdicts, ref_outputs = [], []
    for d in datas:
        res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        ref_verdicts.append(bool(res.valid))
        out = res.output("basic")
        ref_outputs.append(
            out.get("annotations", []) if res.valid else out.get("errors", [])
        )

    spark_results = evaluate_batch(
        spark, schema, datas, with_violations=True, with_annotations=True
    )

    mismatches, skipped = _compare_case(
        datas, ref_verdicts, ref_outputs, spark_results, f"seed {seed}"
    )
    assert not mismatches, (
        f"seed {seed}: Spark engine disagrees with the reference on "
        f"{len(mismatches)}/{len(datas)} instances\nschema={schema!r}\n"
        + "\n".join(mismatches)
    )
    # the typed-column delta must stay a corner case, not the common case
    assert skipped <= len(datas) * 0.5, (
        f"seed {seed}: {skipped}/{len(datas)} instances skipped as untypeable — "
        "generator drifted away from Spark-typeable instances"
    )


# ------------------------------------------------- negation-coverage fuzzing
# annotations flow OUT of a passing `not` (the reference evaluates the
# subschema into the /not node and inverts only that node's validity,
# applicator.py:77-86), and invalid applicator GROUP nodes prune even
# their valid branches. Round-3 seed 1 found the family; this generator
# hammers it: unevaluated* siblings of not-wrapped annotation producers,
# with a toggle keyword so `not` flips both ways across instances.

# 5004: campaign-found — noassert-if viols under items/unevaluatedItems
# elements gated on the wrong result node (fixed by the Compiled.cond
# pending-viols stream; see context.py resolve_node)
# 5068: campaign-found — a VACUOUSLY valid `items` (array no longer
# than the prefix) annotates nothing, so it must not cover elements
# for unevaluatedItems
# 5075: campaign-found — an untraced boolean prefixItems branch made
# the /prefixItems annotation ancestor gate bail out (leaked a pruned
# format annotation); boolean subschema applications are now traced
NEG_SEEDS = list(range(20)) + [5004, 5068, 5075]


def gen_negation_schema(rng: random.Random, depth: int = 3) -> dict:
    defs: list = []
    inner: dict = {}
    if rng.random() < 0.5:
        _f_object(inner, rng, depth - 1, defs)
    else:
        _f_array(inner, rng, depth - 1, defs)
    # a toggle that decides per-instance whether the inner fails
    # (making `not` pass and its annotations flow)
    toggle = rng.choice(
        [
            {"required": [rng.choice("abcd")]},
            {"minProperties": rng.randint(1, 3)},
            {"minItems": rng.randint(1, 3)},
            {"type": rng.choice(["object", "array", "string", "number"])},
            {},
        ]
    )
    inner.update(toggle)
    s: dict = {"not": inner}
    wrap = rng.random()
    if wrap < 0.25:
        s = {"anyOf": [s, gen_schema(rng, depth - 1, defs)]}
    elif wrap < 0.40:
        s = {"allOf": [s, gen_schema(rng, depth - 1, defs)]}
    elif wrap < 0.50:
        s = {"not": s}  # double negation: inner-not node inverts back
    def tracker():
        if rng.random() < 0.6:
            return rng.choice([True, False])
        return gen_schema(rng, depth - 1, defs)
    if rng.random() < 0.6:
        s["unevaluatedProperties"] = tracker()
    if rng.random() < 0.6:
        s["unevaluatedItems"] = tracker()
    if "unevaluatedProperties" not in s and "unevaluatedItems" not in s:
        s["unevaluatedProperties"] = False
    return s


@pytest.mark.parametrize("seed", NEG_SEEDS)
def test_fuzz_negation_coverage_matches_reference(spark, ref, seed):
    rng = random.Random(310_000 + seed)
    schema = gen_negation_schema(rng)

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    try:
        compiled_ref = JSONSchema(
            ref_canonical(schema), catalog=ref["catalog"], cacheid=f"negfuzz-{seed}", metaschema_uri=URI(_META)
        )
        compiled_ref.validate()
    except Exception as e:
        pytest.skip(f"generated schema not accepted by reference: {e}")

    hints = {"values": [], "keys": []}
    collect_hints(schema, hints)
    datas = [gen_instance(rng, 2, hints) for _ in range(INSTANCES_PER_SCHEMA)]

    ref_verdicts, ref_outputs = [], []
    for d in datas:
        res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        ref_verdicts.append(bool(res.valid))
        out = res.output("basic")
        ref_outputs.append(
            out.get("annotations", []) if res.valid else out.get("errors", [])
        )

    spark_results = evaluate_batch(
        spark, schema, datas, with_violations=True, with_annotations=True
    )
    mismatches, skipped = _compare_case(
        datas, ref_verdicts, ref_outputs, spark_results, f"neg seed {seed}"
    )
    assert not mismatches, (
        f"negation-coverage seed {seed}: Spark engine disagrees with the reference "
        f"on {len(mismatches)}/{len(datas)} instances\nschema={schema!r}\n"
        + "\n".join(mismatches)
    )
    assert skipped <= len(datas) * 0.5, (
        f"neg seed {seed}: {skipped}/{len(datas)} skipped as untypeable"
    )


# ------------------------------------------------- ref-resolution fuzzing

REF_SEEDS = list(range(12))


@pytest.mark.parametrize("seed", REF_SEEDS)
def test_fuzz_refs_spark_matches_reference(spark, ref, seed):
    rng = random.Random(77_000 + seed)
    schema = gen_ref_heavy_schema(rng, seed)

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    try:
        compiled_ref = JSONSchema(
            ref_canonical(schema), catalog=ref["catalog"], cacheid=f"fuzzref-{seed}",
            metaschema_uri=URI(_META),
        )
        compiled_ref.validate()
        # force-resolve every ref so unresolvables surface as a skip,
        # not a per-instance crash
        probe = compiled_ref.evaluate(JSON({"a": 1}))
    except Exception as e:
        pytest.skip(f"generated ref-heavy schema not accepted by reference: {e}")

    hints = {"values": [], "keys": []}
    collect_hints(schema, hints)
    datas = [gen_instance(rng, 2, hints) for _ in range(INSTANCES_PER_SCHEMA)]

    ref_verdicts, ref_outputs = [], []
    for d in datas:
        res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        ref_verdicts.append(bool(res.valid))
        out = res.output("basic")
        ref_outputs.append(
            out.get("annotations", []) if res.valid else out.get("errors", [])
        )
    spark_results = evaluate_batch(
        spark, schema, datas, with_violations=True, with_annotations=True
    )

    mismatches, _ = _compare_case(
        datas, ref_verdicts, ref_outputs, spark_results, f"ref-fuzz {seed}"
    )
    assert not mismatches, (
        f"ref-fuzz seed {seed}: Spark engine disagrees with the reference on "
        f"{len(mismatches)}/{len(datas)} instances\nschema={schema!r}\n"
        + "\n".join(mismatches)
    )


# ------------------------------------------------- 2019-09 legacy fuzzing

# 5014: campaign-found — comparator asymmetry on legacy tuple-items
# rewritten to prefixItems (fixed by _LEGACY_SPARK_EXCLUDE)
# 5061: campaign-found — boolean-form 2019-09 `items` never annotates
# (reference legacy.py:63-64), so it gives no unevaluatedItems coverage
# 5106: campaign-found — a self-referential target's ref-inlined trace
# entry claimed the canonical site's slot (wrong instance path on the
# annotation); canonical applications now win the trace slot
# 7059: $recursiveRef annotation units were asymmetrically excluded
# (see _ANNOT_EXCLUDE_SEGS note) — pinned from the r4 late sweep.
LEGACY_SEEDS = list(range(12)) + [5014, 5061, 5106, 7059]
_META_1909 = "https://json-schema.org/draft/2019-09/schema"


@pytest.fixture(scope="module")
def ref19(ref):
    """Catalog with the 2019-09 dialect added (same as
    test_reference_parity.py::ref19)."""
    from jschon.catalog import LocalSource, _2019_09

    meta_dir = os.path.join(_HERE, "ref_oracle", "json-schema-2019-09")
    orig = _2019_09.LocalSource
    _2019_09.LocalSource = lambda base_dir, **kw: LocalSource(meta_dir, **kw)
    try:
        _2019_09.initialize(ref["catalog"])
    except Exception:
        pass  # already initialized on a rerun
    finally:
        _2019_09.LocalSource = orig
    return ref


@pytest.mark.parametrize("seed", LEGACY_SEEDS)
def test_fuzz_2019_09_spark_matches_reference(spark, ref19, seed):
    rng = random.Random(55_000 + seed)
    schema = to_2019_09(gen_root_schema(rng))
    schema["$schema"] = _META_1909
    if rng.random() < 0.4:
        # recursive extension: evaluating property "a" re-enters the
        # root through $recursiveRef (legacy.py rewrites the pair to
        # $dynamicAnchor/$dynamicRef on the Spark side)
        schema["$recursiveAnchor"] = True
        props = schema.setdefault("properties", {})
        props["a"] = {"$recursiveRef": "#"}

    JSON, JSONSchema = ref19["JSON"], ref19["JSONSchema"]
    try:
        compiled_ref = JSONSchema(
            ref_canonical(schema), catalog=ref19["catalog"], cacheid=f"fuzz1909-{seed}"
        )
        compiled_ref.validate()
    except Exception as e:
        pytest.skip(f"generated 2019-09 schema not accepted by reference: {e}")

    hints = {"values": [], "keys": []}
    collect_hints(schema, hints)
    datas = [gen_instance(rng, 2, hints) for _ in range(INSTANCES_PER_SCHEMA)]

    ref_verdicts, ref_outputs = [], []
    for d in datas:
        res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        ref_verdicts.append(bool(res.valid))
        out = res.output("basic")
        ref_outputs.append(
            out.get("annotations", []) if res.valid else out.get("errors", [])
        )
    spark_results = evaluate_batch(
        spark, schema, datas, with_violations=True, with_annotations=True
    )

    mismatches, _ = _compare_case(
        datas, ref_verdicts, ref_outputs, spark_results, f"2019-09 fuzz {seed}",
        spark_annot_exclude=_LEGACY_SPARK_EXCLUDE,
        strict_locations=False,  # legacy rewrites relocate keywords
    )
    assert not mismatches, (
        f"2019-09 fuzz seed {seed}: Spark engine disagrees with the reference "
        f"on {len(mismatches)}/{len(datas)} instances\nschema={schema!r}\n"
        + "\n".join(mismatches)
    )


# ------------------------------------------ external-catalog fuzzing

# 5088: the round-3 ext-family deep-nesting OOM seed (see SEEDS note).
# 9097: the round-5 null-array-element presence bug — a NullType struct
# field's presence ignored the NULL parent, so propertyNames fired on a
# null element's static field name and cascaded into surfacing a
# noassert-if's internal errors (core.py _has_prop; the campaign's one
# genuine mismatch in ~980 fresh r5 cases).
EXT_SEEDS = list(range(10)) + [5088, 9097]


def gen_external_pair(rng: random.Random, seed: int) -> tuple[dict, dict, list]:
    """An EXTERNAL document (ref-heavy: anchors, nested $id resources,
    internal refs, sometimes a $dynamicAnchor extension) plus a MAIN
    document whose refs cross the document boundary in every URI form:
    absolute, absolute+anchor, absolute+pointer, nested-resource URI,
    and RELATIVE references resolved against the main document's base —
    the resolution+coverage chain where round-2's external-scope bug
    lived (ADVICE r2 #1; fix in core.py _resolve_dynamic)."""
    ext = gen_ref_heavy_schema(rng, seed)
    ext_base = ext["$id"]  # https://fuzz.example/<seed>/root
    pool = [ext_base, f"{ext_base}#", "root"]  # whole-doc forms
    for name, sub in ext["$defs"].items():
        if not isinstance(sub, dict):
            continue
        if "$anchor" in sub:
            pool.append(f"{ext_base}#{sub['$anchor']}")
            pool.append(f"root#{sub['$anchor']}")  # relative + anchor
        elif "$id" in sub:
            pool.append(sub["$id"])  # relative: resolves vs main base
            pool.append(f"https://fuzz.example/{seed}/{sub['$id']}")
        else:
            pool.append(f"{ext_base}#/$defs/{name}")
    main = gen_schema(rng, 3, pool)
    if not isinstance(main, dict):
        main = {"allOf": [main]}
    # force at least one cross-document hop even if the generator
    # didn't draw _f_ref
    main.setdefault("allOf", []).append({"$ref": rng.choice(pool)})
    main["$id"] = f"https://fuzz.example/{seed}/main"
    return main, ext, pool


@pytest.mark.parametrize("seed", EXT_SEEDS)
def test_fuzz_external_catalog_matches_reference(spark, ref, seed):
    rng = random.Random(77_000 + seed)
    main, ext, _pool = gen_external_pair(rng, seed)

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    cacheid = f"extfuzz-{seed}"
    try:
        # registering the external document under its $id is the
        # reference's add-to-catalog path (JSONSchema.__init__ →
        # catalog.add_schema)
        JSONSchema(
            ref_canonical(ext), catalog=ref["catalog"], cacheid=cacheid,
            metaschema_uri=URI(_META),
        ).validate()
        compiled_ref = JSONSchema(
            ref_canonical(main), catalog=ref["catalog"], cacheid=cacheid,
            metaschema_uri=URI(_META),
        )
        compiled_ref.validate()
    except Exception as e:
        pytest.skip(f"generated pair not accepted by reference: {e}")

    hints = {"values": [], "keys": []}
    collect_hints(main, hints)
    collect_hints(ext, hints)
    datas = [gen_instance(rng, 2, hints) for _ in range(INSTANCES_PER_SCHEMA)]

    ref_verdicts, ref_outputs = [], []
    for d in datas:
        try:
            res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        except RecursionError:
            # the REFERENCE itself cannot evaluate this pair: a generated
            # ref cycle recurses without consuming instance depth and
            # blows Python's stack (our engine fail-fasts the same
            # schema with a CompileError depth guard). No oracle → skip.
            pytest.skip("reference RecursionError evaluating generated pair")
        ref_verdicts.append(bool(res.valid))
        out = res.output("basic")
        ref_outputs.append(
            out.get("annotations", []) if res.valid else out.get("errors", [])
        )

    from jschon_spark.compiler.catalog import SchemaCatalog

    cat = SchemaCatalog()
    cat.add_schema(copy.deepcopy(ext))
    spark_results = evaluate_batch(
        spark, main, datas, with_violations=True, with_annotations=True, catalog=cat
    )

    mismatches, skipped = _compare_case(
        datas, ref_verdicts, ref_outputs, spark_results, f"ext fuzz {seed}"
    )
    assert not mismatches, (
        f"external-catalog fuzz seed {seed}: Spark engine disagrees with the "
        f"reference on {len(mismatches)}/{len(datas)} instances\n"
        f"main={main!r}\next={ext!r}\n" + "\n".join(mismatches)
    )
    assert skipped <= len(datas) * 0.5


# ------------------------------------------------- deep-equality fuzzing
# enum/const/uniqueItems use the reference's DEEP structural equality
# with cross-type numeric comparison (1 == 1.0, json.py:277-289). The
# engines agree only if Spark-side struct/array equality plus the
# numeric unification in evaluate_batch's type inference reproduce it —
# this family hammers exactly that with compound values and near-miss
# perturbations (int<->float swaps, key drops, element reorders, dups).

# 5144: campaign-found — a compound enum literal with an explicit null
# at a concrete-typed field ({"d": null}) matched rows where the field
# is ABSENT ({}); present-as-null is unrepresentable in such a dtype,
# so the member now compiles to never-match
EQ_SEEDS = list(range(16)) + [5144]


def _eq_compound(rng: random.Random, depth: int) -> object:
    if depth <= 0 or rng.random() < 0.3:
        return rng.choice([1, 2, 2.5, 1.0, "a", "bb", True, False, None])
    if rng.random() < 0.5:
        gen = rng.choice(
            [
                lambda: rng.choice([1, 2, 3]),
                lambda: rng.choice([1.5, 2.0]),
                lambda: rng.choice(["a", "b", "cc"]),
                lambda: _eq_compound(rng, depth - 1),
            ]
        )
        return [gen() for _ in range(rng.randint(0, 3))]
    return {
        k: _eq_compound(rng, depth - 1)
        for k in rng.sample(["a", "b", "c", "d"], rng.randint(1, 3))
    }


def _eq_perturb(rng: random.Random, v: object) -> object:
    """A near-miss (or exact) variant of ``v``: numeric cross-type
    swaps, dropped/extra keys, reordered/duplicated elements."""
    v = copy.deepcopy(v)
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return rng.choice([float(v), v + 1, v])
    if isinstance(v, float):
        return int(v) if v == int(v) and rng.random() < 0.6 else v
    if isinstance(v, str):
        return rng.choice([v, v + "x", v[:-1] or "x"])
    if isinstance(v, list):
        if not v:
            return v
        act = rng.randrange(4)
        if act == 0:
            return v + [copy.deepcopy(rng.choice(v))]
        if act == 1:
            return list(reversed(v))
        if act == 2:
            i = rng.randrange(len(v))
            v[i] = _eq_perturb(rng, v[i])
            return v
        return v[:-1]
    if isinstance(v, dict):
        if not v:
            return v
        act = rng.randrange(3)
        ks = list(v)
        if act == 0:
            v.pop(rng.choice(ks))
            return v
        if act == 1:
            k = rng.choice(ks)
            v[k] = _eq_perturb(rng, v[k])
            return v
        v["zz"] = rng.choice([1, 1.0, "z"])
        return v
    return v


def gen_equality_schema(rng: random.Random) -> tuple:
    """Returns (schema, value_pool)."""
    vals = [_eq_compound(rng, 2) for _ in range(rng.randint(1, 4))]
    mode = rng.randrange(5)
    if mode == 0:
        s: dict = {"enum": vals}
    elif mode == 1:
        s = {"const": rng.choice(vals)}
    elif mode == 2:
        s = {"type": "array", "uniqueItems": True}
        if rng.random() < 0.5:
            s["minItems"] = 1
    elif mode == 3:
        s = {"properties": {"x": {"enum": vals}}, "required": ["x"]}
    else:
        s = {"items": {"const": rng.choice(vals)}}
        if rng.random() < 0.5:
            s["uniqueItems"] = True
    return s, vals


def gen_eq_instance(rng: random.Random, vals: list) -> object:
    r = rng.random()
    if r < 0.30 and vals:
        return copy.deepcopy(rng.choice(vals))
    if r < 0.60 and vals:
        return _eq_perturb(rng, rng.choice(vals))
    if r < 0.75 and vals:
        # arrays drawn from the pool — uniqueItems food (dup with 60%)
        pool = [copy.deepcopy(rng.choice(vals)) for _ in range(rng.randint(1, 3))]
        if rng.random() < 0.6:
            pool.append(copy.deepcopy(pool[0]))
        if rng.random() < 0.4:
            pool = [_eq_perturb(rng, x) for x in pool]
        return pool
    if r < 0.85 and vals:
        return {"x": copy.deepcopy(rng.choice(vals))}
    return gen_instance(rng, 2, {"values": vals, "keys": ["x"]})


@pytest.mark.parametrize("seed", EQ_SEEDS)
def test_fuzz_deep_equality_matches_reference(spark, ref, seed):
    rng = random.Random(210_000 + seed)
    schema, vals = gen_equality_schema(rng)

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    try:
        compiled_ref = JSONSchema(
            ref_canonical(schema), catalog=ref["catalog"],
            cacheid=f"eqfuzz-{seed}", metaschema_uri=URI(_META),
        )
        compiled_ref.validate()
    except Exception as e:
        pytest.skip(f"generated schema not accepted by reference: {e}")

    datas = [gen_eq_instance(rng, vals) for _ in range(INSTANCES_PER_SCHEMA)]

    ref_verdicts, ref_outputs = [], []
    for d in datas:
        res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        ref_verdicts.append(bool(res.valid))
        out = res.output("basic")
        ref_outputs.append(
            out.get("annotations", []) if res.valid else out.get("errors", [])
        )

    spark_results = evaluate_batch(
        spark, schema, datas, with_violations=True, with_annotations=True
    )

    mismatches, skipped = _compare_case(
        datas, ref_verdicts, ref_outputs, spark_results, f"eq fuzz {seed}"
    )
    assert not mismatches, (
        f"deep-equality fuzz seed {seed}: Spark engine disagrees with the "
        f"reference on {len(mismatches)}/{len(datas)} instances\n"
        f"schema={schema!r}\n" + "\n".join(mismatches)
    )
    # compound values mix types freely; allow a higher untypeable share
    # than the main family but keep the family mostly effective
    assert skipped <= len(datas) * 0.7, (
        f"eq fuzz seed {seed}: {skipped}/{len(datas)} untypeable"
    )


# ------------------------------------------- MapType dynamic-key fuzzing
# Round-4 family: the engine has TWO object compilation paths — struct
# (fixed fields) and MapType (dynamic key set, higher-order functions:
# core.py patternProperties/propertyNames/additionalProperties/
# unevaluatedProperties map variants). evaluate_batch always infers
# structs, so the map paths were reachable only through hand-written
# tests. This family evaluates every instance through a MapType column
# directly and compares verdict + full leaf violation locations against
# the reference.

MAP_SEEDS = list(range(16))

_MAP_KEYS = [
    "alpha", "beta", "x_one", "x_two", "y1", "k.dot", "ti~lde", "sl/ash",
    "UPPER", "n0", "",
]
_MAP_PATTERNS = ["^x_", "one$", "^[a-z]+$", "^.{0,4}$", "[0-9]", "~", "/", "^$"]


def _map_value_schema(rng: random.Random, vtype: str) -> dict:
    if vtype == "string":
        pool = [
            {"maxLength": rng.choice([2, 4, 6])},
            {"minLength": rng.choice([1, 3])},
            {"pattern": rng.choice(["^a", "b$", "^[ab]+$"])},
            {"enum": rng.sample(_STRINGS, 3)},
            {"const": rng.choice(_STRINGS)},
            {"type": "string"},
        ]
    else:
        pool = [
            {"minimum": rng.choice([0, 2])},
            {"maximum": rng.choice([3, 7])},
            {"multipleOf": rng.choice([2, 3])},
            {"enum": rng.sample(_INTS, 3)},
            {"type": "integer"},
        ]
    out: dict = {}
    for d in rng.sample(pool, rng.randint(1, 2)):
        out.update(d)
    return out


def gen_map_schema(rng: random.Random) -> tuple[dict, str]:
    """(schema, value_jtype). An object schema whose keyword mix targets
    the dynamic-key paths: patternProperties / propertyNames /
    additionalProperties / unevaluatedProperties (sometimes through an
    allOf branch), plus required / dependentRequired / min-max
    Properties / dependentSchemas over a uniform value type."""
    vtype = rng.choice(["string", "integer"])
    s: dict = {}
    picks = rng.sample(
        ["properties", "patternProperties", "additionalProperties",
         "propertyNames", "required", "dependentRequired", "counts",
         "dependentSchemas"],
        rng.randint(2, 4),
    )
    if "properties" in picks:
        s["properties"] = {
            k: _map_value_schema(rng, vtype)
            for k in rng.sample(_MAP_KEYS[:6], rng.randint(1, 3))
        }
    if "patternProperties" in picks:
        s["patternProperties"] = {
            p: _map_value_schema(rng, vtype)
            for p in rng.sample(_MAP_PATTERNS, rng.randint(1, 2))
        }
    if "additionalProperties" in picks:
        s["additionalProperties"] = (
            rng.choice([True, False])
            if rng.random() < 0.4
            else _map_value_schema(rng, vtype)
        )
    if "propertyNames" in picks:
        s["propertyNames"] = rng.choice(
            [
                {"pattern": rng.choice(_MAP_PATTERNS)},
                {"maxLength": rng.choice([2, 5, 8])},
                {"minLength": 1},
                {"enum": rng.sample(_MAP_KEYS, 4)},
            ]
        )
    if "required" in picks:
        s["required"] = rng.sample(_MAP_KEYS[:6], rng.randint(1, 2))
    if "dependentRequired" in picks:
        s["dependentRequired"] = {
            rng.choice(_MAP_KEYS[:6]): rng.sample(_MAP_KEYS[:6], rng.randint(1, 2))
        }
    if "counts" in picks:
        if rng.random() < 0.5:
            s["minProperties"] = rng.randint(0, 3)
        else:
            s["maxProperties"] = rng.randint(1, 4)
    if "dependentSchemas" in picks:
        s["dependentSchemas"] = {
            rng.choice(_MAP_KEYS[:6]): {
                "minProperties": rng.randint(1, 3),
            }
        }
    # unevaluatedProperties over the above, sometimes at a distance
    # (through allOf) so coverage must flow across branch boundaries
    r = rng.random()
    if r < 0.4:
        s["unevaluatedProperties"] = (
            False if rng.random() < 0.6 else _map_value_schema(rng, vtype)
        )
    elif r < 0.7:
        inner = s
        s = {
            "allOf": [inner],
            "unevaluatedProperties": False if rng.random() < 0.6 else
            _map_value_schema(rng, vtype),
        }
        if rng.random() < 0.5:
            s["properties"] = {
                k: _map_value_schema(rng, vtype)
                for k in rng.sample(_MAP_KEYS[:6], rng.randint(1, 2))
            }
    return s, vtype


def gen_map_instance(rng: random.Random, vtype: str) -> dict:
    n = rng.randint(0, 5)
    keys = rng.sample(_MAP_KEYS, min(n, len(_MAP_KEYS)))
    if rng.random() < 0.3:
        keys.append(rng.choice(["zz_9", "x_zzz", "Ωmega", "a b"]))
    vals = _STRINGS if vtype == "string" else _INTS
    return {k: rng.choice(vals) for k in keys}


def evaluate_map_batch(spark, schema, datas: list, vtype: str) -> list:
    """Evaluate dict instances through ONE MapType(string, V) column —
    the engine's dynamic-key object path — in a single Spark job.
    Returns [(valid, violation_rows)] aligned with datas."""
    from pyspark.sql import Row as _Row
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from jschon_spark.compiler import compile_schema

    val_t = T.StringType() if vtype == "string" else T.LongType()
    dtype = T.MapType(T.StringType(), val_t, True)
    df_schema = T.StructType(
        [T.StructField("i", T.LongType(), False), T.StructField("m", dtype, True)]
    )
    df = spark.createDataFrame(
        [_Row(i=i, m=d) for i, d in enumerate(datas)], df_schema
    )
    plan = compile_schema(schema).plan(dtype, F.col("m"))
    out = (
        plan.replay(df)
        .select("i", plan.valid.alias("valid"), plan.viols.alias("violations"))
        .collect()
    )
    res: list = [None] * len(datas)
    for r in out:
        res[r["i"]] = (bool(r["valid"]), list(r["violations"]))
    return res


@pytest.mark.parametrize("seed", MAP_SEEDS)
def test_fuzz_maptype_matches_reference(spark, ref, seed):
    rng = random.Random(640_000 + seed)
    schema, vtype = gen_map_schema(rng)

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    try:
        compiled_ref = JSONSchema(
            ref_canonical(schema), catalog=ref["catalog"],
            cacheid=f"mapfuzz-{seed}", metaschema_uri=URI(_META),
        )
        compiled_ref.validate()
    except Exception as e:
        pytest.skip(f"generated schema not accepted by reference: {e}")

    datas = [gen_map_instance(rng, vtype) for _ in range(INSTANCES_PER_SCHEMA)]
    ref_verdicts, ref_errs = [], []
    for d in datas:
        res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        ref_verdicts.append(bool(res.valid))
        ref_errs.append([] if res.valid else res.output("basic")["errors"])

    spark_results = evaluate_map_batch(spark, schema, datas, vtype)

    mismatches = []
    for d, rv, re_, sr in zip(datas, ref_verdicts, ref_errs, spark_results):
        sv, sviols = sr
        if sv != rv:
            mismatches.append(f"  data={d!r}: reference={rv} spark={sv}")
            continue
        if not sv:
            want = _ref_leaf_set(re_, strict=True)
            got = _spark_leaf_set(sviols, strict=True)
            if want != got:
                mismatches.append(
                    f"  data={d!r}: leaf violation locations differ\n"
                    f"    reference={sorted(want)}\n    spark    ={sorted(got)}"
                )
    assert not mismatches, (
        f"maptype fuzz seed {seed}: Spark MapType path disagrees with the "
        f"reference on {len(mismatches)}/{len(datas)} instances\n"
        f"schema={schema!r}\n" + "\n".join(mismatches)
    )


# --------------------------------- URN + $dynamicRef cross-resource fuzzing
# Round-4 family: $dynamicAnchor BOOKENDING across separately-registered
# documents addressed by URN $ids — the tree/strict-tree extension
# pattern (2020-12 §8.2.3.2), fuzzed: varies whether the outer document
# re-declares the anchor (rebind vs not), whether the initial target
# carries it (bookending requirement), $anchor decoys, URN vs https
# ids, and pointer/anchor fragment ref forms.

# 16/30: campaign-found — $dynamicRef falling back to plain-ref
# behavior must keep the $dynamicRef segment in keywordLocation
DYN_SEEDS = list(range(12)) + [16, 30]


def gen_dynamic_pair(rng: random.Random, seed: int) -> tuple[dict, dict]:
    """(main, ext): ext is a recursive 'tree' resource; main extends it
    and MAY rebind the $dynamicAnchor."""
    use_urn = rng.random() < 0.6
    ext_id = (
        f"urn:example:fuzz:{seed}:tree" if use_urn
        else f"https://dynfuzz.example/{seed}/tree"
    )
    main_id = (
        f"urn:example:fuzz:{seed}:strict" if rng.random() < 0.5
        else f"https://dynfuzz.example/{seed}/strict"
    )
    anchor = rng.choice(["node", "items"])
    # the recursive hop: $dynamicRef through the anchor, or a decoy
    # plain $ref with the same shape 20% of the time
    hop = (
        {"$dynamicRef": f"#{anchor}"} if rng.random() < 0.8
        else {"$ref": f"#{anchor}"}
    )
    ext_root: dict = {
        "$id": ext_id,
        "type": "object",
        "properties": {
            "data": {"type": rng.choice(["integer", "string"])},
            "kids": {"type": "array", "items": hop},
        },
    }
    bookended = rng.random() < 0.75
    if bookended:
        ext_root["$dynamicAnchor"] = anchor
    else:
        # static anchor only: $dynamicRef must NOT rebind through scope
        ext_root["$anchor"] = anchor
    if rng.random() < 0.3:
        # decoy nested resource carrying the same anchor name
        ext_root["$defs"] = {
            "decoy": {
                "$id": f"{ext_id}-decoy" if use_urn else "decoy",
                "$dynamicAnchor": anchor,
                "type": "boolean",
            }
        }
    main: dict = {"$id": main_id, "$ref": ext_id}
    if rng.random() < 0.7:
        # strict-tree extension: rebinds the dynamic anchor so the
        # recursion lands HERE (closing over unevaluatedProperties)
        main["$dynamicAnchor"] = anchor
        main["unevaluatedProperties"] = False
    if rng.random() < 0.3:
        main["properties"] = {"data": {"minimum": 0}}
    return main, ext_root


def _gen_tree_instance(rng: random.Random, depth: int) -> dict:
    out: dict = {"data": rng.choice([0, 1, -2, "s", 2.5])}
    if depth > 0 and rng.random() < 0.8:
        out["kids"] = [
            _gen_tree_instance(rng, depth - 1) for _ in range(rng.randint(0, 2))
        ]
    elif rng.random() < 0.4:
        out["kids"] = []
    if rng.random() < 0.25:
        out["extra"] = rng.choice([1, "x"])  # unevaluatedProperties food
    return out


@pytest.mark.parametrize("seed", DYN_SEEDS)
def test_fuzz_dynamic_cross_resource_matches_reference(spark, ref, seed):
    rng = random.Random(520_000 + seed)
    main, ext = gen_dynamic_pair(rng, seed)

    JSON, JSONSchema, URI = ref["JSON"], ref["JSONSchema"], ref["URI"]
    cacheid = f"dynfuzz-{seed}"
    try:
        JSONSchema(
            ref_canonical(ext), catalog=ref["catalog"], cacheid=cacheid,
            metaschema_uri=URI(_META),
        ).validate()
        compiled_ref = JSONSchema(
            ref_canonical(main), catalog=ref["catalog"], cacheid=cacheid,
            metaschema_uri=URI(_META),
        )
        compiled_ref.validate()
    except Exception as e:
        pytest.skip(f"pair not accepted by reference: {e}")

    datas = [_gen_tree_instance(rng, 3) for _ in range(INSTANCES_PER_SCHEMA)]
    ref_verdicts, ref_outputs = [], []
    for d in datas:
        res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        ref_verdicts.append(bool(res.valid))
        out = res.output("basic")
        ref_outputs.append(
            out.get("annotations", []) if res.valid else out.get("errors", [])
        )

    from jschon_spark.compiler.catalog import SchemaCatalog

    cat = SchemaCatalog()
    cat.add_schema(copy.deepcopy(ext))
    spark_results = evaluate_batch(
        spark, main, datas, with_violations=True, with_annotations=True, catalog=cat
    )

    mismatches, skipped = _compare_case(
        datas, ref_verdicts, ref_outputs, spark_results, f"dyn {seed}"
    )
    assert not mismatches, (
        f"dynamic cross-resource fuzz seed {seed}: Spark engine disagrees "
        f"with the reference on {len(mismatches)}/{len(datas)} instances\n"
        f"main={main!r}\next={ext!r}\n" + "\n".join(mismatches)
    )


# ---------------------------------------------------------------------------
# Custom-keyword family (round 4): the SAME user-defined keyword is
# registered in both engines (a reference `Keyword` subclass vs our
# `CustomKeyword` spec) and sprinkled through generated schemas, so the
# new apply()-loop dispatch, per-resource activation, and annotation
# emission are differentially exercised against every standard-keyword
# interaction (anyOf branches, refs, unevaluated*, conditionals).
# ---------------------------------------------------------------------------

CKW_META_URI = "https://fuzz.dev/meta/ckw"
CKW_VOCAB_URI = "https://fuzz.dev/vocab/ckw"
CKW_META = {
    "$schema": _META,
    "$id": CKW_META_URI,
    "$vocabulary": {
        "https://json-schema.org/draft/2020-12/vocab/core": True,
        "https://json-schema.org/draft/2020-12/vocab/applicator": True,
        "https://json-schema.org/draft/2020-12/vocab/unevaluated": True,
        "https://json-schema.org/draft/2020-12/vocab/validation": True,
        "https://json-schema.org/draft/2020-12/vocab/meta-data": True,
        "https://json-schema.org/draft/2020-12/vocab/format-annotation": True,
        "https://json-schema.org/draft/2020-12/vocab/content": True,
        CKW_VOCAB_URI: True,
    },
}
_CKW_PREFIXES = ["a", "b", "ab", "c", "1"]

# family-only annotation keyword: standard families never emit it, so
# extending the comparison set is side-effect-free for them
_ANNOT_KEYWORDS.add("stringPrefix")

_CKW_SCHEMA_MAPS = ("properties", "patternProperties", "dependentSchemas", "$defs")
_CKW_SCHEMA_LISTS = ("allOf", "anyOf", "oneOf", "prefixItems")
_CKW_SCHEMA_SINGLES = (
    "items", "additionalProperties", "propertyNames", "not", "if", "then",
    "else", "contains", "unevaluatedItems", "unevaluatedProperties",
)


def _inject_string_prefix(node, rng) -> None:
    """Sprinkle stringPrefix into SCHEMA positions of a generated tree."""
    if not isinstance(node, dict):
        return
    if rng.random() < 0.45:
        node["stringPrefix"] = rng.choice(_CKW_PREFIXES)
    for k in _CKW_SCHEMA_MAPS:
        v = node.get(k)
        if isinstance(v, dict):
            for sub in v.values():
                _inject_string_prefix(sub, rng)
    for k in _CKW_SCHEMA_LISTS:
        v = node.get(k)
        if isinstance(v, list):
            for sub in v:
                _inject_string_prefix(sub, rng)
    for k in _CKW_SCHEMA_SINGLES:
        if isinstance(node.get(k), dict):
            _inject_string_prefix(node[k], rng)


def gen_custom_kw_schema(rng: random.Random) -> dict:
    root = gen_root_schema(rng)
    _inject_string_prefix(root, rng)
    root.setdefault("stringPrefix", rng.choice(_CKW_PREFIXES))
    root["$schema"] = CKW_META_URI
    return root


@pytest.fixture(scope="module")
def ref_ckw(ref, tmp_path_factory):
    """Reference catalog 'ckwfuzz' with the stringPrefix vocabulary and
    its metaschema registered through the reference's own extension API
    (Keyword subclass + create_vocabulary + create_metaschema)."""
    import json as _json

    from jschon import URI
    from jschon.catalog import Catalog, LocalSource, _2020_12
    from jschon.vocabulary import Keyword

    meta_dir = os.path.join(_HERE, "ref_oracle", "json-schema-2020-12")
    orig = _2020_12.LocalSource
    _2020_12.LocalSource = lambda base_dir, **kw: LocalSource(meta_dir, **kw)
    created = False
    try:
        try:
            catalog = Catalog.get_catalog("ckwfuzz")
        except Exception:
            catalog = Catalog(name="ckwfuzz")
            _2020_12.initialize(catalog)
            created = True
    finally:
        _2020_12.LocalSource = orig

    if created:
        d = tmp_path_factory.mktemp("ckwmeta")
        with open(d / "ckw.json", "w") as f:
            _json.dump(CKW_META, f)
        catalog.add_uri_source(
            URI("https://fuzz.dev/meta/"), LocalSource(str(d), suffix=".json")
        )

        class StringPrefixKeyword(Keyword):
            key = "stringPrefix"
            instance_types = ("string",)

            def evaluate(self, instance, result):
                if instance.data.startswith(self.json.value):
                    result.annotate(self.json.value)
                else:
                    result.fail(
                        f"the string does not start with {self.json.value!r}"
                    )

        catalog.create_vocabulary(URI(CKW_VOCAB_URI), StringPrefixKeyword)
        catalog.create_metaschema(URI(CKW_META_URI))
    return {
        "catalog": catalog,
        "JSON": ref["JSON"],
        "JSONSchema": ref["JSONSchema"],
        "URI": ref["URI"],
    }


def _spark_ckw_catalog():
    from jschon_spark.compiler import CustomKeyword, SchemaCatalog

    cat = SchemaCatalog()
    cat.add_schema(copy.deepcopy(CKW_META))
    cat.create_vocabulary(
        CKW_VOCAB_URI,
        CustomKeyword(
            key="stringPrefix",
            instance_types=("string",),
            predicate=lambda v, ctx: ctx.col.startswith(v),
            message=lambda v: f"the string does not start with {v!r}",
            annotate=lambda v: v,
        ),
    )
    return cat


CKW_SEEDS = list(range(24))


@pytest.mark.parametrize("seed", CKW_SEEDS)
def test_fuzz_custom_keyword_matches_reference(spark, ref_ckw, seed):
    rng = random.Random(55_000 + seed)
    schema = gen_custom_kw_schema(rng)

    JSON, JSONSchema = ref_ckw["JSON"], ref_ckw["JSONSchema"]
    try:
        compiled_ref = JSONSchema(
            ref_canonical(schema), catalog=ref_ckw["catalog"], cacheid=f"ckwf-{seed}"
        )
        compiled_ref.validate()
    except Exception as e:
        pytest.skip(f"generated schema not accepted by reference: {e}")

    hints = {"values": [], "keys": []}
    collect_hints(schema, hints)
    # make sure instances actually probe the prefixes both ways
    hints["values"].extend(["a1c", "ab", "abc", "ba", "b", "ca", "1x"])
    datas = [gen_instance(rng, 2, hints) for _ in range(INSTANCES_PER_SCHEMA)]

    ref_verdicts, ref_outputs = [], []
    for d in datas:
        try:
            res = compiled_ref.evaluate(JSON(copy.deepcopy(d)))
        except RecursionError:
            pytest.skip("reference RecursionError evaluating generated schema")
        ref_verdicts.append(bool(res.valid))
        out = res.output("basic")
        ref_outputs.append(
            out.get("annotations", []) if res.valid else out.get("errors", [])
        )

    spark_results = evaluate_batch(
        spark, schema, datas,
        with_violations=True, with_annotations=True, catalog=_spark_ckw_catalog(),
    )

    mismatches, skipped = _compare_case(
        datas, ref_verdicts, ref_outputs, spark_results, f"ckw {seed}"
    )
    assert not mismatches, (
        f"custom-keyword fuzz seed {seed}: Spark engine disagrees with the "
        f"reference on {len(mismatches)}/{len(datas)} instances\n"
        f"schema={schema!r}\n" + "\n".join(mismatches)
    )
