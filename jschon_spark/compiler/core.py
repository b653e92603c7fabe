"""The schema→Column compiler.

Driver-side equivalent of the reference's schema compilation
(jschon/jsonschema.py:110-185: keyword lookup, dependency-ordered
instantiation, reference resolution) — but instead of building
``Keyword`` evaluator objects it emits Catalyst ``Column`` expressions,
specialized to the static Spark type of each instance node. jschon's
``instance_types`` runtime gate (jschon/vocabulary/__init__.py:131)
becomes compile-time constant folding: a ``maximum`` applied to a string
column vanishes from the plan.

Evaluation-node semantics follow jschon/jsonschema.py:191-220 — a node
fails iff any asserted keyword for the same instance path fails; sibling
keyword communication (then/else ← if, max/minContains ← contains,
items ← prefixItems) is resolved through the ``results`` dict, mirroring
``Result.sibling`` (jschon/jsonschema.py:444-449).
"""

from __future__ import annotations

import copy
import json
import re
import threading
from dataclasses import dataclass, replace as _replace
from types import MappingProxyType
from typing import Any, Callable, Mapping, Optional
from urllib.parse import unquote, urldefrag, urljoin as _std_urljoin


def urljoin(base: str, ref: str) -> str:
    """RFC 3986 §5.2 resolution that also works for OPAQUE base schemes
    (urn:, tag:): stdlib urljoin refuses to resolve against schemes
    outside ``uses_relative`` and returns the reference untouched, which
    silently breaks same-document/fragment-only references inside
    URN-identified schema resources ("#anchor" must target the base
    itself with a new fragment — §5.2's empty-path/no-authority case;
    the reference's rfc3986 dependency gets this right)."""
    if ref == "" or ref.startswith("#"):
        return urldefrag(base).url + ref
    return _std_urljoin(base, ref)

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.compiler.context import (
    Compiled,
    Ctx,
    combine,
    concat_viols,
    empty_violations,
    escape_pointer,
    escape_pointer_col,
    gate_compiled,
    is_integral,
    is_numeric,
    jtype_of,
    leaf,
    make_violation,
    resolve_node,
)


class CompileError(Exception):
    """Schema cannot be compiled to Spark expressions.

    ``violations`` (when set) lists metaschema violations as structured
    (pointer-path, keyword, message) records — ≙ the JSONSchemaError
    jschon raises from its metaschema self-check
    (jschon/jsonschema.py:187-189)."""

    def __init__(self, msg: str, violations: Optional[list] = None):
        super().__init__(msg)
        self.violations = violations or []


# rewrite_legacy marks tuple-derived `items` with this key so the
# compiler can reproduce 2019-09 additionalItems discard semantics
# (import deferred in legacy.py to avoid a cycle — keep in sync)
_LEGACY_ADDITIONAL_ITEMS = "x-legacy-additionalItems"

# rewrite_legacy marks pre-2019-09 schema objects containing $ref:
# in draft-04/-06/-07 every sibling keyword of $ref is IGNORED
# (draft-07 core §8.3; suite draft7/ref.json "ref overrides any sibling
# keywords") — siblings stay addressable for JSON-pointer refs but do
# not assert (keep in sync w/ legacy.py)
_LEGACY_REF_ONLY = "x-legacy-refOnly"

# rewrite_legacy marks unevaluatedItems carriers in 2019-09 resources:
# that dialect's keyword reads items/additionalItems/unevaluatedItems
# annotations but NOT contains (reference legacy.py:114-137), so
# contains-matched elements stay unevaluated (keep in sync w/ legacy.py)
_LEGACY_UNEV_NO_CONTAINS = "x-legacy-unevaluatedItemsNoContains"
# boolean-form 2019-09 `items` never annotates (legacy.py rewrite marker)
_LEGACY_BOOL_ITEMS = "x-legacy-boolItemsNoAnnotation"

# Keyword evaluation order ≙ jschon's depends_on toposort
# (jschon/jsonschema.py:168-185). Static order suffices because the
# dependency graph is fixed in 2020-12.
_ORDER = [
    "$ref",
    "$dynamicRef",
    "type",
    "enum",
    "const",
    "multipleOf",
    "maximum",
    "exclusiveMaximum",
    "minimum",
    "exclusiveMinimum",
    "maxLength",
    "minLength",
    "pattern",
    "maxItems",
    "minItems",
    "uniqueItems",
    "maxProperties",
    "minProperties",
    "required",
    "dependentRequired",
    "format",
    "properties",
    "patternProperties",
    "additionalProperties",
    "propertyNames",
    "prefixItems",
    "items",
    "contains",
    "maxContains",
    "minContains",
    "dependentSchemas",
    "allOf",
    "anyOf",
    "oneOf",
    "not",
    "if",
    "then",
    "else",
    "unevaluatedItems",
    "unevaluatedProperties",
]

_ANNOTATION_ONLY = {
    "$schema",
    "$id",
    "$anchor",
    "$dynamicAnchor",
    "$defs",
    "$comment",
    "$vocabulary",
    "title",
    "description",
    "default",
    "deprecated",
    "readOnly",
    "writeOnly",
    "examples",
    "contentMediaType",
    "contentEncoding",
    "contentSchema",
    "definitions",
}

_MAX_DEPTH = 48

# staged materialization spills a row-scope node once its subtree folds
# this many subschema applications inline (see Compiler.plan)
STAGE_THRESHOLD = 12

# 2020-12 vocabulary URIs → the keywords they contribute (reference:
# vocabulary registration in jschon/catalog/_2020_12.py via
# create_catalog; keyword classes declare their vocabulary module).
# 2019-09 URIs map to the same behavior classes.
_VOCAB_KEYWORDS: dict[str, frozenset] = {}


def _reg_vocab(kws: set, *uris: str) -> None:
    for u in uris:
        _VOCAB_KEYWORDS[u] = frozenset(kws)


_reg_vocab(
    {"$id", "$schema", "$ref", "$anchor", "$dynamicRef", "$dynamicAnchor", "$vocabulary", "$comment", "$defs"},
    "https://json-schema.org/draft/2020-12/vocab/core",
    "https://json-schema.org/draft/2019-09/vocab/core",
)
_reg_vocab(
    {
        "allOf", "anyOf", "oneOf", "not", "if", "then", "else", "dependentSchemas",
        "prefixItems", "items", "contains", "properties", "patternProperties",
        "additionalProperties", "propertyNames",
    },
    "https://json-schema.org/draft/2020-12/vocab/applicator",
)
# 2019-09 has no separate 'unevaluated' vocabulary: unevaluatedItems/
# unevaluatedProperties live in its applicator vocabulary
# (jschon/vocabulary/applicator.py registration under 2019-09)
_reg_vocab(
    {
        "allOf", "anyOf", "oneOf", "not", "if", "then", "else", "dependentSchemas",
        "prefixItems", "items", "contains", "properties", "patternProperties",
        "additionalProperties", "propertyNames", "unevaluatedItems", "unevaluatedProperties",
    },
    "https://json-schema.org/draft/2019-09/vocab/applicator",
)
_reg_vocab(
    {"unevaluatedItems", "unevaluatedProperties"},
    "https://json-schema.org/draft/2020-12/vocab/unevaluated",
)
_reg_vocab(
    {
        "type", "enum", "const", "multipleOf", "maximum", "exclusiveMaximum", "minimum",
        "exclusiveMinimum", "maxLength", "minLength", "pattern", "maxItems", "minItems",
        "uniqueItems", "maxContains", "minContains", "maxProperties", "minProperties",
        "required", "dependentRequired",
    },
    "https://json-schema.org/draft/2020-12/vocab/validation",
    "https://json-schema.org/draft/2019-09/vocab/validation",
)
_reg_vocab(
    {"title", "description", "default", "deprecated", "readOnly", "writeOnly", "examples"},
    "https://json-schema.org/draft/2020-12/vocab/meta-data",
    "https://json-schema.org/draft/2019-09/vocab/meta-data",
)
_reg_vocab(
    {"format"},
    "https://json-schema.org/draft/2020-12/vocab/format-annotation",
    "https://json-schema.org/draft/2020-12/vocab/format-assertion",
    "https://json-schema.org/draft/2019-09/vocab/format",
)
_reg_vocab(
    {"contentEncoding", "contentMediaType", "contentSchema"},
    "https://json-schema.org/draft/2020-12/vocab/content",
    "https://json-schema.org/draft/2019-09/vocab/content",
)


# pre-2019-09 dialect keyword sets, expressed in POST-REWRITE (2020-12)
# names — legacy.py rewrites tuple items → prefixItems(+items) and
# dependencies → dependentRequired/dependentSchemas before gating, so
# the rewritten names are what _enabled_at sees. Keywords a dialect
# never defined (unevaluated*, min/maxContains, $dynamicRef) are
# unknown there and must NOT assert (draft-07 core §6.5: unknown
# keywords are ignored). NB draft-04's exclusive bounds are boolean
# modifiers rewritten into the numeric form under the same names, so
# exclusiveMaximum/Minimum stay enabled for all three.
_D7_KEYWORDS = frozenset(
    {
        "$ref", "type", "enum", "const", "multipleOf", "maximum",
        "exclusiveMaximum", "minimum", "exclusiveMinimum", "maxLength",
        "minLength", "pattern", "maxItems", "minItems", "uniqueItems",
        "maxProperties", "minProperties", "required", "dependentRequired",
        "format", "properties", "patternProperties", "additionalProperties",
        "propertyNames", "prefixItems", "items", "contains",
        "dependentSchemas", "allOf", "anyOf", "oneOf", "not",
        "if", "then", "else",
    }
)
_D6_KEYWORDS = _D7_KEYWORDS - {"if", "then", "else"}
_D4_KEYWORDS = _D6_KEYWORDS - {"const", "contains", "propertyNames"}
_LEGACY_DIALECT_KEYWORDS = {
    "http://json-schema.org/draft-07/schema": _D7_KEYWORDS,
    "http://json-schema.org/draft-06/schema": _D6_KEYWORDS,
    "http://json-schema.org/draft-04/schema": _D4_KEYWORDS,
}

_KNOWN_DIALECTS = (
    "https://json-schema.org/draft/2020-12/schema",
    "https://json-schema.org/draft/2019-09/schema",
    "http://json-schema.org/draft-07/schema",
    "http://json-schema.org/draft-06/schema",
    "http://json-schema.org/draft-04/schema",
    # draft-next: 2020-12 keyword semantics plus the stricter $id rule
    # (no fragment AT ALL, not even an empty one — reference
    # jschon/vocabulary/future.py:13-27 IdKeyword_Next)
    "https://json-schema.org/draft/next/schema",
)


def _dialect_for(schema_uri: str, catalog: Optional[Any]) -> tuple[Optional[frozenset], bool]:
    """(enabled keyword set or None for "all", format-assertion flag)
    for one ``$schema`` URI — the per-resource metaschema resolution the
    reference does in jschon/jsonschema.py:117-129 + Catalog. Raises
    for an unrecognized dialect or an unknown required vocabulary
    (2020-12 §8.1.2)."""
    uri = schema_uri.rstrip("#")
    if uri in _LEGACY_DIALECT_KEYWORDS:
        # static sets for dialects older than vocabularies existed
        return _LEGACY_DIALECT_KEYWORDS[uri], False
    meta_doc = catalog.lookup(uri) if catalog is not None else None
    if uri not in _KNOWN_DIALECTS and meta_doc is None:
        raise CompileError(
            f"unrecognized dialect {schema_uri!r}; supported: {list(_KNOWN_DIALECTS)} "
            "(or register the metaschema document in the catalog)"
        )
    if uri not in _KNOWN_DIALECTS and isinstance(meta_doc, dict):
        # custom metaschema: validate-before-use, like the reference's
        # Catalog.create_metaschema self-check (CatalogError "metaschema
        # is invalid against its own metaschema", reference
        # tests/test_catalog.py:316-319 on tests/data/meta_invalid.json)
        from jschon_spark.compiler.metaschema import check_schema_document

        if not isinstance(meta_doc.get("$schema"), str):
            # the reference cannot validate a metaschema that does not
            # name its own metaschema ("The schema's metaschema URI has
            # not been set", probed live on tests/data-shaped fixtures)
            raise CompileError(
                f"metaschema {uri!r} does not declare its own '$schema'"
            )
        viols = check_schema_document(meta_doc)
        if viols:
            raise CompileError(
                f"metaschema {uri!r} is invalid against its own metaschema: "
                + "; ".join(str(v) for v in viols[:5])
            )
        vocab = meta_doc.get("$vocabulary")
        core_uris = {
            "https://json-schema.org/draft/2020-12/vocab/core",
            "https://json-schema.org/draft/2019-09/vocab/core",
        }
        if not isinstance(vocab, dict) or not any(
            isinstance(v, str) and v.rstrip("#") in core_uris for v in vocab
        ):
            # ≙ reference Metaschema.__init__ "No core vocabulary in
            # '$vocabulary' ... and no default provided"
            # (tests/data/meta_no_vocabs.json)
            raise CompileError(
                f"metaschema {uri!r} declares no core vocabulary in '$vocabulary'"
            )
    if isinstance(meta_doc, dict) and isinstance(meta_doc.get("$vocabulary"), dict):
        enabled: set = set()
        assert_formats = False
        custom_vocabs = getattr(catalog, "vocabularies", None) or {}
        for vuri, req in meta_doc["$vocabulary"].items():
            kws = _VOCAB_KEYWORDS.get(vuri.rstrip("#"))
            if kws is None:
                # user-registered vocabulary (catalog.create_vocabulary)
                # ≙ the reference resolving a vocabulary URI to its
                # registered Keyword classes (vocabulary/__init__.py:
                # 57-76 Metaschema kwclasses)
                custom = custom_vocabs.get(vuri.rstrip("#"))
                if custom is not None:
                    enabled |= set(custom)
                    continue
                if req is True:
                    raise CompileError(
                        f"metaschema {uri!r} requires unknown vocabulary {vuri!r}"
                    )
                continue
            enabled |= kws
            if vuri.rstrip("#") == "https://json-schema.org/draft/2020-12/vocab/format-assertion":
                assert_formats = True  # the dialect itself asserts formats
        return frozenset(enabled), assert_formats
    return None, False


def _true(c: Column | bool) -> Column:
    return F.lit(c) if isinstance(c, bool) else c


class Compiler:
    """Compiles one root schema document (with its $defs/$id/$anchor
    registry ≙ jschon's Catalog, jschon/catalog/__init__.py:70-391)."""

    def __init__(
        self,
        root: Any,
        assert_formats: bool = False,
        format_validators: Optional[dict[str, Callable[[Ctx], Column]]] = None,
        max_depth: int = _MAX_DEPTH,
        catalog: Optional[Any] = None,
        validate_schema: bool = True,
        max_nodes: int = 60_000,
    ):
        from jschon_spark.compiler.legacy import rewrite_legacy
        from jschon_spark.compiler.metaschema import check_schema_document

        if isinstance(root, dict):
            # normalize 2019-09/draft-07 forms first (tuple items etc.),
            # then metaschema-check the 2020-12 document — mirroring the
            # reference's validate-before-use (jschon/jsonschema.py:187-189,
            # catalog self-check jschon/catalog/__init__.py:233-237).
            # NB: JSON-pointer $refs into rewritten positions
            # (e.g. "#/items/0" for tuple items) must use the 2020-12
            # spelling ("#/prefixItems/0").
            root = rewrite_legacy(root)
        self.validate_schema = validate_schema
        if validate_schema and isinstance(root, dict) and isinstance(root.get("$schema"), str):
            # dialect selection ≙ jschon's metaschema lookup
            # (jschon/jsonschema.py:117-129 + catalog): the supported
            # dialects all normalize to 2020-12 via the legacy rewrite;
            # an unrecognized dialect URI is an error, not a silent
            # assumption — unless the catalog can actually resolve it
            # (a custom metaschema registered by the caller). The
            # $vocabulary-driven keyword registry ≙ jschon's
            # Metaschema.kwclasses (jschon/vocabulary/__init__.py:40-101).
            self.enabled_keywords, dialect_asserts = _dialect_for(root["$schema"], catalog)
            if dialect_asserts:
                assert_formats = True
            # draft-next tightens $id: no fragment at all (2020-12
            # merely requires an EMPTY fragment; future.py:13-27 calls
            # uri.validate(allow_fragment=False))
            self.strict_id_fragments = (
                root["$schema"].rstrip("#") == "https://json-schema.org/draft/next/schema"
            )
        else:
            self.enabled_keywords = None
            self.strict_id_fragments = False
        if validate_schema:
            viols = check_schema_document(root)
            if viols:
                lines = "\n".join(f"  {v.path or '/'}: {v.message}" for v in viols)
                raise CompileError(
                    f"schema failed metaschema validation ({len(viols)} violation(s)):\n{lines}",
                    violations=viols,
                )
        self.root = root
        self.assert_formats = assert_formats
        self.format_validators = dict(_BUILTIN_FORMATS)
        if format_validators:
            self.format_validators.update(format_validators)
        self.max_depth = max_depth
        # ref INLINING multiplies shared subtrees: a small document with
        # chained cross-document $refs can compile to a Column tree far
        # beyond what Catalyst's recursive converters handle (observed:
        # a 3.6 KB fuzz schema with 11 refs overflowing the driver
        # thread stack / analyzing for minutes). Count subschema
        # applications and fail FAST with a pointer instead — the same
        # philosophy as max_depth for cycles.
        self.max_nodes = max_nodes
        # The fields below describe the schema documents (catalog
        # documents join lazily, on their first $ref) and are shared by
        # every plan; per-plan state lives only on the copy plan() makes.
        # URI → (schema_node, canonical spath); ≙ Catalog schema cache
        self.registry: dict[str, tuple[Any, str]] = {}
        # $dynamicAnchor name → [(node, spath)] in document (outermost-first) order
        self.dynamic_anchors: dict[str, list[tuple[Any, str]]] = {}
        # id(node) → canonical URI of the schema RESOURCE the node roots
        # (nodes carrying $id, plus document roots) — lets apply() push
        # the compile-time dynamic scope (jschon/jsonschema.py:226-241)
        self.resource_uri: dict[int, str] = {}
        # id(node) → URI of the nearest ENCLOSING resource, for every
        # dict node of every indexed document — so a $ref that lands on
        # an interior node of another resource still pushes that
        # resource's base onto the scope (RFC 3986 resolution base)
        self.enclosing_uri: dict[int, str] = {}
        # (resource URI, anchor name) → (node, spath) for $dynamicAnchor
        # carriers, keyed by their enclosing resource
        self.dynamic_in_resource: dict[tuple[str, str], tuple[Any, str]] = {}
        self.catalog = catalog  # SchemaCatalog for cross-document $ref
        # makes resolve_ref's check-then-load of a catalog document atomic:
        # concurrent plans share the registry, and must index a document once
        self._load_lock = threading.Lock()
        # user-defined keywords (catalog.create_vocabulary); dispatched
        # only in resources whose metaschema enables the vocabulary —
        # under the standard dialects they stay inert, exactly like the
        # reference where only the metaschema's kwclasses evaluate
        # (jschon/vocabulary/__init__.py:57-101)
        self.custom_keywords: dict[str, Any] = {}
        for vkws in (getattr(catalog, "vocabularies", None) or {}).values():
            for name, spec in vkws.items():
                if name in _ORDER or name in _ANNOTATION_ONLY:
                    raise CompileError(
                        f"custom keyword {name!r} shadows a built-in keyword"
                    )
                self.custom_keywords[name] = spec
        # resource URI → (enabled keyword set or None, dialect asserts
        # formats) — per-resource $schema/$vocabulary resolution, ≙ the
        # reference resolving a metaschema PER SCHEMA RESOURCE rather
        # than once for the whole compilation (jschon/jsonschema.py:117-129).
        # Resources absent from the map inherit the root dialect.
        self.resource_dialect: dict[str, tuple[Optional[frozenset], bool]] = {}
        self.base_uri = ""
        if isinstance(root, dict):
            self.base_uri = urldefrag(root.get("$id", "")).url
            self.resource_uri[id(root)] = self.base_uri
            self.resource_dialect[self.base_uri] = (self.enabled_keywords, assert_formats)
            self._index(root, self.base_uri, "", (self.enabled_keywords, assert_formats))
            if self.custom_keywords and validate_schema:
                self._check_custom_values(root, "", self.enabled_keywords)
        # resources declared WITHIN the root document (snapshot before
        # any catalog document is lazily loaded): ref targets OUTSIDE
        # this set get site-based /$ref spaths — their document-relative
        # registry spaths ("" for an external root, "/$defs/x" inside
        # it) would collide with, or masquerade as, root-document
        # locations in the trace/violation output (round-3 fuzz find)
        self.root_doc_resources: set[str] = {self.base_uri} | {
            u for u in self.registry if "#" not in u
        }

    def plan(self, schema: Any, ctx: Ctx, *, trace: bool, staged: bool) -> "Plan":
        """Compile ``schema`` at ``ctx`` into a frozen :class:`Plan`.

        Pure: the compile runs on a shallow copy of this Compiler whose
        per-plan fields start empty while the document registry,
        dialects and anchors stay shared, so a plan never depends on
        what was planned before and concurrent plans do not interfere.
        The plan's root is a result node: its pending noassert-if viols
        resolve under its own outcome (basic output reports errors only
        for invalid instances, jschon/output.py:46-70).

        ``trace`` records one entry per row-scope schema node for the
        verbose, audit and annotation outputs. ``staged`` turns on
        STAGED MATERIALIZATION (fixes the round-3 known limit, fuzz main
        seed 5069 / ext 5088): Catalyst's analysis expands the shared
        expression DAG into a tree, and because every node's viols
        channel re-references its children's `valid` trees (inside
        `when` gates), materialized size grew ~2x per NESTING level — a
        ~600-node compile of a 7+-level-nested schema exhausted a 12g
        driver heap at .select() analysis. Staged, apply() spills any
        row-scope subschema node whose subtree weight reaches
        ``STAGE_THRESHOLD`` applications into a numbered STAGE of named
        intermediate Columns and returns cheap ``F.col`` references
        instead; ``Plan.replay`` adds the stages as successive
        ``withColumns`` projections, so analysis sees bounded
        expressions referencing named attributes, and Spark's
        CollapseProject keeps multiply-referenced non-cheap expressions
        un-inlined. An unstaged plan has no stages, so its Columns
        select standalone. Nodes compiled inside higher-order-function
        lambdas (ctx.no_trace) reference lambda variables and cannot be
        selected at row scope — they stay inline (array-nested depth is
        still bounded by the enclosing row-scope node's spill)."""
        run = copy.copy(self)
        run._staged = staged
        # spath → (schema_node, path Column, Compiled, applied Column|None,
        # static dtype, value Column) for every node applied at row scope
        run._trace = {} if trace else None
        # trace spaths currently held by a ref-inlined application (the
        # canonical application of the same site replaces them)
        run._trace_via_ref = set()
        # spath → [(keyword, annotation value JSON, needs_nonnull,
        # own-validity Column|None)] for ACTIVE custom keywords that
        # annotate (≙ result.annotate on success); recorded during
        # _apply_custom so the output layer never emits for a resource
        # whose dialect left the keyword inert, and gated on the
        # keyword's OWN success for asserting keywords
        run._custom_annotations = {}
        # dynamic ref-application spath → canonical URI prefix, for
        # absoluteKeywordLocation translation
        run._ref_sites = {}
        run._stages = []  # stage k → {temp column name: Column}
        run._stage_tmp = 0
        run._expr_stage = 0  # max stage of any F.col temp the current expression references
        run._expr_weight = 0  # subschema applications folded into the current expression
        run._node_count = 0  # the max_nodes budget is per plan
        # Memo for coverage-guard RE-applications (unevaluated* keywords
        # re-derive sibling/branch validity at the SAME instance column):
        # (id(subschema), id(ctx.col), ctx.scope[, kw]) → validity
        # Column. Without it, _prop_covered re-applies every guard
        # subschema per struct field and nested unevaluated* multiply —
        # plan-construction cost exponential in nesting depth (a fuzz
        # schema took 100+ s/group; profiled at 94% inside _guard_cond).
        # Safe because the key pins the schema node, the exact instance
        # column object, and the resolution scope — the only inputs the
        # validity expression depends on (viols, which embed the
        # instance path, are never memoized). Values keep a strong ref
        # to the keyed schema node so its id() can't be recycled.
        run._reapply_cache = {}
        # Top-level _coverage_sources results per (id(schema), scope):
        # the walk synthesizes guard dicts ({"allOf": subs}…) — caching
        # the whole result list makes those guard objects STABLE across
        # the per-field calls of _prop_covered, which is what lets
        # _reapply_cache actually hit (and keeps the ids alive).
        run._coverage_cache = {}
        node = resolve_node(run.apply(schema, ctx))
        return Plan(
            node.valid,
            node.viols,
            tuple(tuple(stage.items()) for stage in run._stages if stage),
            tuple(sorted(run._trace.items())) if trace else (),
            MappingProxyType(run._custom_annotations),
            MappingProxyType(run._ref_sites),
        )

    def _target_spath(self, ctx: "Ctx", target: Any, spath: str, refkw: str) -> str:
        """Location prefix for a resolved ref target: the referring
        site's ``/$ref`` (or ``/$dynamicRef``) segment — i.e. the
        DYNAMIC evaluation path, exactly the reference's basic/verbose
        ``keywordLocation`` (jschon/jsonschema.py Result.path: a
        RefKeyword result node at .../$ref whose target keywords attach
        beneath it). Because refs are compile-time inlined, every ref
        application re-walks the target at its own site, so dynamic
        paths are unique per application — which also gives each
        ref-only application its own trace slot (round-3's multi-ref
        trace-attribution limit is gone). ``spath`` (the canonical
        document location, ≙ absoluteKeywordLocation) is unused here
        but kept in the signature for callers/debugging."""
        return ctx.spath + "/" + refkw

    # -- reference registry ------------------------------------------------

    def _index(
        self, node: Any, base: str, spath: str, dialect: Optional[tuple] = None
    ) -> None:
        if isinstance(node, dict):
            if isinstance(node.get("$id"), str):
                if getattr(self, "strict_id_fragments", False) and "#" in node["$id"]:
                    raise CompileError(
                        f"draft-next forbids any fragment in $id: {node['$id']!r} "
                        f"at {spath or '/'}"
                    )
                # a nested resource may declare its own $schema (only
                # legal at resource roots): resolve its dialect here so
                # keyword gating follows the RESOURCE's vocabulary set,
                # not the compilation root's
                if self.validate_schema and isinstance(node.get("$schema"), str):
                    dialect = _dialect_for(node["$schema"], self.catalog)
                base = urljoin(base, node["$id"])
                self.registry[urldefrag(base).url] = (node, spath)
                self.resource_uri[id(node)] = urldefrag(base).url
                if dialect is not None:
                    self.resource_dialect.setdefault(urldefrag(base).url, dialect)
            self.enclosing_uri[id(node)] = urldefrag(base).url
            for akw in ("$anchor", "$dynamicAnchor"):
                if isinstance(node.get(akw), str):
                    self.registry[urldefrag(base).url + "#" + node[akw]] = (node, spath)
            if isinstance(node.get("$dynamicAnchor"), str):
                self.dynamic_anchors.setdefault(node["$dynamicAnchor"], []).append((node, spath))
                self.dynamic_in_resource.setdefault(
                    (urldefrag(base).url, node["$dynamicAnchor"]), (node, spath)
                )
            for k, v in node.items():
                if k in ("enum", "const", "default", "examples"):
                    continue
                self._index(v, base, spath + "/" + escape_pointer(k), dialect)
        elif isinstance(node, list):
            for i, v in enumerate(node):
                self._index(v, base, f"{spath}/{i}", dialect)

    def _resolve_pointer(self, doc: Any, pointer: str) -> Any:
        node = doc
        if pointer in ("", "/"):
            return node if pointer == "" else node
        for raw in pointer.lstrip("/").split("/"):
            token = raw.replace("~1", "/").replace("~0", "~")
            if isinstance(node, list):
                node = node[int(token)]
            elif isinstance(node, dict):
                node = node[token]
            else:
                raise CompileError(f"$ref pointer {pointer!r} does not resolve")
        return node

    def _load_external(self, uri: str) -> None:
        """Pull an external document from the catalog into this
        compiler's registry (≙ Catalog.get_schema loading + caching,
        jschon/catalog/__init__.py:313-368)."""
        if self.catalog is None:
            return
        doc = self.catalog.lookup(uri)
        if doc is None:
            # the URI may name a NESTED $id resource of a registered
            # document (the reference registers every embedded resource
            # at construction time — jschon $id keyword → catalog):
            # loading the containing document _index-es the whole tree,
            # which registers ``uri`` with its correct base and spath
            parent_of = getattr(self.catalog, "containing_document_uri", None)
            if parent_of is not None:
                parent = parent_of(uri)
                if parent and parent != uri and parent not in self.registry:
                    self._load_external(parent)
            return
        if doc is not None:
            from jschon_spark.compiler.legacy import rewrite_legacy
            from jschon_spark.compiler.metaschema import check_schema_document

            if isinstance(doc, dict):
                doc = rewrite_legacy(doc)
            if self.validate_schema:
                viols = check_schema_document(doc)
                if viols:
                    lines = "\n".join(f"  {v.path or '/'}: {v.message}" for v in viols)
                    raise CompileError(
                        f"external schema {uri!r} failed metaschema validation:\n{lines}",
                        violations=viols,
                    )
            self.registry.setdefault(uri, (doc, ""))
            self.resource_uri.setdefault(id(doc), uri)
            # the referenced document's OWN $schema decides its keyword
            # gating (per-resource metaschema resolution); absent one,
            # it inherits the root dialect
            dialect = None
            if self.validate_schema and isinstance(doc, dict) and isinstance(doc.get("$schema"), str):
                dialect = _dialect_for(doc["$schema"], self.catalog)
                self.resource_dialect.setdefault(uri, dialect)
            self._index(doc, uri, "", dialect)

    def resolve_ref(self, ref: str, base: Optional[str] = None) -> tuple[Any, str]:
        """$ref → (target schema node, canonical spath). ``base`` is the
        URI of the resource ENCLOSING THE REF SITE (RFC 3986: relative
        references resolve against the nearest $id base,
        jschon/jsonschema.py:127-151) — callers pass ctx.scope[-1].
        Compile-time inlining replaces jschon's two-phase resolve
        (jschon/vocabulary/core.py:82-103); cycles hit the depth guard."""
        base = base or self.base_uri
        uri, frag = urldefrag(urljoin(base, ref))
        # RFC 6901 §6: a JSON-Pointer fragment travels percent-encoded
        # in the URI (jschon/jsonpointer.py:229-254 uri_fragment round-trip)
        frag = unquote(frag)
        if frag and not frag.startswith("/"):
            key = uri + "#" + frag
            with self._load_lock:
                if key not in self.registry and uri and uri != self.base_uri:
                    self._load_external(uri)
            if key in self.registry:
                return self.registry[key]
            raise CompileError(f"unresolvable $anchor reference {ref!r}")
        if uri and uri != self.base_uri:
            with self._load_lock:
                if uri not in self.registry:
                    self._load_external(uri)
            if uri in self.registry:
                doc, spath = self.registry[uri]
                if frag:
                    return (
                        self._resolve_pointer(doc, frag),
                        spath + frag,
                    )
                return doc, spath
            raise CompileError(f"unresolvable external reference {ref!r} (no network)")
        if uri and uri == self.base_uri and not frag:
            return self.root, ""
        return self._resolve_pointer(self.root, frag), frag

    def _enabled_at(self, ctx: Ctx) -> Optional[frozenset]:
        """Keyword set enabled in the CURRENT resource's dialect
        (ctx.scope[-1]); resources with no recorded dialect inherit the
        compilation root's."""
        if ctx.scope:
            d = self.resource_dialect.get(ctx.scope[-1])
            if d is not None:
                return d[0]
        return self.enabled_keywords

    def _asserts_formats_at(self, ctx: Ctx) -> bool:
        """Whether format asserts in the current resource: the caller's
        assert_formats flag forces assertion everywhere; otherwise the
        resource's own dialect decides (a format-assertion vocabulary in
        a NESTED resource only upgrades — caller-level True is never
        downgraded by a nested dialect)."""
        if self.assert_formats:
            return True
        if ctx.scope:
            d = self.resource_dialect.get(ctx.scope[-1])
            if d is not None:
                return d[1]
        return False

    def _node_scope_uri(self, node: Any) -> Optional[str]:
        """The URI this node contributes to the dynamic scope: its own
        resource URI if it roots one, else the nearest enclosing
        resource's URI (covers $ref targets that are interior nodes of
        other documents)."""
        uri = self.resource_uri.get(id(node))
        if uri is None:
            uri = self.enclosing_uri.get(id(node))
        return uri

    # -- node compilation --------------------------------------------------

    def _spill(self, col: Column, stage: int, tag: str) -> Column:
        """Register ``col`` as a named intermediate column in stage
        ``stage`` and return an attribute reference to it. Stage k's
        expressions may reference only base columns and temps defined
        in stages < k (consumers replay stages in order)."""
        while len(self._stages) <= stage:
            self._stages.append({})
        name = f"__jsv{self._stage_tmp}_{tag}"
        self._stage_tmp += 1
        self._stages[stage][name] = col
        return F.col(name)

    def _materialize(self, node: Compiled, stage: int) -> Compiled:
        """Spill one compiled node's channels; the returned Compiled is
        three cheap column refs, so every downstream re-reference (the
        parent's valid conjunction, its viols gate, trace entries,
        then/else reading the if outcome) costs O(1) analysis size."""
        return Compiled(
            self._spill(node.valid, stage, "v"),
            self._spill(node.viols, stage, "w"),
            None if node.cond is None else self._spill(node.cond, stage, "c"),
        )

    def apply(self, schema: Any, ctx: Ctx) -> Compiled:
        """Compile ``schema`` at instance context ``ctx``.

        Boolean schemas short-circuit (jschon/jsonschema.py:201-205).
        """
        if ctx.depth > self.max_depth:
            raise CompileError(
                f"schema recursion exceeds max depth {self.max_depth} at {ctx.spath!r}"
            )
        self._node_count += 1
        # save the ENCLOSING expression's accumulators; this node's
        # subtree accumulates from zero (see staged materialization in
        # plan())
        _outer_stage, _outer_weight = self._expr_stage, self._expr_weight
        self._expr_stage, self._expr_weight = 0, 0
        if self._node_count > self.max_nodes:
            raise CompileError(
                f"schema compiles to more than {self.max_nodes} subschema "
                f"applications (at {ctx.spath!r}) — ref inlining has "
                "multiplied shared subtrees beyond what a single Spark "
                "plan supports; restructure the refs or raise max_nodes"
            )
        if isinstance(schema, dict):
            uri = self._node_scope_uri(schema)
            if uri is not None and (not ctx.scope or ctx.scope[-1] != uri):
                ctx = _replace(ctx, scope=ctx.scope + (uri,))
        # the negate flag belongs to THIS node only (the direct child of
        # a `not`); subschemas compiled below get ordinary result nodes
        negate_result = ctx.negate_result
        if negate_result:
            ctx = _replace(ctx, negate_result=False)
        if schema is True or schema == {} or schema is False:
            if schema is False:
                node = Compiled(
                    F.lit(False),
                    F.array(make_violation(ctx, "", "the instance is invalid (false schema)")),
                )
            else:
                node = Compiled.passed()
            # boolean subschemas ARE result nodes in the reference
            # (jsonschema.py:201-205 runs inside the applicator's
            # subresult) — trace them so the annotation ancestor gates
            # can derive applicator-node validity when a branch is a
            # bare boolean (campaign neg seed 5075: an untraced `false`
            # prefixItems entry made the /prefixItems gate bail out and
            # a pruned annotation leaked)
            if self._trace is not None and not ctx.no_trace:
                walk = ~node.valid if negate_result else node.valid
                traced = Compiled(walk, node.viols) if negate_result else node
                if ctx.spath not in self._trace:
                    self._trace[ctx.spath] = (schema, ctx.path, traced, ctx.applied, ctx.dtype, ctx.col)
                    if ctx.via_ref:
                        self._trace_via_ref.add(ctx.spath)
                elif not ctx.via_ref and ctx.spath in self._trace_via_ref:
                    self._trace[ctx.spath] = (schema, ctx.path, traced, ctx.applied, ctx.dtype, ctx.col)
                    self._trace_via_ref.discard(ctx.spath)
            self._expr_stage = _outer_stage
            self._expr_weight = _outer_weight + 1
            return node
        if not isinstance(schema, dict):
            raise CompileError(f"schema must be bool or object, got {type(schema)}")

        results: dict[str, Compiled] = {}
        parts: list[Compiled] = []
        enabled = self._enabled_at(ctx)
        ref_only = bool(schema.get(_LEGACY_REF_ONLY))
        for kw in _ORDER:
            if kw not in schema:
                continue
            if ref_only and kw != "$ref":
                continue  # pre-2019-09: $ref ignores every sibling
            if enabled is not None and kw not in enabled:
                continue  # outside the dialect's vocabularies → annotation
            handler = getattr(self, "_k_" + kw.lstrip("$").replace("-", "_"), None)
            if handler is None:
                continue
            out = handler(schema[kw], schema, ctx, results)
            if out is None:
                continue
            results[kw] = out
            if kw not in ("if",):  # `if` never asserts (applicator.py:89-94)
                parts.append(out)
        if self.custom_keywords and enabled is not None and not ref_only:
            # user-defined keywords run after the built-ins (reference:
            # unregistered kwclasses sort last in declaration order) and
            # only where the resource's metaschema enabled them
            for kw in sorted(self.custom_keywords.keys() & schema.keys()):
                if kw not in enabled:
                    continue
                out = self._apply_custom(self.custom_keywords[kw], schema[kw], ctx)
                if out is not None:
                    results[kw] = out
                    parts.append(out)
        node = combine(parts)
        if "if" in results:
            # `if` never asserts, but the reference's output walk still
            # reports a FAILED if-subtree's errors whenever every node
            # on the ancestor chain is invalid (collect_errors descends
            # only through invalid result nodes, jsonschema.py:526-536).
            # The nearest ancestor RESULT node is NOT this subschema
            # application (subschemas get no node of their own —
            # their keywords attach to the enclosing applicator's node,
            # jsonschema.py:191-220), so export the failed-if viols as
            # PENDING (`cond`); the enclosing applicator — or the root —
            # resolves them under its own node-validity gate
            # (resolve_node). The if node itself gates its subtree:
            # both its keywords' viols and any deeper pending if-viols
            # surface only when the if outcome is invalid.
            iff = results["if"]
            pending = F.when(
                ~iff.valid,
                concat_viols(iff.viols, iff.cond)
                if iff.cond is not None
                else iff.viols,
            ).otherwise(empty_violations())
            node = Compiled(
                node.valid,
                node.viols,
                pending if node.cond is None else concat_viols(node.cond, pending),
            )
        # staged materialization: this node's expression is computable at
        # stage ``my_stage`` (the max stage of any temp it references);
        # spilling it places its channels THERE and hands the enclosing
        # expression stage my_stage+1 references. Weight counts subschema
        # applications folded inline — once a child spills, it counts 1.
        my_stage, my_weight = self._expr_stage, self._expr_weight + 1
        if (
            self._staged
            and ctx.depth > 0
            and not ctx.no_trace
            and my_weight >= STAGE_THRESHOLD
        ):
            node = self._materialize(node, my_stage)
            self._expr_stage = max(_outer_stage, my_stage + 1)
            self._expr_weight = _outer_weight + 1
        else:
            self._expr_stage = max(_outer_stage, my_stage)
            self._expr_weight = _outer_weight + my_weight
        # the validity this node carries in the reference's RESULT TREE:
        # normally the subschema outcome, but the direct child of `not`
        # carries the flipped outcome (NotKeyword evaluates into its own
        # result node, applicator.py:77-86). The output walks run on
        # result-tree validity: errors descend through invalid nodes,
        # annotations through valid ones.
        walk_valid = ~node.valid if negate_result else node.valid
        if self._trace is not None and not ctx.no_trace:
            traced = Compiled(walk_valid, node.viols) if negate_result else node
            # Since round 4, ref targets compile under SITE-BASED dynamic
            # spaths (_target_spath: .../$ref/...), so every ref
            # application owns a distinct trace slot — the old
            # multi-ref single-slot attribution limit is gone, and
            # collisions between a canonical and a ref-inlined
            # application of one spath can no longer occur. The
            # canonical-wins replacement below is kept as a safety net
            # for any remaining aliasing (first writer wins otherwise).
            entry = (schema, ctx.path, traced, ctx.applied, ctx.dtype, ctx.col)
            if ctx.spath not in self._trace:
                self._trace[ctx.spath] = entry
                if ctx.via_ref:
                    self._trace_via_ref.add(ctx.spath)
            elif not ctx.via_ref and ctx.spath in self._trace_via_ref:
                self._trace[ctx.spath] = entry
                self._trace_via_ref.discard(ctx.spath)
        return node

    _SUBSCHEMA_MAPS = ("properties", "patternProperties", "dependentSchemas", "$defs", "definitions")
    _SUBSCHEMA_LISTS = ("allOf", "anyOf", "oneOf", "prefixItems")
    _SUBSCHEMA_SINGLES = (
        "items", "additionalProperties", "additionalItems", "propertyNames",
        "not", "if", "then", "else", "contains",
        "unevaluatedItems", "unevaluatedProperties", "contentSchema",
    )

    def _check_custom_values(self, node: Any, spath: str, enabled) -> None:
        """Eagerly run custom keywords' compile-time value checks over
        the document's SCHEMA positions (the reference constructs every
        Keyword object — hence runs its __init__ validation — while the
        schema document is built, jschon/jsonschema.py:137-175; a bad
        value must abort compile(), not the first validate())."""
        if not isinstance(node, dict):
            return
        if isinstance(node.get("$schema"), str) and (
            spath == "" or isinstance(node.get("$id"), str)
        ):
            enabled = _dialect_for(node["$schema"], self.catalog)[0]
        if enabled is not None:
            for ckw in sorted(self.custom_keywords.keys() & node.keys()):
                if ckw not in enabled:
                    continue
                spec = self.custom_keywords[ckw]
                if spec.check is not None:
                    try:
                        spec.check(node[ckw])
                    except CompileError:
                        raise
                    except Exception as e:
                        raise CompileError(
                            f"invalid {ckw!r} value at {spath or '/'}: {e}"
                        )
        for k in self._SUBSCHEMA_MAPS:
            v = node.get(k)
            if isinstance(v, dict):
                for pk, pv in v.items():
                    self._check_custom_values(
                        pv, f"{spath}/{k}/{escape_pointer(pk)}", enabled
                    )
        for k in self._SUBSCHEMA_LISTS:
            v = node.get(k)
            if isinstance(v, list):
                for i, pv in enumerate(v):
                    self._check_custom_values(pv, f"{spath}/{k}/{i}", enabled)
        for k in self._SUBSCHEMA_SINGLES:
            v = node.get(k)
            if isinstance(v, dict):
                self._check_custom_values(v, f"{spath}/{k}", enabled)

    def _apply_custom(self, spec: Any, value: Any, ctx: Ctx) -> Optional[Compiled]:
        """Compile one user-defined keyword application (a
        vocabulary.CustomKeyword spec — ≙ the reference constructing
        the Keyword instance, which may raise, then gating evaluate on
        ``instance_types``; jschon/vocabulary/__init__.py:104-200)."""
        if spec.check is not None:
            try:
                spec.check(value)
            except CompileError:
                raise
            except Exception as e:
                raise CompileError(
                    f"invalid {spec.key!r} value at {ctx.spath or '/'}: {e}"
                )
        if spec.instance_types:
            types = set(spec.instance_types)
            if "number" in types:
                types.add("integer")  # every JSON integer is a number
            if jtype_of(ctx.dtype) not in types:
                return None  # type-mismatched keyword constant-folds away
        node = None
        if spec.assertion:
            node = leaf(
                ctx, spec.key, spec.predicate(value, ctx), spec.error_message(value)
            )
        if spec.annotate is not None and not ctx.no_trace:
            ann = json.dumps(spec.annotate(value))
            # the annotation exists iff the KEYWORD's own evaluation
            # succeeded (result.annotate on the success path) — node
            # validity is NOT a proxy for that: under a passing `not`
            # the walk validity is flipped, so a failed keyword's node
            # can walk as valid (ckw-fuzz seed 12). For asserting
            # keywords record applied-and-passed explicitly; vacuous
            # passes (runtime null) don't annotate either.
            own = None
            if node is not None:
                own = node.valid & ctx.col.isNotNull()
            lst = self._custom_annotations.setdefault(ctx.spath, [])
            if all(k != spec.key for k, _, _, _ in lst):
                # null instances are JSON type "null": a type-scoped
                # keyword skips them at runtime, so its annotation needs
                # a non-null gate (untyped keywords evaluate nulls too)
                lst.append((spec.key, ann, bool(spec.instance_types), own))
        return node  # None for annotation-only keywords

    # -- validation keywords (jschon/vocabulary/validation.py) -------------

    def _k_type(self, value, schema, ctx: Ctx, results) -> Compiled:
        types = [value] if isinstance(value, str) else list(value)
        jt = jtype_of(ctx.dtype)
        if jt in types or ("number" in types and jt == "integer"):
            nonnull_ok: Column | bool = True
        elif "integer" in types and jt == "number":
            # zero-fraction numbers are integers (validation.py:40-41)
            nonnull_ok = ctx.col == F.floor(ctx.col)
        else:
            nonnull_ok = False
        valid = F.when(ctx.col.isNull(), F.lit("null" in types)).otherwise(
            F.coalesce(_true(nonnull_ok), F.lit(False))
        )
        err = f"the instance must be of type {types}"
        viols = F.when(~valid, F.array(make_violation(ctx, "type", err))).otherwise(
            empty_violations()
        )
        return Compiled(valid, viols)

    def _eq_literal(self, dtype: T.DataType, col: Column, v: Any) -> Column:
        """Deep equality of a column against a JSON literal (reference
        jschon/json.py:277-289; cross-type numeric equality preserved)."""
        if v is None:
            return col.isNull()
        if isinstance(v, bool):
            if not isinstance(dtype, T.BooleanType):
                return F.lit(False)
            return col.isNotNull() & (col == F.lit(v))
        if isinstance(v, (int, float)):
            if not is_numeric(dtype):
                return F.lit(False)
            return col.isNotNull() & (col == F.lit(v))
        if isinstance(v, str):
            if not isinstance(dtype, T.StringType):
                return F.lit(False)
            return col.isNotNull() & (col == F.lit(v))
        if isinstance(v, list):
            if not isinstance(dtype, T.ArrayType):
                return F.lit(False)
            elems = [self._lit_of(dtype.elementType, e) for e in v]
            if any(e is None for e in elems):
                return F.lit(False)
            if not elems:
                return col.isNotNull() & (F.size(col) == 0)
            return col.isNotNull() & (col == F.array(*elems))
        if isinstance(v, dict):
            if isinstance(dtype, T.StructType):
                names = set(f.name for f in dtype.fields)
                if not set(v.keys()) <= names:
                    return F.lit(False)
                # struct fields absent from the literal must be null
                conds = [col.isNotNull()]
                for f in dtype.fields:
                    fc = col.getField(f.name)
                    if f.name in v:
                        if v[f.name] is None and not isinstance(f.dataType, T.NullType):
                            # the literal demands PRESENT-as-null, but a
                            # null in a concrete-typed field means ABSENT
                            # under the presence convention (§1.4 /
                            # _has_prop) — no instance of this dtype can
                            # deep-equal the literal ({} must not match
                            # {"d": null}; campaign eq seed 5144)
                            return F.lit(False)
                        conds.append(F.coalesce(self._eq_literal(f.dataType, fc, v[f.name]), F.lit(False)))
                    else:
                        conds.append(fc.isNull())
                out = conds[0]
                for c in conds[1:]:
                    out = out & c
                return out
            if isinstance(dtype, T.MapType) and isinstance(dtype.keyType, T.StringType):
                canonical = json.dumps(v, sort_keys=True, separators=(",", ":"))
                sorted_json = F.to_json(
                    F.map_from_entries(F.array_sort(F.map_entries(col)))
                )
                return col.isNotNull() & (F.size(col) == len(v)) & (
                    sorted_json == F.lit(canonical)
                )
            return F.lit(False)
        raise CompileError(f"unsupported literal {v!r}")

    def _lit_of(self, dtype: T.DataType, v: Any) -> Optional[Column]:
        """A Column literal of ``v`` castable to ``dtype`` (None = type
        mismatch → caller folds to False)."""
        if v is None:
            return F.lit(None).cast(dtype)
        if isinstance(v, bool):
            return F.lit(v) if isinstance(dtype, T.BooleanType) else None
        if isinstance(v, (int, float)):
            return F.lit(v).cast(dtype) if is_numeric(dtype) else None
        if isinstance(v, str):
            return F.lit(v) if isinstance(dtype, T.StringType) else None
        if isinstance(v, list) and isinstance(dtype, T.ArrayType):
            elems = [self._lit_of(dtype.elementType, e) for e in v]
            if any(e is None for e in elems):
                return None
            return F.array(*elems) if elems else F.array().cast(dtype)
        if isinstance(v, dict) and isinstance(dtype, T.StructType):
            if not set(v.keys()) <= set(dtype.fieldNames()):
                return None  # literal has a property the type can't hold
            fields = []
            for f in dtype.fields:
                if f.name in v:
                    if v[f.name] is None and not isinstance(f.dataType, T.NullType):
                        # present-as-null at a concrete-typed field is
                        # unrepresentable — see _eq_literal struct branch
                        return None
                    fv = self._lit_of(f.dataType, v[f.name])
                    if fv is None:
                        return None
                else:
                    # struct fields absent from the literal must be null;
                    # Spark's struct equality orders null==null, so the
                    # comparison still works element-wise
                    fv = F.lit(None).cast(f.dataType)
                fields.append(fv.alias(f.name))
            return F.struct(*fields)
        return None

    def _k_enum(self, value, schema, ctx: Ctx, results) -> Compiled:
        eqs = [F.coalesce(self._eq_literal(ctx.dtype, ctx.col, v), F.lit(False)) for v in value]
        valid = eqs[0] if eqs else F.lit(False)
        for e in eqs[1:]:
            valid = valid | e
        err = "the value must be one of the enumerated values"
        viols = F.when(~valid, F.array(make_violation(ctx, "enum", err))).otherwise(
            empty_violations()
        )
        return Compiled(valid, viols)

    def _k_const(self, value, schema, ctx: Ctx, results) -> Compiled:
        valid = F.coalesce(self._eq_literal(ctx.dtype, ctx.col, value), F.lit(False))
        err = "the value must be equal to the constant"
        viols = F.when(~valid, F.array(make_violation(ctx, "const", err))).otherwise(
            empty_violations()
        )
        return Compiled(valid, viols)

    def _k_multipleOf(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not is_numeric(ctx.dtype):
            return None
        if is_integral(ctx.dtype) and isinstance(value, int):
            pred = F.pmod(ctx.col, F.lit(value)) == 0
        else:
            # Decimal exactness (validation.py:72); try_cast: out-of-range
            # falls back to double modulo
            dec = "decimal(38,12)"
            exact = F.pmod(ctx.col.try_cast(dec), F.lit(value).cast(dec)) == 0
            approx = ctx.col.cast("double") % F.lit(float(value)) == 0.0
            pred = F.coalesce(exact, approx)
        return leaf(ctx, "multipleOf", pred, f"the value must be a multiple of {value}")

    def _numeric_bound(self, kw: str, op, value, ctx: Ctx, msg: str) -> Optional[Compiled]:
        if not is_numeric(ctx.dtype):
            return None
        return leaf(ctx, kw, op(ctx.col, F.lit(value)), msg)

    def _k_maximum(self, v, s, ctx, r):
        return self._numeric_bound("maximum", lambda c, l: c <= l, v, ctx, f"the value must be <= {v}")

    def _k_exclusiveMaximum(self, v, s, ctx, r):
        return self._numeric_bound("exclusiveMaximum", lambda c, l: c < l, v, ctx, f"the value must be < {v}")

    def _k_minimum(self, v, s, ctx, r):
        return self._numeric_bound("minimum", lambda c, l: c >= l, v, ctx, f"the value must be >= {v}")

    def _k_exclusiveMinimum(self, v, s, ctx, r):
        return self._numeric_bound("exclusiveMinimum", lambda c, l: c > l, v, ctx, f"the value must be > {v}")

    def _k_maxLength(self, v, s, ctx: Ctx, r) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.StringType):
            return None
        return leaf(ctx, "maxLength", F.length(ctx.col) <= v, f"the text is too long (maxLength {v})")

    def _k_minLength(self, v, s, ctx: Ctx, r) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.StringType):
            return None
        return leaf(ctx, "minLength", F.length(ctx.col) >= v, f"the text is too short (minLength {v})")

    def _k_pattern(self, v, s, ctx: Ctx, r) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.StringType):
            return None
        # rlike = unanchored Java-regex search, matching re.search
        # (validation.py:132-142); dialect deltas documented in SURVEY §2.9
        return leaf(ctx, "pattern", ctx.col.rlike(v), f"the text must match the pattern {v!r}")

    def _k_maxItems(self, v, s, ctx: Ctx, r) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.ArrayType):
            return None
        return leaf(ctx, "maxItems", F.size(ctx.col) <= v, f"the array has too many items (maxItems {v})")

    def _k_minItems(self, v, s, ctx: Ctx, r) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.ArrayType):
            return None
        return leaf(ctx, "minItems", F.size(ctx.col) >= v, f"the array has too few items (minItems {v})")

    def _k_uniqueItems(self, v, s, ctx: Ctx, r) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.ArrayType) or v is not True:
            return None
        # O(n) distinct vs the reference's O(n²) scan (validation.py:163-177)
        pred = F.size(F.array_distinct(ctx.col)) == F.size(ctx.col)
        return leaf(ctx, "uniqueItems", pred, "the array's items must all be unique")

    # -- object keywords ---------------------------------------------------

    def _prop_count(self, ctx: Ctx) -> Optional[Column]:
        if isinstance(ctx.dtype, T.StructType):
            # a NullType field can only ever hold an explicit JSON null,
            # so it counts as present (see _has_prop)
            counts = [
                F.lit(1) if isinstance(f.dataType, T.NullType)
                else ctx.col.getField(f.name).isNotNull().cast("int")
                for f in ctx.dtype.fields
            ]
            if not counts:
                return F.lit(0)
            out = counts[0]
            for c in counts[1:]:
                out = out + c
            return out
        if isinstance(ctx.dtype, T.MapType):
            return F.size(ctx.col)
        return None

    def _k_maxProperties(self, v, s, ctx: Ctx, r) -> Optional[Compiled]:
        n = self._prop_count(ctx)
        if n is None:
            return None
        return leaf(ctx, "maxProperties", n <= v, f"the object has too many properties (maxProperties {v})")

    def _k_minProperties(self, v, s, ctx: Ctx, r) -> Optional[Compiled]:
        n = self._prop_count(ctx)
        if n is None:
            return None
        return leaf(ctx, "minProperties", n >= v, f"the object has too few properties (minProperties {v})")

    def _has_prop(self, ctx: Ctx, name: str) -> Column:
        if isinstance(ctx.dtype, T.StructType):
            if name not in ctx.dtype.fieldNames():
                return F.lit(False)
            # SQL NULL conflates JSON "absent" and "explicit null" — the
            # one type that disambiguates is NullType, which can ONLY
            # hold an explicit null, so such a field is present whenever
            # its PARENT object is (matches the suite's null-valued
            # required-property cases). Gating on the parent matters:
            # an unconditional True leaked presence into rows where the
            # whole struct is NULL — fuzz seed ext/9097 surfaced a
            # propertyNames violation for a field of a null array
            # element, which cascaded into surfacing a noassert-if's
            # internal errors (the ancestor node wrongly went invalid).
            if isinstance(ctx.dtype[name].dataType, T.NullType):
                return ctx.col.isNotNull()
            return ctx.col.getField(name).isNotNull()
        return F.map_contains_key(ctx.col, F.lit(name))

    def _k_required(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, (T.StructType, T.MapType)):
            return None
        present = [self._has_prop(ctx, n) for n in value]
        pred = F.lit(True)
        for p in present:
            pred = pred & p
        return leaf(ctx, "required", pred, f"the object is missing required properties {list(value)}")

    def _k_dependentRequired(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, (T.StructType, T.MapType)):
            return None
        parts = []
        for name, deps in value.items():
            implied = F.lit(True)
            for d in deps:
                implied = implied & self._has_prop(ctx, d)
            pred = ~self._has_prop(ctx, name) | implied
            parts.append(
                leaf(
                    ctx,
                    "dependentRequired",
                    pred,
                    f"properties {list(deps)} are required when {name!r} is present",
                )
            )
        return combine(parts) if parts else None

    def _k_properties(self, value: dict, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, (T.StructType, T.MapType)):
            return None
        parts = []
        is_struct = isinstance(ctx.dtype, T.StructType)
        for name, sub in value.items():
            if is_struct and name not in ctx.dtype.fieldNames():
                continue  # never present → subschema never applies
            present = self._has_prop(ctx, name)
            child_ctx = ctx.field(name).with_applied(present)
            child_ctx = _replace(child_ctx, spath=ctx.spath + f"/properties/{escape_pointer(name)}")
            c = self.apply(sub, child_ctx)
            # per-property subresult node (applicator.py:262): pending
            # if-viols resolve under this one application's outcome
            parts.append(gate_compiled(resolve_node(c), present))
        return combine(parts) if parts else None


    def _name_search(self, pattern: str, name: str) -> bool:
        """Does ``pattern`` match (search) the static property name?
        Python re first; on Python-rejected patterns (Java-only
        constructs like \\p{...}) fall back to the JVM's
        java.util.regex via the active session — the same dialect the
        runtime rlike path uses."""
        try:
            return re.search(pattern, name) is not None
        except re.error:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise CompileError(
                    f"pattern {pattern!r} is not a valid Python regex and no active "
                    "SparkSession is available for the Java-dialect fallback"
                )
            jvm = spark.sparkContext._jvm
            return bool(jvm.java.util.regex.Pattern.compile(pattern).matcher(name).find())

    def _k_patternProperties(self, value: dict, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if isinstance(ctx.dtype, T.StructType):
            parts = []
            for regex, sub in value.items():
                for f in ctx.dtype.fields:
                    if not self._name_search(regex, f.name):
                        continue
                    present = self._has_prop(ctx, f.name)
                    child_ctx = ctx.field(f.name).with_applied(present)
                    child_ctx = _replace(child_ctx, spath=ctx.spath + f"/patternProperties/{escape_pointer(regex)}")
                    c = self.apply(sub, child_ctx)
                    # per-(item, regex) subresult node (applicator.py:285)
                    parts.append(gate_compiled(resolve_node(c), present))
            return combine(parts) if parts else None
        if isinstance(ctx.dtype, T.MapType):
            parts = []
            for regex, sub in value.items():
                parts.append(self._map_entries_check(ctx, sub, f"/patternProperties/{escape_pointer(regex)}", include_key_rlike=regex, resolve_per_entry=True))
            return combine(parts) if parts else None
        return None

    def _map_entries_check(
        self,
        ctx: Ctx,
        sub: Any,
        spath_suffix: str,
        include_key_rlike: Optional[str] = None,
        exclude_keys: Optional[set[str]] = None,
        exclude_rlikes: Optional[list[str]] = None,
        resolve_per_entry: bool = False,
    ) -> Compiled:
        """Apply ``sub`` to every map value whose key matches the
        include/exclude filters, via HOFs over map_entries.

        ``resolve_per_entry``: True when the reference opens a subresult
        node PER APPLICATION (patternProperties, applicator.py:285) —
        pending noassert-if viols then resolve under each entry's own
        outcome. False when applications evaluate directly into the
        keyword's node (additionalProperties, applicator.py:320) — the
        pending viols are exported via ``cond`` for the caller to
        resolve under the whole keyword node's validity."""

        def key_selected(k: Column) -> Column:
            cond = F.lit(True)
            if include_key_rlike is not None:
                cond = cond & k.rlike(include_key_rlike)
            if exclude_keys:
                cond = cond & ~k.isin(*sorted(exclude_keys))
            for rx in exclude_rlikes or []:
                cond = cond & ~k.rlike(rx)
            return cond

        vtype = ctx.dtype.valueType

        def child(e: Column) -> Compiled:
            cctx = ctx.child(
                e.getField("value"),
                vtype,
                F.concat(ctx.path, F.lit("/"), escape_pointer_col(e.getField("key"))),
                spath_suffix,
            )
            return self.apply(sub, _replace(cctx, no_trace=True))

        # cv-field presence decided statically at expression build —
        # if-free subschemas skip the extra field + flatten (see
        # _per_element)
        state: dict[str, bool] = {}

        def entry(e: Column) -> Column:
            # compile the subschema ONCE per entry — calling child(e)
            # for .valid and .viols separately would duplicate the whole
            # compiled expression tree inside the lambda (Catalyst CSE
            # does not dedupe lambda subtrees)
            c = child(e)
            if resolve_per_entry:
                c = resolve_node(c)
            state["has_cond"] = has_cond = c.cond is not None
            fields = [c.valid.alias("ok"), c.viols.alias("v")]
            pass_fields = [F.lit(True).alias("ok"), empty_violations().alias("v")]
            if has_cond:
                fields.append(c.cond.alias("cv"))
                pass_fields.append(empty_violations().alias("cv"))
            return F.when(
                key_selected(e.getField("key")), F.struct(*fields)
            ).otherwise(F.struct(*pass_fields))

        per_entry = F.transform(F.map_entries(ctx.col), entry)
        valid = F.coalesce(
            F.forall(per_entry, lambda s: s.getField("ok")), F.lit(True)
        )
        viols = F.coalesce(
            F.flatten(F.transform(per_entry, lambda s: s.getField("v"))),
            empty_violations(),
        )
        applies = ctx.col.isNotNull()
        if state.get("has_cond"):
            cond = F.coalesce(
                F.flatten(F.transform(per_entry, lambda s: s.getField("cv"))),
                empty_violations(),
            )
            cond = F.when(applies, cond).otherwise(empty_violations())
        else:
            cond = None
        return Compiled(
            F.when(applies, valid).otherwise(F.lit(True)),
            F.when(applies, viols).otherwise(empty_violations()),
            cond,
        )

    def _k_additionalProperties(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        known = set((schema.get("properties") or {}).keys())
        patterns = list((schema.get("patternProperties") or {}).keys())
        if isinstance(ctx.dtype, T.StructType):
            parts = []
            for f in ctx.dtype.fields:
                if f.name in known:
                    continue
                if any(self._name_search(p, f.name) for p in patterns):
                    continue
                present = self._has_prop(ctx, f.name)
                child_ctx = ctx.field(f.name).with_applied(present)
                child_ctx = _replace(child_ctx, spath=ctx.spath + "/additionalProperties")
                c = self.apply(value, child_ctx)
                parts.append(gate_compiled(c, present))
            return resolve_node(combine(parts)) if parts else None
        if isinstance(ctx.dtype, T.MapType):
            return resolve_node(self._map_entries_check(
                ctx,
                value,
                "/additionalProperties",
                exclude_keys=known,
                exclude_rlikes=patterns,
            ))
        return None

    def _k_propertyNames(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if isinstance(ctx.dtype, T.StructType):
            parts = []
            for f in ctx.dtype.fields:
                name_ctx = ctx.child(
                    F.lit(f.name),
                    T.StringType(),
                    F.concat(ctx.path, F.lit("/" + escape_pointer(f.name))),
                    "/propertyNames",
                )
                c = self.apply(value, name_ctx)
                present = self._has_prop(ctx, f.name)
                parts.append(gate_compiled(c, present))
            return resolve_node(combine(parts)) if parts else None
        if isinstance(ctx.dtype, T.MapType):
            state: dict[str, bool] = {}

            def child(k: Column) -> Column:
                cctx = ctx.child(k, T.StringType(), F.concat(ctx.path, F.lit("/"), escape_pointer_col(k)), "/propertyNames")
                c = self.apply(value, _replace(cctx, no_trace=True))
                state["has_cond"] = c.cond is not None
                fields = [c.valid.alias("ok"), c.viols.alias("v")]
                if c.cond is not None:
                    fields.append(c.cond.alias("cv"))
                return F.struct(*fields)

            per_key = F.transform(F.map_keys(ctx.col), child)
            valid = F.coalesce(F.forall(per_key, lambda s: s.getField("ok")), F.lit(True))
            viols = F.coalesce(
                F.flatten(F.transform(per_key, lambda s: s.getField("v"))),
                empty_violations(),
            )
            applies = ctx.col.isNotNull()
            if state.get("has_cond"):
                cond = F.coalesce(
                    F.flatten(F.transform(per_key, lambda s: s.getField("cv"))),
                    empty_violations(),
                )
                cond = F.when(applies, cond).otherwise(empty_violations())
            else:
                cond = None
            return resolve_node(
                Compiled(
                    F.when(applies, valid).otherwise(F.lit(True)),
                    F.when(applies, viols).otherwise(empty_violations()),
                    cond,
                )
            )
        return None

    # -- array applicators -------------------------------------------------

    def _k_prefixItems(self, value: list, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.ArrayType):
            return None
        parts = []
        for i, sub in enumerate(value):
            el = F.get(ctx.col, i)  # null-safe 0-based access
            applies = ctx.col.isNotNull() & (F.size(ctx.col) > i)
            cctx = ctx.child(
                el,
                ctx.dtype.elementType,
                F.concat(ctx.path, F.lit(f"/{i}")),
                f"/prefixItems/{i}",
            ).with_applied(applies)
            c = self.apply(sub, cctx)
            # per-index subresult node (applicator.py:151)
            parts.append(gate_compiled(resolve_node(c), applies))
        return combine(parts) if parts else None

    def _per_element(
        self,
        ctx: Ctx,
        sub: Any,
        spath_suffix: str,
        start: int = 0,
        skip_fn: Optional[Callable[[Column, Column], Column]] = None,
    ) -> tuple[Column, Column, Optional[Column]]:
        """(valid, viols, cond) of ``sub`` applied to elements [start:] —
        single HOF pass building struct(ok, v, cv) per element. ``cond``
        carries the elements' pending noassert-if viols (Compiled.cond);
        the CALLER is the result node and owns their invalid gate.

        ``skip_fn(x, i)`` — optional per-element gate: elements for which
        it returns true pass vacuously (used by unevaluatedItems to skip
        elements covered by sibling annotations)."""

        # HOF lambdas are built ONCE (symbolic variable), so whether the
        # subschema produces pending if-viols is known statically after
        # the first build — if-free subschemas (the common case) skip
        # the cv field and its flatten pass entirely
        state: dict[str, bool] = {}

        def mk(x: Column, i: Column) -> Column:
            cctx = ctx.element(x, i)
            cctx = _replace(cctx, spath=ctx.spath + spath_suffix, no_trace=True)
            c = self.apply(sub, cctx)
            state["has_cond"] = has_cond = c.cond is not None
            fields = [c.valid.alias("ok"), c.viols.alias("v")]
            if has_cond:
                fields.append(c.cond.alias("cv"))
            body = F.struct(*fields)
            gate: Optional[Column] = (i >= start) if start > 0 else None
            if skip_fn is not None:
                not_skipped = ~F.coalesce(skip_fn(x, i), F.lit(False))
                gate = not_skipped if gate is None else gate & not_skipped
            if gate is not None:
                pass_fields = [F.lit(True).alias("ok"), empty_violations().alias("v")]
                if has_cond:
                    pass_fields.append(empty_violations().alias("cv"))
                return F.when(gate, body).otherwise(F.struct(*pass_fields))
            return body

        per = F.transform(ctx.col, mk)
        valid = F.coalesce(F.forall(per, lambda s: s.getField("ok")), F.lit(True))
        viols = F.coalesce(
            F.flatten(F.transform(per, lambda s: s.getField("v"))), empty_violations()
        )
        cond = (
            F.coalesce(
                F.flatten(F.transform(per, lambda s: s.getField("cv"))),
                empty_violations(),
            )
            if state.get("has_cond")
            else None
        )
        return valid, viols, cond

    def _k_items(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.ArrayType):
            return None
        start = len(schema.get("prefixItems") or [])
        valid, viols, cond = self._per_element(ctx, value, "/items", start=start)
        applies = ctx.col.isNotNull()
        if schema.get(_LEGACY_ADDITIONAL_ITEMS) and "prefixItems" in results:
            # rewritten 2019-09 additionalItems: discarded entirely when
            # the tuple items failed (the items annotation it depends on
            # is only set on success — reference legacy.py:76-85, 88-94)
            applies = applies & results["prefixItems"].valid
        return resolve_node(
            Compiled(
                F.when(applies, valid).otherwise(F.lit(True)),
                F.when(applies, viols).otherwise(empty_violations()),
                None if cond is None else F.when(applies, cond).otherwise(empty_violations()),
            )
        )

    def _contains_count(self, ctx: Ctx, schema: dict, results: dict) -> Column:
        # compiled ONCE per schema node and shared by contains /
        # maxContains / minContains through the sibling `results` dict —
        # Catalyst CSE does not dedupe lambda subtrees, so re-deriving
        # it per keyword would triple the compiled expression
        cached = results.get("__contains_count__")
        if cached is not None:
            return cached
        sub = schema["contains"]

        def pred(x: Column, i: Column) -> Column:
            cctx = ctx.element(x, i)
            return self.apply(sub, _replace(cctx, no_trace=True)).valid

        count = F.size(F.filter(ctx.col, lambda x, i: pred(x, i)))
        results["__contains_count__"] = count
        return count

    def _k_contains(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.ArrayType):
            return None
        count = self._contains_count(ctx, schema, results)
        min_c = schema.get("minContains", 1)
        # minContains: 0 rescues a failed contains (validation.py:205-208)
        pred = count >= 1 if min_c != 0 else F.lit(True)
        return leaf(ctx, "contains", pred, "the array must contain a matching item")

    def _k_maxContains(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.ArrayType) or "contains" not in schema:
            return None
        count = self._contains_count(ctx, schema, results)
        return leaf(ctx, "maxContains", count <= value, f"too many matching items (maxContains {value})")

    def _k_minContains(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.ArrayType) or "contains" not in schema:
            return None
        count = self._contains_count(ctx, schema, results)
        return leaf(ctx, "minContains", count >= value, f"too few matching items (minContains {value})")

    # -- in-place applicators ----------------------------------------------

    def _branches(self, ctx: Ctx, kw: str, subs: list) -> list[Compiled]:
        out = []
        for i, sub in enumerate(subs):
            bctx = _replace(ctx, spath=ctx.spath + f"/{kw}/{i}", depth=ctx.depth + 1)
            out.append(self.apply(sub, bctx))
        return out

    def _k_allOf(self, value, schema, ctx: Ctx, results) -> Compiled:
        # each branch gets its OWN subresult node (applicator.py:34 —
        # `with result(instance, str(index))`), so a branch's pending
        # noassert-if viols resolve under THAT BRANCH's outcome: a
        # passing branch's failed `if` is never reported, even when a
        # sibling branch fails the allOf
        return combine([resolve_node(b) for b in self._branches(ctx, "allOf", value)])

    def _k_anyOf(self, value, schema, ctx: Ctx, results) -> Compiled:
        # per-branch subresult nodes (applicator.py:49) — see _k_allOf
        branches = [resolve_node(b) for b in self._branches(ctx, "anyOf", value)]
        valid = branches[0].valid
        for b in branches[1:]:
            valid = valid | b.valid
        # failing-branch details surface only when the whole anyOf fails
        viols = F.when(
            ~valid,
            concat_viols(
                F.array(make_violation(ctx, "anyOf", "the instance must validate against at least one subschema")),
                *[b.viols for b in branches],
            ),
        ).otherwise(empty_violations())
        return Compiled(valid, viols)

    def _k_oneOf(self, value, schema, ctx: Ctx, results) -> Compiled:
        # per-branch subresult nodes (applicator.py:65) — see _k_allOf
        branches = [resolve_node(b) for b in self._branches(ctx, "oneOf", value)]
        n = branches[0].valid.cast("int")
        for b in branches[1:]:
            n = n + b.valid.cast("int")
        valid = n == 1
        viols = F.when(
            ~valid,
            concat_viols(
                F.array(make_violation(ctx, "oneOf", "the instance must validate against exactly one subschema")),
                *[b.viols for b in branches],
            ),
        ).otherwise(empty_violations())
        return Compiled(valid, viols)

    def _k_not(self, value, schema, ctx: Ctx, results) -> Compiled:
        # negate_result: the subschema evaluates into the `not` result
        # node itself in the reference (applicator.py:77-86), so output
        # walks see the flipped validity at "/not"
        nctx = _replace(
            ctx, spath=ctx.spath + "/not", depth=ctx.depth + 1, negate_result=True
        )
        c = self.apply(value, nctx)
        valid = ~c.valid
        # on failure (subschema PASSED), the walk descends into the
        # subschema's keyword results — all valid except noassert `if`
        # subtrees, whose pending viols (c.cond) surface here: the not
        # node IS their nearest result node, invalid exactly when the
        # subschema passed
        viols = F.when(
            ~valid,
            concat_viols(
                F.array(make_violation(ctx, "not", "the instance must not validate against the subschema")),
                c.viols,
                c.cond,
            ),
        ).otherwise(empty_violations())
        return Compiled(valid, viols)

    def _k_if(self, value, schema, ctx: Ctx, results) -> Compiled:
        ictx = _replace(ctx, spath=ctx.spath + "/if", depth=ctx.depth + 1)
        return self.apply(value, ictx)  # never asserts (applicator.py:89-94)

    def _k_then(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if "if" not in results:
            return None
        cond = results["if"].valid
        tctx = _replace(ctx, spath=ctx.spath + "/then", depth=ctx.depth + 1).with_applied(cond)
        c = self.apply(value, tctx)
        # unapplied → discarded result node (applicator.py:105): nothing
        # reported; applied → this node resolves its subtree's pending
        # if-viols under its own (= the subschema's) validity
        inner = resolve_node(c).viols
        return Compiled(
            F.when(cond, c.valid).otherwise(F.lit(True)),
            F.when(cond, inner).otherwise(empty_violations()),
        )

    def _k_else(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if "if" not in results:
            return None
        cond = results["if"].valid
        ectx = _replace(ctx, spath=ctx.spath + "/else", depth=ctx.depth + 1).with_applied(~cond)
        c = self.apply(value, ectx)
        inner = resolve_node(c).viols
        return Compiled(
            F.when(~cond, c.valid).otherwise(F.lit(True)),
            F.when(~cond, inner).otherwise(empty_violations()),
        )

    def _k_dependentSchemas(self, value: dict, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, (T.StructType, T.MapType)):
            return None
        parts = []
        for name, sub in value.items():
            if isinstance(ctx.dtype, T.StructType) and name not in ctx.dtype.fieldNames():
                continue
            present = self._has_prop(ctx, name)
            dctx = _replace(
                ctx, spath=ctx.spath + f"/dependentSchemas/{escape_pointer(name)}", depth=ctx.depth + 1
            ).with_applied(present)
            c = self.apply(sub, dctx)
            # per-name subresult node (applicator.py:128)
            parts.append(gate_compiled(resolve_node(c), present))
        return combine(parts) if parts else None

    # -- references --------------------------------------------------------

    def _site_base(self, ctx: Ctx) -> Optional[str]:
        return ctx.scope[-1] if ctx.scope else None

    def _k_ref(self, value, schema, ctx: Ctx, results, refkw: str = "$ref") -> Compiled:
        # ``refkw`` names the path segment: $dynamicRef keeps ITS keyword
        # name in keywordLocation even when it degrades to plain-$ref
        # behavior (non-bookended target / no carrier — the reference's
        # Result node is still the $dynamicRef keyword's; r4 dyn-fuzz
        # seeds 16/30)
        target, spath = self.resolve_ref(value, self._site_base(ctx))
        rctx = _replace(
            ctx,
            spath=self._target_spath(ctx, target, spath, refkw),
            depth=ctx.depth + 1,
            via_ref=True,
        )
        self._record_ref_site(rctx.spath, target, spath)
        # the $ref node is a result node (target keywords attach to it,
        # RefKeyword.evaluate core.py:82-103): resolve the target's
        # pending if-viols under the ref outcome's own gate
        return resolve_node(self.apply(target, rctx))

    def _record_ref_site(self, dyn_spath: str, target: Any, spath: str) -> None:
        """Record dynamic-prefix → canonical-URI mapping for
        absoluteKeywordLocation translation (jschon/output.py:54-59:
        basic rows carry BOTH the dynamic keywordLocation and the
        canonical absoluteKeywordLocation). Keyed by the ref
        application's dynamic spath; value = the target's resource URI +
        '#' + its pointer WITHIN that resource. Deliberately not stored
        per violation row — at table scale the absolute location is
        derivable driver-side (CompiledSchema.absolute_keyword_location)
        or by a bounded longest-prefix expression (output.basic_output),
        so the shuffled violation payload stays 4 fields."""
        owner = self.enclosing_uri.get(id(target))
        if owner is None or owner == self.base_uri:
            res_spath = ""
            owner = self.base_uri
        else:
            _node, res_spath = self.registry.get(owner, (None, ""))
        self._ref_sites[dyn_spath] = owner + "#" + spath[len(res_spath):]

    def _k_dynamicRef(self, value, schema, ctx: Ctx, results) -> Compiled:
        """$dynamicRef: resolves like $ref, then rebinds to the
        $dynamicAnchor of the same name in the OUTERMOST resource of the
        dynamic scope (jschon/vocabulary/core.py:121-169). Because refs
        are inlined, the compile path IS the evaluation path, so
        ``ctx.scope`` (resources entered, outermost first) is the exact
        static image of jschon's runtime scope stack — multi-carrier
        cases (e.g. strict-tree extending tree) rebind correctly."""
        from jschon_spark.compiler.legacy import _RECURSIVE_NAME

        _, frag = urldefrag(urljoin(self._site_base(ctx) or self.base_uri, value))
        cands = self.dynamic_anchors.get(frag, []) if frag else []
        if not cands:
            if frag == _RECURSIVE_NAME:
                # rewritten $recursiveRef:"#" with no $recursiveAnchor
                # carrier anywhere → plain self-reference (legacy.py:15-52)
                return self._k_ref("#", schema, ctx, results, refkw="$dynamicRef")
            # no dynamic anchor of that name → plain $ref behavior
            return self._k_ref(value, schema, ctx, results, refkw="$dynamicRef")
        # BOOKENDING (2020-12 §8.2.3.2): resolve the initial target like
        # $ref; only rebind through the dynamic scope if that target is
        # itself the $dynamicAnchor carrier, and when no scope resource
        # carries the anchor, use the INITIAL target — never an
        # arbitrary document-order carrier.
        # an unresolvable INITIAL target is a schema error — the
        # reference raises at resolve time (vocabulary/core.py
        # DynamicRefKeyword.resolve); do not mask it by binding an
        # arbitrary document-order carrier. Exception: the rewritten
        # 2019-09 $recursiveRef, whose semantics when the CURRENT
        # resource root lacks $recursiveAnchor are a plain ref to the
        # resource root (legacy.py:15-151 in the reference).
        try:
            init_target, init_spath = self.resolve_ref(value, self._site_base(ctx))
        except CompileError:
            if frag == _RECURSIVE_NAME:
                return self._k_ref("#", schema, ctx, results, refkw="$dynamicRef")
            raise
        target, spath = init_target, init_spath
        if isinstance(init_target, dict) and init_target.get("$dynamicAnchor") == frag:
            for uri in ctx.scope:  # outermost resource wins
                hit = self.dynamic_in_resource.get((uri, frag))
                if hit is not None:
                    target, spath = hit
                    break
        rctx = _replace(
            ctx,
            spath=self._target_spath(ctx, target, spath, "$dynamicRef"),
            depth=ctx.depth + 1,
            via_ref=True,
        )
        self._record_ref_site(rctx.spath, target, spath)
        return resolve_node(self.apply(target, rctx))

    # -- format (annotate-only unless enabled; format.py:14-32) ------------

    def _k_format(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not self._asserts_formats_at(ctx):
            return None
        fn = self.format_validators.get(value)
        if fn is None:
            return None  # unknown formats annotate only
        if not isinstance(ctx.dtype, T.StringType):
            # every defined 2020-12 format targets strings: a
            # non-string instance passes vacuously (the reference's
            # validators are type-scoped — format.py:34-45)
            return None
        return leaf(ctx, "format", fn(ctx), f"the value must be a valid {value!r}")

    # -- unevaluated* (static closure; SURVEY §2.2, applicator.py:190-365) --

    def _coverage_sources(
        self,
        schema: dict,
        scope: tuple = (),
        _seen: Optional[set[int]] = None,
        _guards: tuple = (),
    ) -> list[tuple[list[tuple[Any, bool]], Any]]:
        """(guards, subschema) pairs whose annotations can cover
        properties/items at this node: self + all in-place applicators,
        RECURSIVELY (annotations bubble up through nested combinators —
        an allOf inside an allOf still contributes). ``guards`` is a
        conjunction of (guard_schema, negate) pairs that must ALL hold
        at runtime for the source's annotations to be collected —
        mirroring jschon's rule that annotations flow only from *valid*
        results (jsonschema.py:515-524, applicator.py:97-116):
        anyOf branches guard on the branch itself succeeding; allOf /
        oneOf / dependentSchemas branches guard on the APPLICATOR
        NODE's own validity (a synthetic one-keyword schema: jschon
        prunes the whole subtree at an invalid /allOf or double-match
        /oneOf node even when this branch passed — jsonschema.py:518);
        `then` guards on `if` AND `then` succeeding; `else` on `if`
        failing (negate) AND `else` succeeding; dependentSchemas[name]
        additionally guards on the property being present (encoded as
        a {"required": [name]} guard schema).

        `not` DOES contribute: the reference evaluates the subschema
        into the /not result node itself and then inverts only that
        node's validity (applicator.py:77-86), so when `not` PASSES
        (inner failed) the inner schema's individually-valid keyword
        nodes still annotate — e.g. {"not": {"additionalProperties":
        true, "dependentRequired": ...}} covers every property
        whenever the dependentRequired fails. The inner schema is a
        source guarded on ITSELF failing (negate=True); consumers must
        then gate each keyword's own node validity (see
        _source_needs_kw_gate). The _seen stack guards $ref cycles
        without blocking re-visits via different branches."""
        top_key = None
        if _seen is None and not _guards:
            top_key = (id(schema), scope)
            hit = self._coverage_cache.get(top_key)
            if hit is not None:
                return hit[1]
        if _seen is None:
            _seen = set()
        if not isinstance(schema, dict) or id(schema) in _seen:
            return []
        # entering a new schema resource ($ref target / nested $id node /
        # interior node of another document) pushes its URI onto the
        # compile-time scope, exactly mirroring apply() — without this,
        # relative refs inside a referenced resource would resolve
        # against the REFERRER's base and coverage could be taken from
        # the wrong document
        res_uri = self._node_scope_uri(schema)
        if res_uri is not None and (not scope or scope[-1] != res_uri):
            scope = scope + (res_uri,)
        _seen.add(id(schema))
        try:
            out: list[tuple[list[tuple[Any, bool]], Any]] = [(list(_guards), schema)]
            for kw in ("allOf", "anyOf", "oneOf"):
                subs = schema.get(kw) or []
                for sub in subs:
                    if kw == "anyOf":
                        # branch validity implies the anyOf node passed
                        g = _guards + ((sub, False),)
                    elif kw == "allOf":
                        # the /allOf node fails when ANY branch fails and
                        # then contributes nothing, even from valid
                        # branches; node validity implies branch validity
                        g = _guards + (({"allOf": subs}, False),)
                    else:
                        # /oneOf double-match: node invalid, both valid
                        # branches pruned — need node AND branch
                        g = _guards + (({"oneOf": subs}, False), (sub, False))
                    out.extend(self._coverage_sources(sub, scope, _seen, g))
            if isinstance(schema.get("not"), dict):
                sub = schema["not"]
                out.extend(
                    self._coverage_sources(sub, scope, _seen, _guards + ((sub, True),))
                )
            if "if" in schema:
                if_s = schema["if"]
                out.extend(self._coverage_sources(if_s, scope, _seen, _guards + ((if_s, False),)))
                if "then" in schema:
                    out.extend(
                        self._coverage_sources(
                            schema["then"], scope, _seen,
                            _guards + ((if_s, False), (schema["then"], False)),
                        )
                    )
                if "else" in schema:
                    out.extend(
                        self._coverage_sources(
                            schema["else"], scope, _seen,
                            _guards + ((if_s, True), (schema["else"], False)),
                        )
                    )
            dep = schema.get("dependentSchemas") or {}
            for name, sub in dep.items():
                # /dependentSchemas node validity = ALL applicable deps
                # valid (a failed sibling dep prunes this one's
                # annotations too); applicability of THIS dep = the
                # instance IS AN OBJECT carrying the name. The explicit
                # "type":"object" matters: bare required/dependentSchemas
                # guards are vacuously VALID on arrays, which wrongly let
                # a dep-sourced nested unevaluatedItems cover array
                # elements jschon never evaluates (ref-fuzz seed 3;
                # DependentSchemasKeyword is object-scoped,
                # applicator.py instance_types)
                out.extend(
                    self._coverage_sources(
                        sub, scope, _seen,
                        _guards + (
                            ({"type": "object", "required": [name]}, False),
                            ({"dependentSchemas": dep}, False),
                        ),
                    )
                )
            for refkw in ("$ref", "$dynamicRef"):
                if refkw in schema:
                    target = self._resolve_source_ref(refkw, schema[refkw], scope)
                    # the reference evaluates the target into the /$ref
                    # result node, so the target's annotations are
                    # pruned when the TARGET fails (collect_annotations
                    # walks only valid nodes) — guard on it
                    out.extend(
                        self._coverage_sources(
                            target, scope, _seen, _guards + ((target, False),)
                        )
                    )
        finally:
            _seen.discard(id(schema))
        if top_key is not None:
            # value holds `schema` so the keyed id stays valid, and the
            # result list so synthesized guard dicts stay alive/stable
            self._coverage_cache[top_key] = (schema, out)
        return out

    def _resolve_source_ref(self, refkw: str, value: str, scope: tuple = ()) -> Any:
        """Resolve a $ref/$dynamicRef for annotation-coverage purposes
        (same targets _k_ref/_k_dynamicRef would inline)."""
        site_base = scope[-1] if scope else None
        if refkw == "$dynamicRef":
            _, frag = urldefrag(urljoin(site_base or self.base_uri, value))
            cands = self.dynamic_anchors.get(frag, []) if frag else []
            if cands:
                # unresolvable initial target raises, mirroring
                # _k_dynamicRef (with the same 2019-09 $recursiveRef
                # resource-root fallback)
                from jschon_spark.compiler.legacy import _RECURSIVE_NAME

                try:
                    init_target, _ = self.resolve_ref(value, site_base)
                except CompileError:
                    if frag == _RECURSIVE_NAME:
                        target, _ = self.resolve_ref("#", site_base)
                        return target
                    raise
                # bookending, mirroring _k_dynamicRef
                if isinstance(init_target, dict) and init_target.get("$dynamicAnchor") == frag:
                    for uri in scope:  # outermost resource wins
                        hit = self.dynamic_in_resource.get((uri, frag))
                        if hit is not None:
                            return hit[0]
                return init_target
        target, _ = self.resolve_ref(value, site_base)
        return target

    @staticmethod
    def _source_needs_kw_gate(guards: list[tuple[Any, bool]], src: Any, schema: Any) -> bool:
        """True when the source's own overall success is NOT implied by
        its guards, so each covering keyword's node validity must be
        checked individually: the self source (its guards are empty —
        siblings prune per-keyword, jsonschema.py:518) and a
        `not`-inner source (guarded on itself FAILING: the /not node is
        valid precisely because the inner schema failed overall, yet
        its individually-valid keyword nodes still annotate,
        applicator.py:77-86)."""
        if src is schema:
            return True
        return bool(guards) and guards[-1][1] and guards[-1][0] is src

    def _guard_cond(self, ctx: Ctx, guards: list[tuple[Any, bool]]) -> Column:
        """Runtime conjunction of a coverage source's guards. Guard
        re-applications keep the parent's spath, so they must not claim
        its verbose-trace slot (no_trace)."""
        cond = F.lit(True)
        for guard, negate in guards:
            key = (id(guard), id(ctx.col), ctx.scope)
            hit = self._reapply_cache.get(key)
            if hit is None:
                gctx = _replace(ctx, depth=ctx.depth + 1, no_trace=True)
                g = self.apply(guard, gctx).valid
                if self._staged and not ctx.no_trace:
                    # the re-application tree embeds once PER FIELD via
                    # the cache — spill it so each embedding is a column
                    # ref. no_trace blocks materialization inside the
                    # guard subtree, so its expression references only
                    # base columns → stage 0 is always valid.
                    g = self._spill(g, 0, "g")
                    self._expr_stage = max(self._expr_stage, 1)
                # hold guard AND col so neither keyed id can be recycled
                # while the entry lives (Columns are transient per-apply)
                self._reapply_cache[key] = (guard, ctx.col, g)
            else:
                g = hit[2]
                if self._staged and not ctx.no_trace and self._stages:
                    self._expr_stage = max(self._expr_stage, 1)
            cond = cond & (~g if negate else g)
        return cond

    def _kw_valid(self, kw: str, src: dict, ctx: Ctx) -> Column:
        """Validity of source-keyword ``kw`` as applied at ``ctx`` —
        the result-tree node whose annotation unevaluated* coverage
        consumes. collect_annotations prunes INVALID nodes
        (jsonschema.py:515-524), so a failed prefixItems/items/
        properties application contributes NO coverage even though its
        subschemas ran. Only needed for the SELF source: for branch /
        ref sources the (subschema, False) guard already implies every
        asserting keyword in it passed."""
        key = (id(src), id(ctx.col), ctx.scope, kw)
        cached = self._reapply_cache.get(key)
        if cached is not None:
            if self._staged and not ctx.no_trace and self._stages:
                self._expr_stage = max(self._expr_stage, 1)
            return cached[2]
        handler = getattr(self, "_k_" + kw)
        gctx = _replace(ctx, depth=ctx.depth + 1, no_trace=True)
        out = handler(src[kw], src, gctx, {})
        v = F.lit(True) if out is None else F.coalesce(out.valid, F.lit(True))
        if self._staged and not ctx.no_trace:
            # embedded per covered field like _guard_cond's trees; the
            # no_trace re-application references only base columns
            v = self._spill(v, 0, "k")
            self._expr_stage = max(self._expr_stage, 1)
        self._reapply_cache[key] = (src, ctx.col, v)
        return v

    def _k_unevaluatedProperties(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        if not isinstance(ctx.dtype, T.StructType):
            if isinstance(ctx.dtype, T.MapType):
                return self._unevaluated_props_map(value, schema, ctx)
            return None
        parts = []
        for f in ctx.dtype.fields:
            covered = self._prop_covered(schema, ctx, f.name)
            child_ctx = ctx.field(f.name)
            child_ctx = _replace(child_ctx, spath=ctx.spath + "/unevaluatedProperties")
            c = self.apply(value, child_ctx)
            applies = self._has_prop(ctx, f.name) & ~covered
            parts.append(gate_compiled(c, applies))
        return resolve_node(combine(parts)) if parts else None

    def _unevaluated_props_map(self, value, schema: dict, ctx: Ctx) -> Compiled:
        """unevaluatedProperties over an open MapType column: the key
        set is dynamic, but each coverage source's key predicate is
        static (property-name membership / pattern match /
        additionalProperties covering the rest), so coverage is a
        per-entry Column gated on the source's runtime guard — the map
        analogue of applicator.py:333-365."""
        # (cond, mode, names, pats): one entry per contributing KEYWORD,
        # each gated on that keyword's own application validity for the
        # self source (collect_annotations prunes invalid nodes) —
        # 'additional' covers the complement of the SOURCE's names+pats
        sources: list[tuple[Column, str, list[str], list[str]]] = []
        for guards, src in self._coverage_sources(schema, ctx.scope):
            if not isinstance(src, dict):
                continue
            kw_gate = self._source_needs_kw_gate(guards, src, schema)
            cond = self._guard_cond(ctx, guards)

            def _kwv(kw: str, base=cond, s=src, own=kw_gate) -> Column:
                return base & self._kw_valid(kw, s, ctx) if own else base

            names = list((src.get("properties") or {}).keys())
            pats = list((src.get("patternProperties") or {}).keys())
            if names:
                sources.append((_kwv("properties"), "names", names, []))
            if pats:
                sources.append((_kwv("patternProperties"), "pats", [], pats))
            if "additionalProperties" in src:
                sources.append((_kwv("additionalProperties"), "additional", names, pats))
            if "unevaluatedProperties" in src and src is not schema:
                sources.append((_kwv("unevaluatedProperties"), "all", [], []))

        def covered_key(k: Column) -> Column:
            cov = F.lit(False)
            for cond, mode, names, pats in sources:
                if mode == "all":
                    here: Column = F.lit(True)
                elif mode == "additional":
                    here = F.lit(True)
                    if names:
                        here = here & ~k.isin(*names)
                    for p in pats:
                        here = here & ~k.rlike(p)
                else:
                    here = F.lit(False)
                    if names:
                        here = here | k.isin(*names)
                    for p in pats:
                        here = here | k.rlike(p)
                cov = cov | (cond & here)
            return cov

        vtype = ctx.dtype.valueType

        def child(e: Column) -> Compiled:
            cctx = ctx.child(
                e.getField("value"),
                vtype,
                F.concat(ctx.path, F.lit("/"), escape_pointer_col(e.getField("key"))),
                "/unevaluatedProperties",
            )
            return self.apply(value, _replace(cctx, no_trace=True))

        state: dict[str, bool] = {}

        def entry_struct(e: Column) -> Column:
            c = child(e)  # compile the subschema ONCE per entry
            state["has_cond"] = has_cond = c.cond is not None
            fields = [c.valid.alias("ok"), c.viols.alias("v")]
            pass_fields = [F.lit(True).alias("ok"), empty_violations().alias("v")]
            if has_cond:
                fields.append(c.cond.alias("cv"))
                pass_fields.append(empty_violations().alias("cv"))
            return F.when(
                ~F.coalesce(covered_key(e.getField("key")), F.lit(False)),
                F.struct(*fields),
            ).otherwise(F.struct(*pass_fields))

        per_entry = F.transform(F.map_entries(ctx.col), entry_struct)
        valid = F.coalesce(F.forall(per_entry, lambda s: s.getField("ok")), F.lit(True))
        viols = F.coalesce(
            F.flatten(F.transform(per_entry, lambda s: s.getField("v"))),
            empty_violations(),
        )
        applies = ctx.col.isNotNull()
        if state.get("has_cond"):
            cond = F.coalesce(
                F.flatten(F.transform(per_entry, lambda s: s.getField("cv"))),
                empty_violations(),
            )
            cond = F.when(applies, cond).otherwise(empty_violations())
        else:
            cond = None
        return resolve_node(
            Compiled(
                F.when(applies, valid).otherwise(F.lit(True)),
                F.when(applies, viols).otherwise(empty_violations()),
                cond,
            )
        )

    def _prop_covered(self, schema: dict, ctx: Ctx, name: str) -> Column:
        """Is property ``name`` annotated as evaluated by a sibling
        keyword or a *successful* in-place applicator branch? Branch
        success is runtime (Column); coverage within a branch is static.
        Mirrors collect_annotations (jschon/jsonschema.py:515-524)."""
        covered = F.lit(False)
        for guards, src in self._coverage_sources(schema, ctx.scope):
            if not isinstance(src, dict):
                continue
            kw_gate = self._source_needs_kw_gate(guards, src, schema)

            def _kwv(kw: str) -> Column:
                # keyword-node validity gates coverage for the self
                # source and for `not`-inner sources; branch/ref guards
                # subsume it elsewhere
                return self._kw_valid(kw, src, ctx) if kw_gate else F.lit(True)

            terms: list[Column] = []
            in_props = name in (src.get("properties") or {})
            if in_props:
                terms.append(_kwv("properties"))
            pat_hit = any(
                self._name_search(p, name) for p in (src.get("patternProperties") or {})
            )
            if pat_hit:
                terms.append(_kwv("patternProperties"))
            if "additionalProperties" in src and not in_props and not pat_hit:
                terms.append(_kwv("additionalProperties"))
            if "unevaluatedProperties" in src and src is not schema:
                terms.append(_kwv("unevaluatedProperties"))
            if not terms:
                continue
            term = terms[0]
            for t in terms[1:]:
                term = term | t
            covered = covered | (self._guard_cond(ctx, guards) & term)
        return covered

    def _k_unevaluatedItems(self, value, schema, ctx: Ctx, results) -> Optional[Compiled]:
        """Per-element annotation coverage (jschon/vocabulary/
        applicator.py:190-232): ``items``/nested ``unevaluatedItems``
        cover every element, ``prefixItems`` covers indices < len, and
        ``contains`` covers ONLY the elements its subschema matches
        (applicator.py:235-250) — each gated on its source's runtime
        guard (branch/if-then-else validity)."""
        if not isinstance(ctx.dtype, T.ArrayType):
            return None
        # a 2019-09 consumer never reads contains annotations — from ANY
        # source (reference legacy.py:114-137 collects only items /
        # additionalItems / unevaluatedItems)
        no_contains = bool(schema.get(_LEGACY_UNEV_NO_CONTAINS))
        all_covered = F.lit(False)  # whole-array coverage, hoisted out of the HOF
        partial: list[tuple[Column, int, Any]] = []  # (cond, n_prefix, contains_sub)
        for guards, src in self._coverage_sources(schema, ctx.scope):
            if not isinstance(src, dict):
                continue
            kw_gate = self._source_needs_kw_gate(guards, src, schema)
            n_prefix = len(src.get("prefixItems") or [])
            # a boolean-form 2019-09 `items` evaluates but NEVER
            # annotates (reference legacy.py:63-64) → no coverage
            has_items = "items" in src and not src.get(_LEGACY_BOOL_ITEMS)
            nested_unev = "unevaluatedItems" in src and src is not schema
            contains_sub = src["contains"] if "contains" in src and not no_contains else None
            if not has_items and not nested_unev and n_prefix == 0 and contains_sub is None:
                continue
            cond = self._guard_cond(ctx, guards)
            # each keyword's annotation is pruned independently when
            # that keyword's own application failed (self and not-inner
            # sources — branch guards already imply keyword success)
            if has_items:
                c = cond & self._kw_valid("items", src, ctx) if kw_gate else cond
                if kw_gate and src.get(_LEGACY_ADDITIONAL_ITEMS) and n_prefix > 0:
                    # rewritten 2019-09 additionalItems: discarded (no
                    # annotation → no coverage) when the tuple failed
                    c = c & self._kw_valid("prefixItems", src, ctx)
                # items annotates True only when it actually evaluated
                # an element beyond the source's prefix — a VACUOUSLY
                # valid items (array no longer than the prefix) leaves
                # annotation None (applicator.py:174-187 loop never
                # runs; 2019-09 legacy.py:60-61 empty-array return)
                c = c & (F.size(ctx.col) > F.lit(n_prefix))
                all_covered = all_covered | c
            if nested_unev:
                c = cond & self._kw_valid("unevaluatedItems", src, ctx) if kw_gate else cond
                # same vacuity rule: annotates True only having
                # evaluated ≥1 element (applicator.py:218-232)
                c = c & (F.size(ctx.col) > 0)
                all_covered = all_covered | c
            if n_prefix > 0:
                c = cond & self._kw_valid("prefixItems", src, ctx) if kw_gate else cond
                partial.append((c, n_prefix, None))
            if contains_sub is not None:
                c = cond & self._kw_valid("contains", src, ctx) if kw_gate else cond
                partial.append((c, 0, contains_sub))

        def skip_fn(x: Column, i: Column) -> Column:
            cov = F.lit(False)
            for cond, n_prefix, contains_sub in partial:
                here = F.lit(False)
                if n_prefix > 0:
                    here = here | (i < F.lit(n_prefix))
                if contains_sub is not None:
                    ectx = ctx.element(x, i)
                    ectx = _replace(ectx, spath=ctx.spath + "/contains", no_trace=True)
                    here = here | F.coalesce(self.apply(contains_sub, ectx).valid, F.lit(False))
                cov = cov | (cond & here)
            return cov

        valid_elems, viols_elems, cond_elems = self._per_element(
            ctx, value, "/unevaluatedItems", skip_fn=skip_fn if partial else None
        )
        applies = ctx.col.isNotNull() & ~all_covered
        return resolve_node(
            Compiled(
                F.when(applies, valid_elems).otherwise(F.lit(True)),
                F.when(applies, viols_elems).otherwise(empty_violations()),
                None
                if cond_elems is None
                else F.when(applies, cond_elems).otherwise(empty_violations()),
            )
        )


# -- built-in format validators (reference ships only json-pointer,
#    jschon/formats.py:5-9; the rest follow the 2020-12 format registry) ----

_JSON_POINTER_RE = r"^(/([^/~]|~[01])*)*$"


def _fmt_regex(pattern: str) -> Callable[[Ctx], Column]:
    def fn(ctx: Ctx) -> Column:
        return ctx.col.rlike(pattern)

    return fn


# RFC 3339 time with the leap-second CONTEXT rule: a :60 seconds field
# is only valid when the time, normalized to UTC by its offset, reads
# 23:59:60 (suite optional/format/time.json probes all four wrong-
# hour/wrong-minute × offset combinations)
_TIME_SHAPE_RE = (
    r"([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9]|60)(\.[0-9]+)?"
    r"([Zz]|[+-]([01][0-9]|2[0-3]):[0-5][0-9])"
)


def _time_valid(col: Column) -> Column:
    """RFC 3339 full-time validity of a string Column (shape + leap-
    second context). Pure Column expression — JVM-side, codegen-able."""
    shape = col.rlike("^" + _TIME_SHAPE_RE + "$")
    is_leap = col.rlike("^[0-9]{2}:[0-9]{2}:60")
    hh = F.substring(col, 1, 2).cast("int")
    mm = F.substring(col, 4, 2).cast("int")
    sign = F.regexp_extract(col, r"([+-])[0-9]{2}:[0-9]{2}$", 1)
    ohh = F.regexp_extract(col, r"[+-]([0-9]{2}):[0-9]{2}$", 1)
    omm = F.regexp_extract(col, r"[+-][0-9]{2}:([0-9]{2})$", 1)
    offmin = F.when(sign == "", F.lit(0)).otherwise(
        F.when(sign == "-", F.lit(-1)).otherwise(F.lit(1))
        * (ohh.cast("int") * 60 + omm.cast("int"))
    )
    utc_min = F.pmod(hh * 60 + mm - offmin, F.lit(24 * 60))
    leap_ok = utc_min == F.lit(23 * 60 + 59)
    return shape & (~is_leap | leap_ok)


def _datetime_valid(ctx: Ctx) -> Column:
    """RFC 3339 date-time: strict yyyy-MM-dd date (try_to_timestamp
    refuses impossible calendar days), [Tt] separator, and the same
    full-time logic as `time` — including :60 leap seconds, which the
    bare timestamp parser would refuse."""
    col = ctx.col
    date_part = F.regexp_extract(col, r"^([0-9]{4}-[0-9]{2}-[0-9]{2})[Tt]", 1)
    time_part = F.regexp_extract(col, r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[Tt](.*)$", 1)
    date_ok = (date_part != F.lit("")) & F.try_to_timestamp(
        date_part, F.lit("yyyy-MM-dd")
    ).isNotNull()
    return date_ok & _time_valid(time_part)


def _ipv6_regex() -> str:
    """RFC 4291 §2.2: full/compressed hex forms plus embedded-IPv4
    tails in EVERY legal position (after a full 6-group prefix, or
    around a :: compression with before+after ≤ 5 groups — the
    compression stands for at least one zero group). DELTA: RFC 6874
    zone IDs ("fe80::1%eth0") are rejected, as the suite expects."""
    h = "[0-9A-Fa-f]{1,4}"
    v4 = r"((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
    alts = [
        f"({h}:){{7}}{h}",  # 8 groups
        f"({h}:){{1,7}}:",  # trailing ::
        f"({h}:){{1,6}}:{h}",
        f"({h}:){{1,5}}(:{h}){{1,2}}",
        f"({h}:){{1,4}}(:{h}){{1,3}}",
        f"({h}:){{1,3}}(:{h}){{1,4}}",
        f"({h}:){{1,2}}(:{h}){{1,5}}",
        f"{h}:(:{h}){{1,6}}",
        f":((:{h}){{1,7}}|:)",  # leading :: / bare ::
        f"({h}:){{6}}{v4}",  # full prefix + IPv4 tail
    ]
    # compressed + IPv4 tail: b groups before ::, m after, b+m <= 5
    for b in range(0, 6):
        m_max = 5 - b
        pre = f"({h}:){{{b - 1}}}{h}" if b > 1 else (h if b == 1 else "")
        mid = f"({h}:){{0,{m_max}}}" if m_max else ""
        alts.append(f"{pre}::{mid}{v4}")
    return "^(" + "|".join(alts) + ")$"


# pragmatic RFC 5321 mailbox: dot-atom or quoted-string local part,
# hostname-shaped domain or [IPv4]/[IPv6:...] address literal.
# DELTAS: domain label length (63) unchecked; IPv6 literal tails are
# shape-checked only ([IPv6:hex/colon/dot chars]).
_EMAIL_ATEXT = r"[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]"
_EMAIL_LABEL = r"[A-Za-z0-9]([A-Za-z0-9-]*[A-Za-z0-9])?"
_EMAIL_V4 = r"((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"
_EMAIL_RE = (
    "^("
    f"{_EMAIL_ATEXT}+(\\.{_EMAIL_ATEXT}+)*"  # dot-atom
    '|"([^"\\\\]|\\\\.)*"'  # quoted-string
    ")@("
    f"{_EMAIL_LABEL}(\\.{_EMAIL_LABEL})*"  # domain
    f"|\\[{_EMAIL_V4}\\]"  # IPv4 address literal
    r"|\[IPv6:[0-9A-Fa-f:.]+\]"  # IPv6 address literal (shape)
    ")$"
)

_BUILTIN_FORMATS: dict[str, Callable[[Ctx], Column]] = {
    "json-pointer": _fmt_regex(_JSON_POINTER_RE),
    "relative-json-pointer": _fmt_regex(r"^(0|[1-9][0-9]*)([+-](0|[1-9][0-9]*))?(#|(/([^/~]|~[01])*)*)$"),
    "date": lambda ctx: F.try_to_timestamp(ctx.col, F.lit("yyyy-MM-dd")).isNotNull(),
    "date-time": _datetime_valid,
    "time": lambda ctx: _time_valid(ctx.col),
    # at least one element required; T requires a following time element
    # (suite: "P", "PT", "P1DT" are all invalid)
    "duration": _fmt_regex(
        r"^P(?=[0-9TW])(([0-9]+Y)?([0-9]+M)?([0-9]+D)?(T(?=[0-9])([0-9]+H)?([0-9]+M)?([0-9]+(\.[0-9]+)?S)?)?|[0-9]+W)$"
    ),
    # exact RFC octet grammar; leading-zero octets rejected (the suite
    # treats them as ambiguous octal, optional/format/ipv4.json)
    "ipv4": _fmt_regex(r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"),
    "ipv6": _fmt_regex(_ipv6_regex()),
    "hostname": _fmt_regex(
        r"^(?=.{1,253}$)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
        r"(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$"
    ),
    # pragmatic RFC 3986 shape: scheme + no whitespace. DELTAS: does not
    # reject characters RFC 3986 forbids unescaped (<, >, ", {, }) and
    # does not check %-escape well-formedness; correctly rejects
    # relative references (no scheme) and embedded spaces.
    "uri": _fmt_regex(r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s]*$"),
    # DELTA: any whitespace-free string passes (RFC 3986 reference
    # grammar not enforced) — the reference ships no uri validator at
    # all (jschon/formats.py:5-9), so this errs the same direction
    "uri-reference": _fmt_regex(r"^[^\s]*$"),
    "uuid": _fmt_regex(r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
    "email": _fmt_regex(_EMAIL_RE),
    # idn-email: same pragmatic shape check — the char classes are
    # negated, so non-ASCII local parts/domains already pass
    "idn-email": _fmt_regex(r"^[^@\s]+@[^@\s]+\.[^@\s]+$"),
    # iri / iri-reference: the scheme is ASCII, the rest admits
    # non-ASCII (Java regex [^\s] is unicode-aware)
    "iri": _fmt_regex(r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s]*$"),
    "iri-reference": _fmt_regex(r"^[^\s]*$"),
}

# Python-backed validators (Arrow-batched; see formats.py limitations)
from jschon_spark.compiler.formats import is_idn_hostname, is_regex, python_format  # noqa: E402

_BUILTIN_FORMATS["regex"] = python_format(is_regex)
_BUILTIN_FORMATS["idn-hostname"] = python_format(is_idn_hostname)


@dataclass(frozen=True, eq=False)  # Column == Column builds an expression
class Plan:
    """One compile of a schema at one instance Column: the root node's
    ``valid``/``viols`` Columns plus everything the compile recorded.

    ``stages`` holds the staged-materialization temps as ((name,
    Column), ...) per stage, in replay order; ``trace_entries`` the
    sorted (spath, entry) pairs of a traced compile; ``custom_annotations``
    the active custom-keyword annotations per spath; ``ref_sites`` the
    dynamic ref-application spath → canonical URI map behind
    absoluteKeywordLocation."""

    valid: Column
    viols: Column
    stages: tuple
    trace_entries: tuple
    custom_annotations: Mapping[str, list]
    ref_sites: Mapping[str, str]

    def replay(self, df: DataFrame) -> DataFrame:
        """``df`` plus the stage temps, one ``withColumns`` projection
        per stage: stage k references only base columns and earlier
        temps, and each projection stays within ``STAGE_THRESHOLD``-ish
        expression weight, which keeps Catalyst analysis linear in
        schema size. Select or drop the temps afterwards."""
        for stage in self.stages:
            df = df.withColumns(dict(stage))
        return df

    def drop_temps(self, df: DataFrame) -> DataFrame:
        names = [name for stage in self.stages for name, _ in stage]
        return df.drop(*names) if names else df


def row_instance(df: DataFrame, cols: list[str]) -> tuple[T.StructType, Column]:
    """(static type, Column) of the instance a row presents: the struct
    of ``cols``. Catalyst's SimplifyExtractValueOps collapses
    struct(cols).getField back to the raw columns, so parquet column
    pruning is preserved."""
    dtype = T.StructType([df.schema[c] for c in cols])
    return dtype, F.struct(*[F.col(c).alias(c) for c in cols])


class CompiledSchema:
    """A compiled schema document, applicable to typed DataFrames.

    ≙ a cached ``JSONSchema`` in the reference's catalog
    (jschon/catalog/__init__.py:281-297); compile once, validate many.
    ``plan(dtype, col)`` returns a frozen :class:`Plan` built on fresh
    per-call state, so every ``validate()`` behaves the same whatever
    ran before, long-lived instances do not grow, and one instance can
    be shared across threads.
    """

    def __init__(self, schema: Any, assert_formats: bool = False, **kw):
        self.compiler = Compiler(schema, assert_formats=assert_formats, **kw)
        # the compiler's root is the legacy-normalized document — use it
        # so tuple-form items etc. compile in their 2020-12 spelling
        self.schema = self.compiler.root
        # union of the ref sites of every plan built so far (bounded by
        # the schema: one entry per dynamic ref-application path);
        # None until the first plan
        self._ref_sites: Optional[dict[str, str]] = None
        self._lock = threading.Lock()

    def _plan(self, dtype: T.DataType, col: Column, trace: bool, staged: bool) -> Plan:
        ctx = Ctx(col=col, dtype=dtype, path=F.lit(""), spath="")
        plan = self.compiler.plan(self.schema, ctx, trace=trace, staged=staged)
        with self._lock:
            self._ref_sites = {**(self._ref_sites or {}), **plan.ref_sites}
        return plan

    def plan(self, dtype: T.DataType, col: Column, *, trace: bool = False) -> Plan:
        """Staged :class:`Plan` of the schema applied to ``col`` (static
        type ``dtype``): ``plan.replay(df)`` adds the stage temps, then
        select ``plan.valid``/``plan.viols``. ``trace`` also records the
        per-node entries the verbose/audit/annotation outputs read."""
        return self._plan(dtype, col, trace, staged=True)

    def columns(self, dtype: T.DataType, col: Column) -> Compiled:
        """Unstaged valid/viols Columns that select standalone — for
        expression-only callers; deep schemas should use ``plan``."""
        plan = self._plan(dtype, col, trace=False, staged=False)
        return Compiled(plan.valid, plan.viols)

    @property
    def ref_sites(self) -> Mapping[str, str]:
        """Dynamic ref-application spath → canonical URI, from the plans
        built so far."""
        sites = self._ref_sites
        if sites is None:
            raise RuntimeError(
                "absolute keyword locations come from the ref sites a plan "
                "records, and this CompiledSchema has built no plan yet: "
                "call validate(), plan() or columns() first"
            )
        return MappingProxyType(sites)

    def absolute_keyword_location(self, keyword_path: str) -> str:
        """Reference absoluteKeywordLocation for a violation's dynamic
        keyword_path (jschon/output.py:54-59): resource canonical URI +
        '#' + pointer within that resource. The longest recorded
        ref-site prefix wins; paths with no ref traversal are
        document-rooted under the root resource URI. Raises
        RuntimeError before any plan has been built."""
        sites = self.ref_sites
        best = max(
            (p for p in sites if keyword_path == p or keyword_path.startswith(p + "/")),
            key=len,
            default=None,
        )
        if best is None:
            return self.compiler.base_uri + "#" + keyword_path
        return sites[best] + keyword_path[len(best):]

    def validate(
        self,
        df: DataFrame,
        instance_columns: Optional[list[str]] = None,
        valid_col: str = "valid",
        violations_col: str = "violations",
    ) -> DataFrame:
        """Append ``valid`` + ``violations`` columns; the row (or the
        selected columns) is the instance object."""
        plan = self.plan(*row_instance(df, instance_columns or df.columns))
        out = (
            plan.replay(df)
            .withColumn(valid_col, plan.valid)
            .withColumn(violations_col, plan.viols)
        )
        return plan.drop_temps(out)


def compile_schema(schema: Any, assert_formats: bool = False, **kw) -> CompiledSchema:
    """Compile a JSON Schema (2020-12 semantics) into a reusable
    DataFrame validator."""
    return CompiledSchema(schema, assert_formats=assert_formats, **kw)
