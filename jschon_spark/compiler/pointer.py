"""JSON Pointer (RFC 6901) and Relative JSON Pointer over Spark columns.

≙ the reference's JSONPointer.evaluate (jschon/jsonpointer.py:187-221):
the walk compiles to chained ``getField``/``element_at`` on typed
columns, or to a ``get_json_object`` JSONPath on JSON-string columns.
RelativeJSONPointer (jsonpointer.py:276-392) is compile-time path
arithmetic — schemas and pointers are static, so up/over/ref never
exist at runtime.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


class PointerError(Exception):
    pass


def parse_pointer(pointer: str) -> list[str]:
    """RFC 6901 string → unescaped token list (escape rules
    jschon/jsonpointer.py:257-273)."""
    if pointer == "":
        return []
    if not pointer.startswith("/"):
        raise PointerError(f"pointer must start with '/': {pointer!r}")
    return [t.replace("~1", "/").replace("~0", "~") for t in pointer[1:].split("/")]


def format_pointer(tokens: list[str]) -> str:
    return "".join("/" + t.replace("~", "~0").replace("/", "~1") for t in tokens)


def pointer_get(col: Column, dtype: T.DataType, pointer: str) -> tuple[Column, T.DataType]:
    """Evaluate a JSON Pointer against a typed column: returns the
    addressed (column, type). Struct fields via getField, maps via
    try_element_at (missing → null), arrays via element_at with the
    0-based RFC 6901 index."""
    out, dt = col, dtype
    for tok in parse_pointer(pointer):
        if isinstance(dt, T.StructType):
            if tok not in dt.fieldNames():
                raise PointerError(f"no field {tok!r} under pointer prefix (schema is static)")
            out, dt = out.getField(tok), dt[tok].dataType
        elif isinstance(dt, T.MapType):
            out, dt = F.try_element_at(out, F.lit(tok)), dt.valueType
        elif isinstance(dt, T.ArrayType):
            if tok == "-":
                raise PointerError("'-' (append position) does not address an element")
            if not tok.isdigit():
                raise PointerError(f"array index must be digits: {tok!r}")
            # RFC 6901 is 0-based; element_at is 1-based
            out, dt = F.try_element_at(out, F.lit(int(tok) + 1)), dt.elementType
        else:
            raise PointerError(f"cannot descend into {dt} with token {tok!r}")
    return out, dt


def json_pointer_to_jsonpath(pointer: str) -> str:
    """RFC 6901 → JSONPath for get_json_object on JSON-string columns."""
    path = "$"
    for tok in parse_pointer(pointer):
        if tok.isdigit():
            path += f"[{tok}]"
        else:
            path += f"['{tok}']"
    return path


def json_pointer_get(json_col: Column, pointer: str) -> Column:
    """Pointer walk over a JSON STRING column (dynamic payloads):
    compiles to one get_json_object call.

    Documented delta vs the reference's JSONPointer.evaluate
    (jschon/jsonpointer.py:286-312): Hive JSONPath cannot address an
    EMPTY object key (``$['']`` returns null), so RFC 6901 pointers with
    empty tokens (``/``, ``//``) resolve to SQL null here instead of the
    value — pinned in tests/test_pointer_parity.py."""
    return F.get_json_object(json_col, json_pointer_to_jsonpath(pointer))


def relative_pointer(base: str, rel: str) -> str:
    """Apply a Relative JSON Pointer (up[±over]/ref) to a static base
    pointer (reference jschon/jsonpointer.py:358-392). Returns the new
    absolute pointer, or the final index/name for the '#' form."""
    tokens = parse_pointer(base)
    i = 0
    while i < len(rel) and rel[i].isdigit():
        i += 1
    if i == 0:
        raise PointerError(f"relative pointer must start with an up-count: {rel!r}")
    up = int(rel[:i])
    rest = rel[i:]
    if up > len(tokens):
        raise PointerError(f"cannot go up {up} from {base!r}")
    tokens = tokens[: len(tokens) - up] if up else tokens
    if rest.startswith(("+", "-")):
        j = 1
        while j < len(rest) and rest[j].isdigit():
            j += 1
        delta = int(rest[:j])
        if not tokens or not tokens[-1].lstrip("-").isdigit():
            raise PointerError("index adjustment requires an array-index position")
        tokens[-1] = str(int(tokens[-1]) + delta)
        rest = rest[j:]
    if rest == "#":
        if not tokens:
            raise PointerError("'#' of the document root is undefined")
        return tokens[-1]
    if rest == "":
        return format_pointer(tokens)
    if rest.startswith("/"):
        return format_pointer(tokens + parse_pointer(rest))
    raise PointerError(f"malformed relative pointer {rel!r}")
