"""JSONPath evaluator for the extended-path tier of json_extract.

Presto routes JSONPath patterns its fast tokenizer can't parse to the
Jayway JsonPath library (reference: presto-main-base/.../operator/scalar/
JsonPath.java:133-167 build() — buildPresto then buildJayway fallback;
JsonPathTokenizer.java handles only ``$.name`` / ``$['name']`` / ``$[0]``).
Spark's ``get_json_object`` covers the fast subset plus ``[*]``; this
module supplies Jayway's extra surface for the Python fallback tier:

* ``..name`` / ``..*``    recursive descent (preorder, document order)
* ``.*``                  object/array wildcard
* ``['name']``            bracket field access (names with spaces etc.)
* ``[-1]``                negative array index
* ``[0:2]``               array slices
* ``[?(@.f op lit)]``     filter predicates (==, !=, <=, >=, <, >) and
  ``[?(@.f)]`` existence filters

Jayway semantics reproduced (JsonPath.java jaywayExtract):

* definite path  → the single matched node, or None (PathNotFound→NULL)
* indefinite path (any wildcard/descent/slice/filter) → JSON array of
  every match, [] when nothing matches
* invalid JSON input → None
"""

from __future__ import annotations

import json
import re
from functools import lru_cache

_NAME_CHARS = re.compile(r"[A-Za-z0-9_\-$@ ]")
_FILTER = re.compile(
    r"^\?\(\s*@\.(?P<field>[A-Za-z0-9_\-$]+)\s*"
    r"(?:(?P<op>==|!=|<=|>=|<|>)\s*(?P<lit>'[^']*'|-?\d+(?:\.\d+)?))?\s*\)$"
)

_INDEFINITE = {"wild", "descend", "descend_wild", "slice", "filter"}


class JsonPathError(ValueError):
    """Unparseable JSONPath pattern (Presto: INVALID_FUNCTION_ARGUMENT)."""


def _find_bracket_end(path: str, start: int) -> int:
    """Index of the ']' closing the '[' at ``start`` (handles quoted ')')."""
    i = start + 1
    in_q: str | None = None
    while i < len(path):
        c = path[i]
        if in_q:
            if c == in_q:
                in_q = None
        elif c in "'\"":
            in_q = c
        elif c == "]":
            return i
        i += 1
    raise JsonPathError(f"unclosed '[' in {path!r}")


@lru_cache(maxsize=1024)
def tokenize(path: str) -> tuple[tuple, ...]:
    if not path or path[0] != "$":
        raise JsonPathError(f"JSONPath must start with '$': {path!r}")
    toks: list[tuple] = []
    i, n = 1, len(path)
    while i < n:
        c = path[i]
        if c == ".":
            if i + 1 < n and path[i + 1] == ".":
                i += 2
                if i < n and path[i] == "*":
                    toks.append(("descend_wild",))
                    i += 1
                else:
                    j = i
                    while j < n and _NAME_CHARS.match(path[j]):
                        j += 1
                    if j == i:
                        raise JsonPathError(f"bad descent in {path!r}")
                    toks.append(("descend", path[i:j]))
                    i = j
            elif i + 1 < n and path[i + 1] == "*":
                toks.append(("wild",))
                i += 2
            else:
                j = i + 1
                while j < n and path[j] not in ".[":
                    j += 1
                name = path[i + 1:j]
                if not name:
                    raise JsonPathError(f"empty field name in {path!r}")
                toks.append(("field", name))
                i = j
        elif c == "[":
            j = _find_bracket_end(path, i)
            inner = path[i + 1:j].strip()
            if inner == "*":
                toks.append(("wild",))
            elif inner[:1] in ("'", '"'):
                if inner[-1:] != inner[0]:
                    raise JsonPathError(f"bad quoted name in {path!r}")
                toks.append(("field", inner[1:-1]))
            elif inner.startswith("?"):
                m = _FILTER.match(inner)
                if not m:
                    raise JsonPathError(f"unsupported filter in {path!r}")
                lit = m.group("lit")
                val = (
                    None if lit is None
                    else lit[1:-1] if lit.startswith("'")
                    else float(lit) if "." in lit else int(lit)
                )
                toks.append(("filter", m.group("field"), m.group("op"), val))
            elif ":" in inner:
                lo, _, hi = inner.partition(":")
                toks.append((
                    "slice",
                    int(lo) if lo else None,
                    int(hi) if hi else None,
                ))
            else:
                try:
                    toks.append(("index", int(inner)))
                except ValueError:
                    raise JsonPathError(f"bad subscript {inner!r} in {path!r}")
            i = j + 1
        else:
            raise JsonPathError(f"unexpected {c!r} at {i} in {path!r}")
    return tuple(toks)


def _descend(node, name, out):
    if isinstance(node, dict):
        for k, v in node.items():
            if k == name:
                out.append(v)
            _descend(v, name, out)
    elif isinstance(node, list):
        for v in node:
            _descend(v, name, out)


def _descend_all(node, out):
    if isinstance(node, dict):
        for v in node.values():
            out.append(v)
            _descend_all(v, out)
    elif isinstance(node, list):
        for v in node:
            out.append(v)
            _descend_all(v, out)


def _cmp(a, op, b):
    try:
        if op == "==":
            return a == b
        if op == "!=":
            return a != b
        if op == "<":
            return a < b
        if op == "<=":
            return a <= b
        if op == ">":
            return a > b
        if op == ">=":
            return a >= b
    except TypeError:
        return False
    return False


def evaluate(doc, toks):
    """All matches of the token list against a parsed JSON value."""
    nodes = [doc]
    for t in toks:
        out: list = []
        kind = t[0]
        for nd in nodes:
            if kind == "field":
                if isinstance(nd, dict) and t[1] in nd:
                    out.append(nd[t[1]])
            elif kind == "index":
                if isinstance(nd, list) and -len(nd) <= t[1] < len(nd):
                    out.append(nd[t[1]])
            elif kind == "slice":
                if isinstance(nd, list):
                    out.extend(nd[t[1]:t[2]])
            elif kind == "wild":
                if isinstance(nd, list):
                    out.extend(nd)
                elif isinstance(nd, dict):
                    out.extend(nd.values())
            elif kind == "descend":
                _descend(nd, t[1], out)
            elif kind == "descend_wild":
                _descend_all(nd, out)
            elif kind == "filter":
                items = nd if isinstance(nd, list) else [nd]
                _, field, op, val = t
                for x in items:
                    if not (isinstance(x, dict) and field in x):
                        continue
                    if op is None or _cmp(x[field], op, val):
                        out.append(x)
        nodes = out
    return nodes


def _dumps(x) -> str:
    # Jackson-compact serialization (JsonNode.toString()): no spaces.
    return json.dumps(x, separators=(",", ":"), ensure_ascii=False)


def extract_json(doc_text: str | None, path: str) -> str | None:
    """json_extract: JSON-encoded match (JsonPath.java objectExtractor)."""
    if doc_text is None:
        return None
    try:
        doc = json.loads(doc_text)
    except (ValueError, TypeError):
        return None  # InvalidJsonException → NULL
    toks = tokenize(path)
    nodes = evaluate(doc, toks)
    if any(t[0] in _INDEFINITE for t in toks):
        return _dumps(nodes)
    return _dumps(nodes[0]) if nodes else None


def extract_scalar(doc_text: str | None, path: str) -> str | None:
    """json_extract_scalar: text of a value node, NULL otherwise
    (JsonPath.java scalarExtractor — node.isValueNode() gate)."""
    if doc_text is None:
        return None
    try:
        doc = json.loads(doc_text)
    except (ValueError, TypeError):
        return None
    toks = tokenize(path)
    if any(t[0] in _INDEFINITE for t in toks):
        return None  # indefinite result is an array — never a value node
    nodes = evaluate(doc, toks)
    if not nodes:
        return None
    v = nodes[0]
    if v is None or isinstance(v, (dict, list)):
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def json_size(doc_text: str | None, path: str) -> int | None:
    """json_size: container size, 0 for scalars (JsonPath.java
    sizeExtractor — Jackson node.size())."""
    if doc_text is None:
        return None
    try:
        doc = json.loads(doc_text)
    except (ValueError, TypeError):
        return None
    toks = tokenize(path)
    nodes = evaluate(doc, toks)
    if any(t[0] in _INDEFINITE for t in toks):
        return len(nodes)
    if not nodes:
        return None
    v = nodes[0]
    return len(v) if isinstance(v, (dict, list)) else 0
