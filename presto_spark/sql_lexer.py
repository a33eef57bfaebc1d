"""The engine's one SQL lexer: which characters of a text are code.

Both the dialect layer (functions/dialect.py) and the prepared-statement
scanner (prepared.py) see SQL text only through this module, so a string
literal, a comment or a quoted identifier is never mistaken for code.
The token rules follow Presto's SqlBase.g4:

* ``'…'`` strings with ``''`` escapes, including the ``U&'…'`` and
  ``X'…'`` prefixes (STRING, UNICODE_STRING, BINARY_LITERAL);
* ``"…"`` identifiers with ``""`` escapes (QUOTED_IDENTIFIER);
* ```…``` identifiers with doubled-backtick escapes
  (BACKQUOTED_IDENTIFIER);
* ``--`` comments to the end of the line (SIMPLE_COMMENT);
* non-nested ``/* … */`` comments (BRACKETED_COMMENT);
* everything else is code.

A token still open at the end of the text runs to the end, so the text
of an unterminated literal is never rewritten either.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from functools import lru_cache

CODE, STRING, IDENT, BTICK, COMMENT = "code", "string", "ident", "btick", "comment"

# No named groups: a bare alternation of literal-led branches lets the
# regex engine skip straight to the next quote or comment opener.
_TOKEN_RE = re.compile(
    r"'[^']*(?:''[^']*)*(?:'|\Z)"
    r'|"[^"]*(?:""[^"]*)*(?:"|\Z)'
    r"|`[^`]*(?:``[^`]*)*(?:`|\Z)"
    r"|--[^\n]*|/\*.*?(?:\*/|\Z)", re.DOTALL)
_KIND = {"'": STRING, '"': IDENT, "`": BTICK, "-": COMMENT, "/": COMMENT}
_PREFIX_RE = re.compile(r"\b(?:[Uu]&|[Xx])")
_PAREN_RE = re.compile(r"[()]")
_CALL_RE = re.compile(r"[()\[\],]")


class Lexed:
    """A text split into (kind, start, end) tokens, with the scans every
    rewrite needs restricted to code."""

    def __init__(self, sql: str) -> None:
        self.sql = sql
        toks: list[tuple[str, int, int]] = []
        pos = 0
        for m in _TOKEN_RE.finditer(sql):
            start, kind = m.start(), _KIND[sql[m.start()]]
            if kind == STRING and start > pos and sql[start - 1] in "&Xx":
                # a U& or X prefix belongs to the literal
                start = next((start - k for k in (2, 1) if start - k >= pos
                              and _PREFIX_RE.fullmatch(sql, start - k, start)),
                             start)
            if start > pos:
                toks.append((CODE, pos, start))
            toks.append((kind, start, m.end()))
            pos = m.end()
        if pos < len(sql) or not toks:
            toks.append((CODE, pos, len(sql)))
        self.tokens = toks
        self._starts = [s for _, s, _ in toks]
        self._parens: tuple[list[int], list[int]] | None = None

    def token_at(self, i: int) -> tuple[str, int, int]:
        return self.tokens[max(bisect_right(self._starts, i) - 1, 0)]

    def literal_at(self, i: int) -> str | None:
        """The text of the string token that starts at ``i``, or None."""
        kind, s, e = self.token_at(i)
        return self.sql[s:e] if kind == STRING and s == i else None

    def finditer(self, pat: re.Pattern, pos: int = 0):
        """Matches of ``pat`` inside code tokens, from ``pos`` on."""
        first = pat.search(self.sql, pos)
        if first is None:  # the common case: no match at all
            return
        # no code match can start before the first match in the whole text
        for k in range(max(bisect_right(self._starts, first.start()) - 1, 0),
                       len(self.tokens)):
            kind, s, e = self.tokens[k]
            if kind == CODE:
                yield from pat.finditer(self.sql, max(s, pos), e)

    def sub(self, pat: re.Pattern, repl) -> str:
        """``pat.sub(repl, sql)`` for the matches inside code tokens."""
        out, pos = [], 0
        for m in self.finditer(pat):
            out += (self.sql[pos:m.start()], repl(m) if callable(repl) else repl)
            pos = m.end()
        return "".join(out) + self.sql[pos:]

    def _paren_index(self) -> tuple[list[int], list[int]]:
        """Positions of the code parens, and the depth in front of each
        (plus the depth after the last)."""
        if self._parens is None:
            at = [m.start() for m in self.finditer(_PAREN_RE)]
            depth = [0]
            for i in at:
                depth.append(depth[-1] + (1 if self.sql[i] == "(" else -1))
            self._parens = (at, depth)
        return self._parens

    def depth0(self, pat: re.Pattern) -> list[re.Match]:
        """Code matches of ``pat`` at paren depth 0."""
        at, depth = self._paren_index()
        return [m for m in self.finditer(pat)
                if depth[bisect_left(at, m.start())] == 0]

    def match_open(self, close_i: int) -> int | None:
        """Position of the '(' matching the code ')' at ``close_i``."""
        at, depth = self._paren_index()
        k = bisect_left(at, close_i)
        if k == len(at) or at[k] != close_i:
            return None
        for j in range(k, -1, -1):
            if depth[j] == depth[k + 1]:
                return at[j]
        return None

    def split_call(self, open_i: int) -> tuple[list[str], int] | None:
        """(args, close) for the call whose '(' is at ``open_i``: the
        arguments split at its top-level commas ('[…]' nests as well), or
        None when the call is unbalanced."""
        depth = bdepth = 0
        args, start = [], open_i + 1
        for m in self.finditer(_CALL_RE, open_i):
            c, i = m.group(), m.start()
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    args.append(self.sql[start:i])
                    return args, i
            elif c == "[":
                bdepth += 1
            elif c == "]":
                bdepth -= 1
            elif depth == 1 and bdepth == 0:
                args.append(self.sql[start:i])
                start = i + 1
        return None


@lru_cache(maxsize=64)
def lex(sql: str) -> Lexed:
    """The (cached) token view of ``sql``."""
    return Lexed(sql)


def strip(text: str) -> str:
    """``text.strip()``, keeping the line break that ends a trailing
    ``--`` comment, so code placed after the result stays code."""
    out = text.strip()
    if "--" in out:
        kind, s, _ = lex(out).tokens[-1]
        if kind == COMMENT and out.startswith("--", s):
            out += "\n"
    return out


def quoted_body(text: str, quote: str = "'") -> str | None:
    """The body of ``text`` (quotes off, doubled quotes kept) when it is
    exactly one closed token quoted with ``quote``; None otherwise (so
    an ``X'…'``/``U&'…'`` prefix or a second token also gives None)."""
    if (len(text) >= 2 and text[0] == text[-1] == quote
            and quote not in text[1:-1].replace(quote * 2, "")):
        return text[1:-1]
    return None
