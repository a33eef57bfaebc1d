"""Teradata-compatibility functions (presto-teradata-functions plugin).

Reference surface:

* ``index(string, substring)`` — TeradataStringFunctions.java:40:
  1-based position of the first occurrence, 0 if absent (identical to
  strpos).
* ``char2hexint(string)`` — TeradataStringFunctions.java:109: uppercase
  hex of the UTF-16BE encoding.
* ``to_char(timestamp, format)`` / ``to_date(string, format)`` /
  ``to_timestamp(string, format)`` — TeradataDateFunctions.java:85-130
  with the Teradata format-element grammar of
  dateformat/DateFormatParser.java: tokens YYYY, YY (two-digit year
  pivoted at 2000), MM, DD, HH24, HH (hour-of-AM/PM, parse defaults to
  AM), MI, SS — case-insensitive — and everything else literal text;
  an unrecognized letter run is an error (DateFormatParser.java:100-104).
  Parsing accepts 1-2 digit two-position fields, formatting always
  zero-pads (the PARSER/FORMATTER width modes, DateFormatParser.java
  Mode).

The string functions register as SQL UDFs (registry.py); the date
functions lower in the dialect layer by converting a *literal* format
to the equivalent Spark/Java datetime pattern at translate time —
single-letter fields for the 1-2-digit parse direction, two-letter for
the zero-padded format direction.  ``HH`` maps to Spark's ``KK``/``K``
(hour-of-AM/PM 0-11), matching the reference's HOUR_OF_AMPM: midnight
and noon print as 00, and '0'..'11' parse (ADVICE r5 fixed the earlier
clock-hour 'hh' mapping, which printed 12 and rejected 0).
"""

from __future__ import annotations

import re

from presto_spark.sql_lexer import quoted_body

# token -> (format-mode Java pattern, parse-mode Java pattern)
_TOKENS: list[tuple[str, str, str]] = [
    ("yyyy", "yyyy", "yyyy"),
    ("yy", "yy", "yy"),       # appendValueReduced(YEAR, 2, 2, 2000) both
    ("hh24", "HH", "H"),
    ("hh", "KK", "K"),        # HOUR_OF_AMPM 0-11; parse defaults to AM
    ("mm", "MM", "M"),
    ("mi", "mm", "m"),
    ("dd", "dd", "d"),
    ("ss", "ss", "s"),
]
_TOKEN_RE = re.compile(
    "|".join(t for t, _, _ in _TOKENS) + r"|[A-Za-z]+|[^A-Za-z]+",
    re.IGNORECASE,
)
_TOKEN_MAP = {t: (f, p) for t, f, p in _TOKENS}


def teradata_format_to_java(fmt: str, mode: str) -> str:
    """Convert a Teradata datetime format to a Spark/Java pattern.

    ``mode`` is ``'format'`` (zero-padded output) or ``'parse'``
    (1-2 digit fields).  Raises ValueError on an unrecognized letter
    run, mirroring DateFormatParser.java:100-104.
    """
    out: list[str] = []
    for m in _TOKEN_RE.finditer(fmt):
        text = m.group(0)
        mapped = _TOKEN_MAP.get(text.lower())
        if mapped is not None:
            out.append(mapped[0] if mode == "format" else mapped[1])
        elif re.search(r"[A-Za-z]", text):
            raise ValueError(
                f"Failed to tokenize string [{text}] in Teradata "
                f"datetime format {fmt!r}"
            )
        else:
            # Literal run: quote so Java pattern chars stay inert.
            out.append("'" + text.replace("'", "''") + "'")
    return "".join(out)


def is_literal_format(arg_text: str) -> bool:
    return quoted_body(arg_text.strip()) is not None


def literal_format_to_java(arg_text: str, mode: str) -> str:
    """Translate-time helper for the dialect macros: require a literal
    format string (the reference compiles formats per call site too —
    a DateTimeFormatter cache keyed by the literal), convert, and
    re-quote for splicing into Spark SQL."""
    body = quoted_body(arg_text.strip())
    if body is None:
        raise ValueError(
            "Teradata to_char/to_date/to_timestamp require a literal "
            f"format string; got: {arg_text!r}"
        )
    fmt = body.replace("''", "'")
    java = teradata_format_to_java(fmt, mode)
    return "'" + java.replace("'", "''") + "'"
