"""Porter stemming algorithm (Porter, 1980) — word_stem parity.

Reference: WordStemFunction.java delegates to Lucene's PorterStemmer,
which is the original algorithm from "An algorithm for suffix
stripping" (M.F. Porter, Program 14(3), 1980).  This is a direct
implementation of the published rules (steps 1a-5b with the m-measure
conditions); the algorithm itself is public domain and widely
re-implemented.

Used by the Arrow-batched ``word_stem`` UDF
(functions/_text_pandas_udfs.py); the JVM-side S-stemmer approximation
remains available as ``word_stem_simple``.
"""

from __future__ import annotations

_VOWELS = "aeiou"


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(w, i - 1)
    return True


def _measure(w: str) -> int:
    """Number of VC sequences in w ([C](VC){m}[V])."""
    n = 0
    i = 0
    ln = len(w)
    while i < ln and _is_cons(w, i):
        i += 1
    while i < ln:
        while i < ln and not _is_cons(w, i):
            i += 1
        if i >= ln:
            break
        n += 1
        while i < ln and _is_cons(w, i):
            i += 1
    return n


def _has_vowel(w: str) -> bool:
    return any(not _is_cons(w, i) for i in range(len(w)))


def _ends_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _ends_cvc(w: str) -> bool:
    """*o condition: stem ends cvc where the final c is not w, x or y."""
    if len(w) < 3:
        return False
    return (
        _is_cons(w, len(w) - 3)
        and not _is_cons(w, len(w) - 2)
        and _is_cons(w, len(w) - 1)
        and w[-1] not in "wxy"
    )


def _step1ab(w: str) -> str:
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _has_vowel(w[:-2]):
        w = w[:-2]
        w = _step1b_fixup(w)
    elif w.endswith("ing") and _has_vowel(w[:-3]):
        w = w[:-3]
        w = _step1b_fixup(w)
    return w


def _step1b_fixup(w: str) -> str:
    if w.endswith(("at", "bl", "iz")):
        return w + "e"
    if _ends_double_cons(w) and w[-1] not in "lsz":
        return w[:-1]
    if _measure(w) == 1 and _ends_cvc(w):
        return w + "e"
    return w


def _step1c(w: str) -> str:
    if w.endswith("y") and _has_vowel(w[:-1]):
        return w[:-1] + "i"
    return w


_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("bli", "ble"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
]

_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]

_STEP4 = [
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
]


def _apply_rules(w: str, rules, m_min: int) -> str:
    for suffix, repl in rules:
        if w.endswith(suffix):
            stem = w[: len(w) - len(suffix)]
            if _measure(stem) > m_min:
                return stem + repl
            return w
    return w


def _step4(w: str) -> str:
    for suffix in _STEP4:
        if w.endswith(suffix):
            stem = w[: len(w) - len(suffix)]
            if suffix == "ion" and (not stem or stem[-1] not in "st"):
                return w
            if _measure(stem) > 1:
                return stem
            return w
    return w


def _step5(w: str) -> str:
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _ends_cvc(stem)):
            w = stem
    if w.endswith("ll") and _measure(w) > 1:
        w = w[:-1]
    return w


def stem(word: str) -> str:
    """Porter-stem a single lowercase word (words of length ≤ 2 pass
    through, matching the reference implementation)."""
    if len(word) <= 2:
        return word
    w = _step1ab(word)
    w = _step1c(w)
    w = _apply_rules(w, _STEP2, 0)
    w = _apply_rules(w, _STEP3, 0)
    w = _step4(w)
    w = _step5(w)
    return w
