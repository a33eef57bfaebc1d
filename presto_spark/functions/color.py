"""Color / bar terminal-rendering functions (round 9).

Reference: presto-main-base/.../operator/scalar/ColorFunctions.java —
color(varchar) (:88, '#rgb' CSS nibble replication :278 parseRgb, or a
system color name encoded as -(index+1)), rgb(r,g,b) (:108),
color(fraction, low, high) HSB interpolation (:127/:146 via
java.awt.Color RGBtoHSB/HSBtoRGB), render(value, color) ANSI 256-color
escapes (:160, ESC[38;5;<idx>m with the 6x6x6 cube mapping :249
toAnsi), render(boolean) (:193, green ✓ / red ✗), and bar(percent,
width[, low, high]) (:200, truncated count of gradient '█' blocks
padded to width).

Implementation notes:

* Everything is SQL-expression text registered as SQL UDFs through
  functions/registry.py — JVM-side, codegen, no Python in the hot
  path.
* ``bar``'s per-block gradient runs inside a ``transform`` lambda, and
  SQL-UDF calls cannot appear inside HOF lambdas (Spark
  MISSING_ATTRIBUTES on the lambda variable — module memory, round 6),
  so the HSB interpolation is emitted INLINE by the same Python
  generator that builds ``color_interp``'s body: one source of truth
  for the math, two spellings.
* Deviations from the reference, per repo convention: invalid inputs
  (bad color string, channel outside 0-255, system colors fed to the
  interpolator) return NULL instead of throwing; the HSB round-trip
  runs in double precision where java.awt.Color uses float32 (±1 LSB
  on channel values at sector boundaries).
* Presto overloads ``color``/``render``/``bar`` by signature; SQL UDFs
  are monomorphic, so the overloads register as color/color_interp/
  color_scaled, render/render_num/render_bool, bar/bar_colored (same
  suffix convention as cosine_similarity_map).
"""

from __future__ import annotations

# ---- SQL text generators -------------------------------------------------


def _channels(c: str) -> tuple[str, str, str]:
    """R/G/B BIGINT exprs from a non-negative packed color int."""
    return (
        f"shiftright({c}, 16)",
        f"(shiftright({c}, 8) % 256)",
        f"({c} % 256)",
    )


def _rgb2hsb(c: str) -> tuple[str, str, str]:
    """java.awt.Color.RGBtoHSB as (h, s, v) DOUBLE expression text."""
    r, g, b = _channels(c)
    cmax = f"greatest({r}, {g}, {b})"
    cmin = f"least({r}, {g}, {b})"
    d = f"CAST({cmax} - {cmin} AS DOUBLE)"
    rc = f"(({cmax} - {r}) / {d})"
    gc = f"(({cmax} - {g}) / {d})"
    bc = f"(({cmax} - {b}) / {d})"
    raw = (
        f"(CASE WHEN {r} = {cmax} THEN ({bc} - {gc}) "
        f"WHEN {g} = {cmax} THEN (2.0 + {rc} - {bc}) "
        f"ELSE (4.0 + {gc} - {rc}) END / 6.0)"
    )
    h = (
        f"(CASE WHEN {cmax} = {cmin} THEN 0.0 "
        f"WHEN {raw} < 0.0 THEN {raw} + 1.0 ELSE {raw} END)"
    )
    s = (
        f"(CASE WHEN {cmax} = 0 THEN 0.0 "
        f"ELSE CAST({cmax} - {cmin} AS DOUBLE) / {cmax} END)"
    )
    v = f"({cmax} / 255.0)"
    return h, s, v


def _hsb_channels(h: str, s: str, v: str) -> tuple[str, str, str]:
    """java.awt.Color.HSBtoRGB: (h, s, v) → channel BIGINT exprs."""
    h6 = f"((({h}) - floor({h})) * 6.0)"
    f = f"({h6} - floor({h6}))"
    p = f"(({v}) * (1.0 - ({s})))"
    q = f"(({v}) * (1.0 - ({s}) * {f}))"
    t = f"(({v}) * (1.0 - ({s}) * (1.0 - {f})))"
    sector = f"CAST(floor({h6}) AS INT)"

    def chan(by_sector: list[str]) -> str:
        arms = " ".join(
            f"WHEN {i} THEN {e}" for i, e in enumerate(by_sector))
        frac = f"(CASE {sector} {arms} ELSE ({v}) END)"
        grey = f"({v})"
        picked = f"(CASE WHEN ({s}) = 0.0 THEN {grey} ELSE {frac} END)"
        return f"CAST({picked} * 255.0 + 0.5 AS BIGINT)"

    rr = chan([f"({v})", q, p, p, t, f"({v})"])
    gg = chan([t, f"({v})", f"({v})", q, p, p])
    bb = chan([p, p, t, f"({v})", f"({v})", q])
    return rr, gg, bb


def _lerp(f: str, lo: str, hi: str) -> str:
    return f"(({f}) * (({hi}) - ({lo})) + ({lo}))"


def _clamp01(x: str) -> str:
    return f"least(1.0, greatest(0.0, {x}))"


def _pack(r: str, g: str, b: str) -> str:
    return f"({r} * 65536 + {g} * 256 + {b})"


def _to_ansi_rgb(r: str, g: str, b: str) -> str:
    """toAnsi(:249): 6-level cube index 16 + 36r' + 6g' + b'."""
    return (
        f"(16 + CAST({r} * 6 / 256 AS BIGINT) * 36 "
        f"+ CAST({g} * 6 / 256 AS BIGINT) * 6 "
        f"+ CAST({b} * 6 / 256 AS BIGINT))"
    )


def _to_ansi(c: str) -> str:
    """toAnsi for packed-or-system colors (negative = -(index+1))."""
    r, g, b = _channels(c)
    return (
        f"(CASE WHEN {c} >= 0 THEN {_to_ansi_rgb(r, g, b)} "
        f"ELSE -({c}) - 1 END)"
    )


def _esc(ansi: str) -> str:
    return f"concat(chr(27), '[38;5;', CAST({ansi} AS STRING), 'm')"


_RESET = "concat(chr(27), '[0m')"

_RED = 16711680  # rgb(255, 0, 0)
_GREEN = 65280   # rgb(0, 255, 0)


def _bar_body(low: str, high: str) -> str:
    """bar(:200): count = trunc(percent*width) clamped to [0, width];
    block i colored by interpolate(i/(width-1), low, high); reset, then
    space-padded to width.

    The gradient math is inlined (SQL-UDF calls cannot appear inside a
    HOF lambda), and naive inlining of the HSB round-trip blows the
    body up ~650 KB (every reference re-substitutes the full RGBtoHSB
    text).  Two chained transforms act as let-bindings instead: the
    first computes the lerped (h, s, v) per block into a struct (the
    operand RGBtoHSB trees appear exactly once each), the second turns
    a struct FIELD reference — five characters — into the channel
    arithmetic.  ~8 KB total."""
    cnt = ("greatest(CAST(0 AS BIGINT), least(width, "
           "CAST(percent * width AS BIGINT)))")
    hl, sl, vl = _rgb2hsb(low)
    hh, sh, vh = _rgb2hsb(high)
    f = _clamp01("CAST(i AS DOUBLE) / (width - 1)")
    stage1 = (
        f"named_struct('h', {_lerp(f, hl, hh)}, "
        f"'s', {_lerp(f, sl, sh)}, 'v', {_lerp(f, vl, vh)})"
    )
    rr, gg, bb = _hsb_channels("hsv.h", "hsv.s", "hsv.v")
    block = f"concat({_esc(_to_ansi_rgb(rr, gg, bb))}, '█')"
    return f"""
    CASE WHEN width >= 1 AND ({low}) >= 0 AND ({high}) >= 0 THEN
      concat(
        CASE WHEN {cnt} >= 1 THEN
          concat_ws('', transform(
            transform(sequence(CAST(0 AS BIGINT), {cnt} - 1),
                      i -> {stage1}),
            hsv -> {block}))
        ELSE '' END,
        {_RESET},
        repeat(' ', CAST(width - {cnt} AS INT)))
    END"""


def _color_udfs() -> dict[str, tuple[str, str, str, str]]:
    names = ["BLACK", "RED", "GREEN", "YELLOW",
             "BLUE", "MAGENTA", "CYAN", "WHITE"]
    name_arms = " ".join(
        f"WHEN '{n}' THEN CAST({-(i + 1)} AS BIGINT)"
        for i, n in enumerate(names))
    nib = "CAST(conv(substr(s, {i}, 1), 16, 10) AS BIGINT) * 17"

    def interp_call(f: str) -> str:
        """interpolate(f, low_color, high_color) via the helper UDFs —
        each operand's RGBtoHSB runs once inside its __hsb_* helper
        and __hsb_pack sees plain h/s/v ARGUMENTS, so no text
        blow-up (the fully-inlined form was ~650 KB)."""
        ff = _clamp01(f)
        return (
            "__hsb_pack("
            f"{_lerp(ff, '__hsb_h(low_color)', '__hsb_h(high_color)')}, "
            f"{_lerp(ff, '__hsb_s(low_color)', '__hsb_s(high_color)')}, "
            f"{_lerp(ff, '__hsb_v(low_color)', '__hsb_v(high_color)')})"
        )

    hh, ss, vv = _rgb2hsb("c")
    pr, pg, pb = _hsb_channels("h", "s", "v")
    return {
        "__hsb_h": ("c BIGINT", "DOUBLE", hh,
                    "java.awt.Color.RGBtoHSB hue component"),
        "__hsb_s": ("c BIGINT", "DOUBLE", ss,
                    "java.awt.Color.RGBtoHSB saturation component"),
        "__hsb_v": ("c BIGINT", "DOUBLE", vv,
                    "java.awt.Color.RGBtoHSB brightness component"),
        "__hsb_pack": ("h DOUBLE, s DOUBLE, v DOUBLE", "BIGINT",
                       _pack(pr, pg, pb),
                       "java.awt.Color.HSBtoRGB → packed color int"),
        "color": (
            "s STRING", "BIGINT",
            f"""CASE WHEN s RLIKE '^#[0-9a-fA-F]{{3}}$'
                 THEN {nib.format(i=2)} * 65536
                    + {nib.format(i=3)} * 256 + {nib.format(i=4)}
                 ELSE CASE upper(s) {name_arms} END END""",
            "ColorFunctions.java:88 color(varchar) — '#rgb' CSS nibble "
            "replication (:278 parseRgb) or system name -(index+1); "
            "invalid → NULL (reference throws)"),
        "rgb": (
            "r BIGINT, g BIGINT, b BIGINT", "BIGINT",
            """CASE WHEN r BETWEEN 0 AND 255 AND g BETWEEN 0 AND 255
                     AND b BETWEEN 0 AND 255
               THEN r * 65536 + g * 256 + b END""",
            "ColorFunctions.java:108 rgb — channel range checked "
            "(NULL, reference throws)"),
        "color_interp": (
            "fraction DOUBLE, low_color BIGINT, high_color BIGINT",
            "BIGINT",
            f"""CASE WHEN low_color >= 0 AND high_color >= 0
                 THEN {interp_call('fraction')} END""",
            "ColorFunctions.java:146 color(double, color, color) — HSB "
            "lerp at the clamped fraction (double precision; the "
            "reference uses float32, ±1 LSB at sector boundaries)"),
        "color_scaled": (
            "value DOUBLE, low DOUBLE, high DOUBLE, "
            "low_color BIGINT, high_color BIGINT", "BIGINT",
            f"""CASE WHEN low_color >= 0 AND high_color >= 0
                 THEN {interp_call('(value - low) / (high - low)')} END""",
            "ColorFunctions.java:127 color(value, low, high, c1, c2) — "
            "rescales then interpolates"),
        "render": (
            "s STRING, c BIGINT", "STRING",
            f"concat({_esc(_to_ansi('c'))}, s, {_RESET})",
            "ColorFunctions.java:160 render(varchar, color) — "
            "ESC[38;5;<toAnsi>m … ESC[0m"),
        "render_num": (
            "x BIGINT, c BIGINT", "STRING",
            f"concat({_esc(_to_ansi('c'))}, CAST(x AS STRING), {_RESET})",
            "ColorFunctions.java:178 render(bigint, color)"),
        "render_bool": (
            "b BOOLEAN", "STRING",
            f"""CASE WHEN b
                 THEN concat(chr(27), '[38;5;2m', '✓', {_RESET})
                 ELSE concat(chr(27), '[38;5;1m', '✗', {_RESET})
               END""",
            "ColorFunctions.java:193 render(boolean) — green ✓ / red ✗ "
            "(system green/red indexes 2/1)"),
        "bar": (
            "percent DOUBLE, width BIGINT", "STRING",
            _bar_body(str(_RED), str(_GREEN)),
            "ColorFunctions.java:197 bar(percent, width) — red→green "
            "default gradient"),
        "bar_colored": (
            "percent DOUBLE, width BIGINT, low_color BIGINT, "
            "high_color BIGINT", "STRING",
            _bar_body("low_color", "high_color"),
            "ColorFunctions.java:200 bar(percent, width, low, high)"),
    }


COLOR_UDFS = _color_udfs()
