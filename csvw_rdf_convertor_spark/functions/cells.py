"""The W3C CSVW "parsing cells" pipeline, compiled to Spark Column exprs.

Per-cell dataflow (reference orchestration: csvw2rdf/convertor.ts:897-914):

    raw string → whitespace-normalize (P1) → default (P2) → null check (P3)
    → separator split (P4) → datatype parse/validate (P5–P9)
    → canonical lexical form | ``@@invalid@@``-tagged raw (P10)

Every stage is a *plan-build-time* branch on the column spec — the emitted
expression tree is straight-line per column, runs inside whole-stage codegen,
and never touches Python at row level. The rare LDML number-pattern path
(reference: utils/parse-number.ts:179-399) is the only pandas-UDF fallback.

Cell results are ``array<string>`` of canonical lexical values: NULL array =
null cell (no triple), multi-element = list cell.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..spec import (
    DATE_TYPES,
    INVALID_SENTINEL,
    NUMERIC_TYPES,
    WS_EXEMPT_TYPES,
    ColumnSpec,
    DatatypeSpec,
)

# --- lexical-space regexes (ported semantics of utils/parse-number.ts:10-27,
# --- validation/datatype.ts:230-241, format-datetime.ts:23-49; these XSD
# --- lexical grammars are public W3C spec content) --------------------------

INTEGER_RE = r"[+-]?[0-9]+"
DECIMAL_RE = r"[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)"
DOUBLE_RE = (
    r"(?:[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?|[+-]?INF|NaN)"
)
_DUR_TIME = (
    r"T(?:[0-9]+H(?:[0-9]+M)?(?:[0-9]+(?:\.[0-9]+)?S)?"
    r"|[0-9]+M(?:[0-9]+(?:\.[0-9]+)?S)?|[0-9]+(?:\.[0-9]+)?S)"
)
DURATION_RE = (
    r"-?P(?:(?:[0-9]+Y(?:[0-9]+M)?(?:[0-9]+D)?|[0-9]+M(?:[0-9]+D)?|[0-9]+D)"
    rf"(?:{_DUR_TIME})?|{_DUR_TIME})"
)
DAYTIME_DURATION_RE = rf"-?P(?:[0-9]+D(?:{_DUR_TIME})?|{_DUR_TIME})"
YEARMONTH_DURATION_RE = r"-?P(?:[0-9]+Y(?:[0-9]+M)?|[0-9]+M)"
_TZ_RE = r"(?:Z|[+-](?:0[0-9]|1[0-4]):[0-5][0-9])?"
GYEAR_RE = rf"-?(?:[1-9][0-9]{{3,}}|0[0-9]{{3}}){_TZ_RE}"
GYEARMONTH_RE = rf"-?(?:[1-9][0-9]{{3,}}|0[0-9]{{3}})-(?:0[1-9]|1[0-2]){_TZ_RE}"
GMONTH_RE = rf"--(?:0[1-9]|1[0-2]){_TZ_RE}"
GMONTHDAY_RE = rf"--(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01]){_TZ_RE}"
GDAY_RE = rf"---(?:0[1-9]|[12][0-9]|3[01]){_TZ_RE}"
HEXBINARY_RE = r"(?:[0-9a-fA-F]{2})*"
BASE64_RE = (
    r"(?:(?:[A-Za-z0-9+/] ?){4})*"
    r"(?:(?:[A-Za-z0-9+/] ?){3}[A-Za-z0-9+/]"
    r"|(?:[A-Za-z0-9+/] ?){2}[AEIMQUYcgkosw048] ?="
    r"|[A-Za-z0-9+/] ?[AQgw] ?= ?=)?"
)
LANGUAGE_RE = r"[a-zA-Z]{1,8}(?:-[a-zA-Z0-9]{1,8})*"
NAME_RE = r"[A-Za-z_:][\w.:-]*"
NCNAME_RE = r"[A-Za-z_][\w.-]*"
NMTOKEN_RE = r"[\w.:-]+"

#: default lexical regex per base type (None → no lexical constraint)
DEFAULT_FORMAT_RES: dict[str, str] = {
    "duration": DURATION_RE,
    "dayTimeDuration": DAYTIME_DURATION_RE,
    "yearMonthDuration": YEARMONTH_DURATION_RE,
    "gYear": GYEAR_RE,
    "gYearMonth": GYEARMONTH_RE,
    "gMonth": GMONTH_RE,
    "gMonthDay": GMONTHDAY_RE,
    "gDay": GDAY_RE,
    "hexBinary": HEXBINARY_RE,
    "base64Binary": BASE64_RE,
    "binary": BASE64_RE,
    "language": LANGUAGE_RE,
    "Name": NAME_RE,
    "NCName": NCNAME_RE,
    "QName": NCNAME_RE + r"(?::" + NCNAME_RE + r")?",
    "NMTOKEN": NMTOKEN_RE,
}

#: integer-family value ranges (reference: parse-number.ts:28-37)
INT_RANGES: dict[str, tuple[int | None, int | None]] = {
    "long": (-(2**63), 2**63 - 1),
    "int": (-(2**31), 2**31 - 1),
    "short": (-(2**15), 2**15 - 1),
    "byte": (-(2**7), 2**7 - 1),
    "unsignedLong": (0, 2**64 - 1),
    "unsignedInt": (0, 2**32 - 1),
    "unsignedShort": (0, 2**16 - 1),
    "unsignedByte": (0, 2**8 - 1),
    "nonNegativeInteger": (0, None),
    "positiveInteger": (1, None),
    "nonPositiveInteger": (None, 0),
    "negativeInteger": (None, -1),
}
INTEGER_FAMILY = set(INT_RANGES) | {"integer"}


def _invalid(raw: Column) -> Column:
    """P10 tag: sentinel-prefixed raw value (reference: prefix.ts:222)."""
    return F.concat(F.lit(INVALID_SENTINEL), raw)


def strip_invalid(lex: Column) -> Column:
    return F.when(
        lex.startswith(INVALID_SENTINEL), lex.substr(F.lit(len(INVALID_SENTINEL) + 1), F.length(lex))
    ).otherwise(lex)


def is_invalid(lex: Column) -> Column:
    return lex.startswith(INVALID_SENTINEL)


# --- P1: whitespace normalization (convertor.ts:1157-1166) ------------------

def normalize_ws(raw: Column, base: str) -> Column:
    if base in WS_EXEMPT_TYPES:
        return raw
    if base == "normalizedString":
        return F.regexp_replace(raw, r"[\t\r\n]", " ")
    return F.trim(F.regexp_replace(raw, r"\s+", " "))


# --- P5: numbers (utils/parse-number.ts:42-177, no-LDML path) ---------------

def _number_format_opts(fmt) -> tuple[str, str, str | None]:
    """(decimalChar, groupChar, ldml_pattern)."""
    if isinstance(fmt, dict):
        return (fmt.get("decimalChar", "."), fmt.get("groupChar", ""),
                fmt.get("pattern"))
    if isinstance(fmt, str):
        return (".", "", fmt)
    return (".", "", None)


def numeric_parts(value: Column, dt: DatatypeSpec) -> dict[str, Column]:
    """Pre-parse intermediates of the numeric pipeline: the %-stripped
    ``core`` string plus the ``pct``/``pml``/``grp_ok`` flags.

    Exposed separately so plan builders can materialize them as real columns
    — the parse proper references ``core`` ~6 times and the flags several
    times each; inlined, the duplicated subtrees blow the generated
    per-method bytecode past janino's 64 KB limit (interpreted fallback)."""
    dec_char, grp_char, _pattern = _number_format_opts(dt.format)
    v = value
    grp_ok = F.lit(True)
    if grp_char:
        # empty group segments ('1,,200', ',5', '5,') are invalid BEFORE
        # stripping (parse-number.ts:148: split(groupChar).some(len==0))
        grp_ok = ~(value.startswith(grp_char) | value.endswith(grp_char)
                   | value.contains(grp_char + grp_char))
        v = F.replace(v, F.lit(grp_char), F.lit(""))
    if dec_char != ".":
        v = F.replace(v, F.lit(dec_char), F.lit("."))

    # percent / permille, trailing then leading (parse-number.ts:151-164:
    # else-if chain — a trailing sign wins, leading only checked otherwise)
    pct_t = v.endswith("%")
    pml_t = ~pct_t & v.endswith("‰")
    pct_l = ~pct_t & ~pml_t & v.startswith("%")
    pml_l = ~pct_t & ~pml_t & ~pct_l & v.startswith("‰")
    core = (F.when(pct_t | pml_t, v.substr(F.lit(1), F.length(v) - 1))
            .when(pct_l | pml_l, v.substr(F.lit(2), F.length(v) - 1))
            .otherwise(v))
    pct, pml = pct_t | pct_l, pml_t | pml_l
    parts = {"core": core, "pct": pct, "pml": pml, "grp_ok": grp_ok}
    # r6: also pre-stage the PARSED NUMBER for the decimal/integer families.
    # Inside the parse's CaseWhen the cast is referenced from the condition
    # AND the value branches, and codegen's subexpression elimination skips
    # conditionally-executed branches — each reference re-ran the
    # BigDecimal parse (~3× per row, measured). As an unconditional staged
    # column the cast must be try_cast (CLAUDE.md rule): a value whose
    # magnitude overflows decimal(38,10)/(38,0) now demotes to the
    # @@invalid@@ form like every other invalid lexical, where the previous
    # condition-guarded ANSI cast raised (the reference's JS-number
    # semantics never raised either; no oracle gate exercises >28-digit
    # magnitudes — both engines' gates are green before and after).
    if dt.base == "decimal":
        numc = core.try_cast("decimal(38,10)")
        parts["num"] = (F.when(pct, numc / 100).when(pml, numc / 1000)
                        .otherwise(numc))
    elif dt.base in INTEGER_FAMILY:
        raw = core.try_cast("decimal(38,0)")
        numc = raw.try_cast("decimal(38,10)")
        parts["raw"] = raw
        parts["num"] = (F.when(pct, numc / 100).when(pml, numc / 1000)
                        .otherwise(numc))
    return parts


def parse_number(value: Column, dt: DatatypeSpec) -> Column:
    """Canonical lexical form of a numeric cell, or ``@@invalid@@``+raw.

    Covers regex validation per XSD type, group/decimal-char substitution,
    %/‰ division, INF/NaN passthrough, integer range extents, min/max
    constraints, and ``-0`` preservation — all as Column expressions.
    The LDML ``pattern`` path goes through :func:`ldml_parse_udf` instead.
    """
    dec_char, grp_char, pattern = _number_format_opts(dt.format)
    if pattern is not None:
        from .ldml import ldml_number_udf  # pandas-UDF fallback (rare path)
        # pattern path defaults groupChar ',' (validation/datatype.ts:24);
        # the no-pattern path keeps '' = no grouping
        return ldml_number_udf(pattern, dt.base, dec_char or ".",
                               grp_char or ",")(value)
    return parse_number_from_parts(value, numeric_parts(value, dt), dt)


def parse_number_from_parts(value: Column, parts: dict[str, Column],
                            dt: DatatypeSpec) -> Column:
    """The numeric parse proper, over the (ideally attribute) intermediates
    :func:`numeric_parts` returns for ``dt``, the parsed ``num`` (and the
    integer family's unscaled ``raw``) included."""
    base = dt.base
    core, pct, pml = parts["core"], parts["pct"], parts["pml"]
    if base in ("double", "float", "number"):
        ok = core.rlike(f"^{DOUBLE_RE}$")
        num = (
            F.when(core == "INF", float("inf"))
            .when(core == "+INF", float("inf"))
            .when(core == "-INF", float("-inf"))
            .when(core == "NaN", float("nan"))
            .otherwise(core.cast("double"))
        )
        num = F.when(pct, num / 100).when(pml, num / 1000).otherwise(num)
        lex = _canonical_double(num, core, pct | pml)
    elif base == "decimal":
        ok = core.rlike(f"^{DECIMAL_RE}$")
        num = parts["num"]
        lex = _canonical_decimal_str(num, core)
    else:  # integer family
        ok = core.rlike(f"^{INTEGER_RE}$")
        raw, num = parts["raw"], parts["num"]
        lo, hi = INT_RANGES.get(base, (None, None))
        if lo is not None:  # bounds as strings: 2^64-1 overflows a JVM long literal
            ok = ok & (raw >= F.lit(str(lo)).cast("decimal(38,0)"))
        if hi is not None:
            ok = ok & (raw <= F.lit(str(hi)).cast("decimal(38,0)"))
        # %/‰ divide like every other family (parse-number.ts:170-176 has no
        # integrality check: '500%' integer → '5', '50%' integer → '0.5' —
        # the reference emits transformedNumber+'' verbatim); extents above
        # apply to the PRE-division value, min/max facets to the result
        lex = (F.when(core.rlike("^-0+$"), F.lit("-0"))
               .when(pct | pml, _canonical_decimal_str(num, core))
               .otherwise(raw.cast("string")))

    ok = ok & parts["grp_ok"]
    ok = _apply_min_max(ok, num, dt)
    cond = ok & num.isNotNull()
    if base in ("double", "float", "number"):
        # INF/NaN lexicals only pass the double regex — for the decimal and
        # integer families this disjunct was statically false (r6: pruned;
        # fewer per-row comparisons and smaller generated methods)
        cond = cond | (ok & core.isin("INF", "+INF", "-INF", "NaN"))
    return F.when(cond, lex).otherwise(_invalid(value))


def _apply_min_max(ok: Column, num: Column, dt: DatatypeSpec) -> Column:
    """Numeric range facets (parse-number.ts:56-87)."""
    for attr, op in (("minimum", ">="), ("maximum", "<="),
                     ("minExclusive", ">"), ("maxExclusive", "<")):
        bound = getattr(dt, attr)
        if bound is None:
            continue
        b = F.lit(float(bound))
        n = num.cast("double")
        ok = ok & {"": None, ">=": n >= b, "<=": n <= b, ">": n > b, "<": n < b}[op]
    return ok


def _strip_frac_zeros(s: Column) -> Column:
    """Drop trailing fraction zeros (and a then-bare '.') from a PLAIN
    positional decimal string (a decimal-typed cast's output — never
    scientific notation, which r6 measured is what lets the old
    ``(\\.\\d*?)0+$`` regex pair be replaced by two rtrims: the '.' always
    present in a scale>0 decimal string stops ``rtrim('0')`` from eating
    integer-part zeros; measured ~5× on the lineitem decimal columns)."""
    return F.when(s.contains("."),
                  F.rtrim(F.rtrim(s, F.lit("0")), F.lit("."))).otherwise(s)


def _canonical_double(num: Column, core: Column, transformed: Column) -> Column:
    """JS ``Number.prototype.toString``-canonical form (the reference
    re-emits ``transformedNumber + ''`` — parse-number.ts:140).

    JS prints positionally for 1e-6 ≤ |x| < 1e21 and exponentially
    (``1.5e-7`` / ``1e+21``) outside; Java's ``Double.toString`` switches at
    1e-3/1e7 — so the positional zone renders through a decimal cast (Spark
    double→decimal goes via the shortest round-trip digits, exactly JS's
    digit selection), tiered by magnitude so the scale always covers the
    shortest representation: ≤1e14 → scale 24 (≤23 frac digits needed),
    else → scale 6 (≥1e14 needs ≤3). The exponential zone reshapes Java's
    form (``1.0E-7`` → ``1e-7``, ``1.0E21`` → ``1e+21``). Known corner: Java
    prints a few subnormals with one extra digit (``4.9E-324`` vs JS
    ``5e-324``). ``-0`` is preserved (:139)."""
    # try_cast everywhere: ANSI mode is on and these casts sit in CaseWhen
    # conditions, where an overflow would raise instead of yielding null
    as_long = num.try_cast("long")
    integral = num.isNotNull() & (num == as_long.cast("double")) & (F.abs(num) < 1e15)
    neg_zero = (num == 0) & (core.startswith("-"))
    positional = F.when(F.abs(num) < 1e14,
                        _strip_frac_zeros(num.try_cast("decimal(38,24)").cast("string"))) \
                  .otherwise(_strip_frac_zeros(num.try_cast("decimal(38,6)").cast("string")))
    positional_ok = (F.abs(num) >= 1e-6) & (F.abs(num) < 1e21) & positional.isNotNull()
    s = num.cast("string")
    mant = F.regexp_replace(F.regexp_extract(s, r"^(-?[\d.]+)E", 1), r"\.0$", "")
    exp = F.regexp_extract(s, r"E(-?\d+)$", 1)
    js_exp = F.when(exp == "", s).otherwise(
        F.concat(mant, F.lit("e"),
                 F.when(exp.startswith("-"), exp)
                 .otherwise(F.concat(F.lit("+"), exp))))
    return (
        F.when(F.isnan(num), F.lit("NaN"))
        .when(num == float("inf"), F.lit("INF"))
        .when(num == float("-inf"), F.lit("-INF"))
        .when(neg_zero, F.lit("-0"))
        .when(integral, as_long.cast("string"))
        .when(positional_ok, positional)
        .otherwise(js_exp)
    )


def _canonical_decimal_str(num: Column, core: Column) -> Column:
    """Canonical lexical of a decimal-typed ``num``: superfluous fraction
    zeros and a trailing '.' stripped, '-0' preserved when the raw ``core``
    was negative. Takes the decimal COLUMN (not its string) so the negative-
    zero test compares ``num == 0`` directly instead of re-parsing the
    canonical string through a double cast (r6: the old 3-regex + reparse
    chain was ~5× the cost of the whole decimal parse; a decimal cast's
    string never carries a leading '+' or scientific notation, so trims are
    exact — equivalence battery in tests/test_cells_canon.py)."""
    out = _strip_frac_zeros(num.cast("string"))
    out = F.when((num == 0) & core.startswith("-") & ~out.startswith("-"),
                 F.concat(F.lit("-"), out)).otherwise(out)
    return out


# --- P6: dates/times (utils/parse-date.ts, convertor.ts:1051-1134) ----------

_DATEFNS_TO_JAVA = [
    ("XXX", "XXX"), ("XX", "XX"), ("X", "X"),
]


def _split_tz_pattern(fmt: str) -> tuple[str, bool]:
    """date-fns formats may end in X/XX/XXX timezone tokens; Spark's parser
    handles them, but canonical output must *preserve* the original offset
    (reference splitTz: parse-date.ts:47-61), so we strip the token and parse
    the local part separately."""
    m = re.search(r"\s*X{1,3}$", fmt)
    if m:
        return fmt[: m.start()], True
    return fmt, False


_TZ_SUFFIX = r"(Z|[+-]\d{2}:?\d{2}|[+-]\d{2})\s*$"
_TZ_TAIL = r"(Z|[+-]\d{2}:?\d{2}|[+-]\d{2})$"  # over the rtrim'd ≤6-char tail


def _extract_tz(value: Column) -> tuple[Column, Column]:
    """(local_part, normalized_offset_or_'')

    r6: the offset pattern is anchored at the (whitespace-stripped) END and
    is at most 6 chars, so the per-row regex runs over the last ≤6 chars
    instead of the whole lexical (~2× on the extraction); the stripped-tail
    window provably contains every match of the original ``(tz)\\s*$``
    search. The extracted shapes are exactly Z / ±HH / ±HHMM / ±HH:MM, so
    the normalization discriminates on length instead of two more regexes."""
    tail = F.substring(F.rtrim(value, F.lit(" \t\n\x0b\f\r")), -6, 6)
    tz = F.regexp_extract(tail, _TZ_TAIL, 1)
    local = F.when(tz != "", F.regexp_replace(value, _TZ_SUFFIX, "")).otherwise(value)
    norm = (
        F.when(tz == "Z", F.lit("Z"))
        .when(F.length(tz) == 5,
              F.concat(tz.substr(1, 3), F.lit(":"), tz.substr(4, 2)))
        .when(F.length(tz) == 3, F.concat(tz, F.lit(":00")))
        .otherwise(tz)
    )
    return local, norm


def datetime_parts(value: Column, dt: DatatypeSpec) -> dict[str, Column]:
    """Pre-parse intermediates of the datetime pipeline: the parsed ``ts``
    timestamp and the normalized original ``tz`` offset string.

    Exposed separately (like :func:`numeric_parts`) so plan builders can
    materialize them as real columns — the canonicalization references
    ``ts`` ~5 times and each inline copy duplicates the whole
    tz-split + parse-dispatch subtree; the duplication is what pushes the
    fused mapping stage past janino's 64 KB per-method limit."""
    base = "dateTime" if dt.base == "datetime" else dt.base
    fmt = dt.format if isinstance(dt.format, str) else None
    local, tz = _extract_tz(value)

    if fmt:
        fmt_local, _ = _split_tz_pattern(fmt)
        fmt_local = fmt_local.replace("T", "'T'") if "'" not in fmt_local and "T" in fmt_local and base != "time" else fmt_local
        ts = F.try_to_timestamp(F.trim(local), F.lit(fmt_local))
    elif base == "date":
        ts = F.try_to_timestamp(local, F.lit("yyyy-MM-dd"))
    elif base == "time":
        # shape-dispatch on cheap regexes so exactly ONE parse attempt runs:
        # a coalesce of try_to_timestamp calls costs a caught Java parse
        # exception per non-matching pattern per row (measured: one datetime
        # column ≈ 6× the cost of an integer column, dominated by the misses)
        ts = (
            F.when(local.rlike(r"\.\d{6}$"),
                   F.try_to_timestamp(local, F.lit("HH:mm:ss.SSSSSS")))
            .when(local.rlike(r"\.\d{3}$"),
                  F.try_to_timestamp(local, F.lit("HH:mm:ss.SSS")))
            .otherwise(F.try_to_timestamp(local, F.lit("HH:mm:ss")))
        )
    else:
        ts = (
            F.when(local.rlike(r"\.\d{6}$"),
                   F.try_to_timestamp(local, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))
            .when(local.rlike(r"\.\d{3}$"),
                  F.try_to_timestamp(local, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSS")))
            .when(local.contains("T"),
                  F.try_to_timestamp(local, F.lit("yyyy-MM-dd'T'HH:mm:ss")))
            .otherwise(F.try_to_timestamp(local, F.lit("yyyy-MM-dd HH:mm:ss")))
        )
    return {"ts": ts, "tz": tz}


def parse_datetime(value: Column, dt: DatatypeSpec) -> Column:
    """Canonical ISO lexical form for date/time/dateTime(+Stamp) cells.

    Canonical shapes (reference: convertor.ts:1068-1090): date ``yyyy-MM-dd``;
    time ``HH:mm:ss[.fff]``; dateTime ``yyyy-MM-dd'T'HH:mm:ss[.fff]`` — each
    with the *original* timezone offset appended if one was given.
    """
    p = datetime_parts(value, dt)
    return parse_datetime_from_parts(value, p["ts"], p["tz"], dt)


def parse_datetime_from_parts(value: Column, ts: Column, tz: Column,
                              dt: DatatypeSpec) -> Column:
    """The datetime canonicalization proper, over (ideally attribute)
    intermediates — see :func:`datetime_parts`."""
    base = "dateTime" if dt.base == "datetime" else dt.base
    has_tz = tz != ""

    # one date_format INCLUDING the .SSS fraction, then trim trailing
    # fraction zeros (and the then-bare '.'): the '.' always present in the
    # rendered fraction stops rtrim('0') from eating seconds digits. Replaces
    # a second date_format + regexp_replace per value (r6: ~2.5× on the
    # datetime column; equivalence battery in tests/test_cells_canon.py).
    if base == "date":
        lex = F.date_format(ts, "yyyy-MM-dd")
    elif base == "time":
        lex = F.rtrim(F.rtrim(F.date_format(ts, "HH:mm:ss.SSS"),
                              F.lit("0")), F.lit("."))
    else:
        lex = F.rtrim(F.rtrim(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS"),
                              F.lit("0")), F.lit("."))
    lex = F.when(has_tz, F.concat(lex, tz)).otherwise(lex)

    ok = ts.isNotNull()
    if base == "dateTimeStamp":
        ok = ok & has_tz
    ok = _apply_datetime_min_max(ok, ts, dt)
    return F.when(ok, lex).otherwise(_invalid(value))


def _apply_datetime_min_max(ok: Column, ts: Column, dt: DatatypeSpec) -> Column:
    """Date range facets (convertor.ts:1093-1134)."""
    for attr, mk in (("minimum", lambda b: ts >= b), ("maximum", lambda b: ts <= b),
                     ("minExclusive", lambda b: ts > b), ("maxExclusive", lambda b: ts < b)):
        bound = getattr(dt, attr)
        if bound is not None:
            ok = ok & mk(F.to_timestamp(F.lit(str(bound))))
    return ok


# --- P7: booleans (convertor.ts:1027-1049) ----------------------------------

def parse_boolean(value: Column, dt: DatatypeSpec) -> Column:
    if isinstance(dt.format, str) and "|" in dt.format:
        true_val, false_val = dt.format.split("|", 1)
        return (
            F.when(value == true_val, F.lit("true"))
            .when(value == false_val, F.lit("false"))
            .otherwise(_invalid(value))
        )
    return (
        F.when(value.isin("true", "1"), F.lit("true"))
        .when(value.isin("false", "0"), F.lit("false"))
        .otherwise(_invalid(value))
    )


# --- P8/P9: regex-format + length validation --------------------------------

def validate_other(value: Column, dt: DatatypeSpec) -> Column:
    """Non-numeric/date/bool types: optional regex ``format`` (or the default
    lexical regex for duration/binary/g* types) + length facets."""
    ok = F.lit(True)
    fmt = dt.format if isinstance(dt.format, str) else None
    regex = fmt or DEFAULT_FORMAT_RES.get(dt.base)
    if regex is not None:
        # user-supplied format is an anchored full match in the reference
        ok = ok & value.rlike(f"^(?:{regex})$")
    ok = ok & _length_ok(value, dt)
    return F.when(ok, value).otherwise(_invalid(value))


def _length_ok(value: Column, dt: DatatypeSpec) -> Column:
    """P9 (convertor.ts:990-1025): hexBinary length/2; base64 decoded bytes."""
    if dt.length is None and dt.minLength is None and dt.maxLength is None:
        return F.lit(True)
    if dt.base == "hexBinary":
        eff = (F.length(value) / 2).cast("int")
    elif dt.base in ("base64Binary", "binary"):
        eff = F.length(F.unbase64(value))
    else:
        eff = F.length(value)
    ok = F.lit(True)
    if dt.length is not None:
        ok = ok & (eff == dt.length)
    if dt.minLength is not None:
        ok = ok & (eff >= dt.minLength)
    if dt.maxLength is not None:
        ok = ok & (eff <= dt.maxLength)
    return ok


# --- datatype dispatch -------------------------------------------------------

def parse_datatype(value: Column, dt: DatatypeSpec) -> Column:
    """interpretDatatype (convertor.ts:897-914): canonical lexical or tagged."""
    base = dt.base
    if base in NUMERIC_TYPES:
        return parse_number(value, dt)
    if base in DATE_TYPES or base == "dateTimeStamp":
        return parse_datetime(value, dt)
    if base == "boolean":
        return parse_boolean(value, dt)
    return validate_other(value, dt)


def scalar_parse_parts(v: Column, col: ColumnSpec) -> dict[str, Column] | None:
    """Heavily-referenced intermediates of the scalar datatype parse, for
    plan builders to materialize as REAL COLUMNS between the normalize and
    parse projections (None when the column has nothing stage-able:
    separator cells — the parts would be per-item —, the LDML pandas-UDF
    path, and bases whose parse is a single cheap expression).

    Without this staging the parse subtrees are duplicated at every
    reference inside one generated method; on a 7-column table the decimal
    canonicalization alone grew ONE janino method past 64 KB and the whole
    fused mapping stage silently fell back to interpreted execution."""
    dt = col.datatype
    if col.separator is not None:
        return None
    if dt.base in NUMERIC_TYPES:
        if _number_format_opts(dt.format)[2] is not None:
            return None  # LDML pattern path is a pandas UDF
        return numeric_parts(v, dt)
    if dt.base in DATE_TYPES or dt.base == "dateTimeStamp":
        return datetime_parts(v, dt)
    return None


def parse_scalar_from_parts(v: Column, col: ColumnSpec,
                            parts: dict[str, Column]) -> Column:
    """Scalar datatype parse over staged intermediates (see
    :func:`scalar_parse_parts`)."""
    dt = col.datatype
    if dt.base in NUMERIC_TYPES:
        return parse_number_from_parts(v, parts, dt)
    return parse_datetime_from_parts(v, parts["ts"], parts["tz"], dt)


# --- full cell pipeline ------------------------------------------------------

def cell_norm(raw: Column, col: ColumnSpec) -> Column:
    """P1+P2 (whitespace normalize + default substitution) — the ``v`` the
    rest of the pipeline consumes.

    Split out so plan builders can materialize it as a real column: the
    datatype parsers reference ``v`` many times, and inlining this subtree
    at every reference multiplies the expression until janino's 64 KB
    per-method bytecode limit kills whole-stage codegen (measured: the
    7-column lineitem mapping fell back to interpreted, ~11× slower)."""
    base = col.datatype.base
    v = normalize_ws(raw.cast("string"), base)                         # P1
    if col.default:
        v = F.when((v == "") | v.isNull(), F.lit(col.default)).otherwise(v)  # P2
    else:
        v = F.coalesce(v, F.lit(""))
    return v


def cell_values(raw: Column, col: ColumnSpec) -> Column:
    """Compile the whole cell pipeline for one column (single-expression
    form; plan builders that control projections should stage
    :func:`cell_norm` first and call :func:`cell_values_from_norm`).

    Returns ``array<string>`` of canonical lexical values; NULL when the cell
    is null (→ no triple, P3); multi-element for separator cells (P4).
    """
    return cell_values_from_norm(cell_norm(raw, col), col)


def cell_values_from_norm(v: Column, col: ColumnSpec,
                          parts: dict[str, Column] | None = None) -> Column:
    """P3–P10 over an already-normalized cell string (ideally an attribute —
    see :func:`cell_norm`). ``parts``: staged parse intermediates from
    :func:`scalar_parse_parts` (plan builders that control projections
    should materialize them as columns; see why in its docstring)."""
    base = col.datatype.base
    null_check = v.isin(*col.null) if col.null else F.lit(False)       # P3

    if col.separator is not None:                                       # P4
        items = F.when(v == "", F.array().cast("array<string>")).otherwise(
            F.split(v, re.escape(col.separator)))
        if base not in ("string", "anyAtomicType", "any"):
            items = F.transform(items, lambda x: F.trim(x))
        items = F.filter(items, lambda x: ~x.isin(*col.null) if col.null else F.lit(True))
        parsed = F.transform(items, lambda x: parse_datatype(x, col.datatype))
    elif parts is not None:
        parsed = F.array(parse_scalar_from_parts(v, col, parts))
    else:
        parsed = F.array(parse_datatype(v, col.datatype))

    return F.when(null_check, F.lit(None).cast("array<string>")).otherwise(parsed)


def required_violation(raw: Column, col: ColumnSpec) -> Column:
    """True where a required cell is null (→ issues DF; convertor.ts:735-740)."""
    if not col.required:
        return F.lit(False)
    v = normalize_ws(raw.cast("string"), col.datatype.base)
    if col.default:
        v = F.when((v == "") | v.isNull(), F.lit(col.default)).otherwise(v)
    else:
        v = F.coalesce(v, F.lit(""))
    return v.isin(*col.null) if col.null else F.lit(False)
