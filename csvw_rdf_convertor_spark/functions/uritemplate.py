"""RFC 6570 URI templates compiled to Spark Column expressions.

The reference parses each aboutUrl/propertyUrl/valueUrl template once per
table and expands it per row with url-template's ``parseTemplate().expand``
over the whole row record plus the specials ``_column, _sourceColumn, _row,
_sourceRow, _name`` (reference: csvw2rdf/convertor.ts:383-401, 687-699,
1218-1246).

Here the template is compiled ONCE at plan-build time into a ``F.concat`` of
literal segments and per-variable encoded column references — the expansion
runs JVM-side inside whole-stage codegen, no Python in the row path.

Supported RFC 6570 surface (covers the CSVW test corpus and the reference's
full ``parseTemplate().expand`` for string-valued row records,
convertor.ts:1225-1232): operators ``{var} {+var} {#var} {.var} {/var}
{;var} {?var} {&var}``, multi-variable lists, the **prefix modifier**
``{var:3}`` (truncate the value before encoding) and the **explode
modifier** ``{list*}`` (for the string-valued variables a CSVW row record
carries, explode expands identically to the simple form — RFC 6570 §3.2.1:
explode only changes composite-value joining). Undefined variables
contribute nothing: no separator, and the operator's first-character only
appears when at least one variable of the expression is defined.
"""

from __future__ import annotations

import re
from collections.abc import Mapping
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

_EXPR_RE = re.compile(r"\{([+#./;?&]?)([^}]+)\}")


class VarSpec(NamedTuple):
    """One varspec of an expression: name, prefix length (``{var:3}``),
    explode flag (``{list*}``)."""
    name: str
    maxlen: int | None
    explode: bool


#: operator → (first_char, separator, named, reserved_ok)  — RFC 6570 §2.2
_OPS = {
    "": ("", ",", False, False),
    "+": ("", ",", False, True),
    "#": ("#", ",", False, True),
    ".": (".", ".", False, False),
    "/": ("/", "/", False, False),
    ";": (";", ";", True, False),
    "?": ("?", "&", True, False),
    "&": ("&", "&", True, False),
}


def pct_encode(col: Column) -> Column:
    """RFC 3986 percent-encoding of everything but unreserved chars.

    Built on ``F.url_encode`` (Java URLEncoder, form-encoding) with fixups to
    RFC semantics: space ``+``→``%20``, ``%7E``→``~``, ``*``→``%2A``.
    Stays JVM-side (URLEncoder is deterministic UTF-8 here).
    """
    e = F.url_encode(col)
    e = F.replace(e, F.lit("+"), F.lit("%20"))
    e = F.replace(e, F.lit("%7E"), F.lit("~"))
    e = F.replace(e, F.lit("*"), F.lit("%2A"))
    # fast path (r6): a value of only unreserved chars [A-Za-z0-9._~-] is a
    # fixed point of the whole chain (url_encode keeps [A-Za-z0-9._*-] and
    # '~' round-trips through the %7E fixup; '*' is deliberately NOT in the
    # guard since the chain rewrites it) — one cheap regex test skips the
    # URLEncoder allocation + three replace scans per variable per row.
    return F.when(col.rlike("^[A-Za-z0-9._~-]*$"), col).otherwise(e)


def _encode_reserved_ok(col: Column) -> Column:
    """``{+var}`` / ``{#var}`` expansion: keep reserved + unreserved chars and
    existing pct-triplets; encode only illegal chars (space, quotes, <>, etc.).
    """
    out = col
    for ch, enc in ((" ", "%20"), ('"', "%22"), ("<", "%3C"), (">", "%3E"),
                    ("\\", "%5C"), ("^", "%5E"), ("`", "%60"), ("{", "%7B"),
                    ("|", "%7C"), ("}", "%7D")):
        out = F.replace(out, F.lit(ch), F.lit(enc))
    return out


def parse_template(template: str) -> list[tuple[str, str, list[VarSpec]]]:
    """Split a template into [('lit', text, []) | ('expr', op, [VarSpec])]."""
    parts: list[tuple[str, str, list[VarSpec]]] = []
    pos = 0
    for m in _EXPR_RE.finditer(template):
        if m.start() > pos:
            parts.append(("lit", template[pos:m.start()], []))
        specs = []
        for v in m.group(2).split(","):
            explode = v.endswith("*")
            v = v.rstrip("*")
            name, _, ml = v.partition(":")
            specs.append(VarSpec(name, int(ml) if ml.isdigit() else None,
                                 explode))
        parts.append(("expr", m.group(1), specs))
        pos = m.end()
    if pos < len(template):
        parts.append(("lit", template[pos:], []))
    return parts


def variables(template: str) -> set[str]:
    return {s.name for kind, _, vs in parse_template(template)
            if kind == "expr" for s in vs}


def compile_template(template: str, row_record: Mapping[str, Column],
                     base: str = "") -> Column:
    """Compile a URI template to one Column expression.

    ``row_record`` maps variable name → Column of the *string* cell value
    (parsed lexical form, per the reference's rowRecord fill at
    convertor.ts:687-699). Missing variables expand to '' (undefined in
    RFC 6570). If every variable of the expansion is NULL the whole result is
    NULL only when the template is a single bare expression — matching the
    reference where an aboutUrl of a null cell still expands with '' for the
    missing var.

    Base-IRI resolution happens at the driver for the literal head; relative
    templates get the base prefixed (cheap approximation of url.resolve,
    sufficient for fragment/relative-path templates in the corpus).
    """
    parts = parse_template(template)
    cols: list[Column] = []
    for kind, op, vs in parts:
        if kind == "lit":
            cols.append(F.lit(op))
            continue
        first_char, sep, named, reserved_ok = _OPS[op]
        enc = _encode_reserved_ok if reserved_ok else pct_encode
        defined = [s for s in vs if s.name in row_record]
        if not defined:
            continue  # all-undefined expression → nothing, not even first
        if first_char:
            cols.append(F.lit(first_char))
        for i, s in enumerate(defined):
            if i:
                cols.append(F.lit(sep))
            sval = F.coalesce(row_record[s.name].cast("string"), F.lit(""))
            if s.maxlen is not None:
                # prefix modifier truncates the VALUE before encoding
                sval = F.substring(sval, 1, s.maxlen)
            ev = enc(sval)
            if named:
                # {;x}: bare name when value empty; {?x}/{&x}: 'name='
                ifemp = "" if op == ";" else "="
                cols.append(F.concat(
                    F.lit(s.name),
                    F.when(sval == "", F.lit(ifemp))
                    .otherwise(F.concat(F.lit("="), ev))))
            else:
                # explode on a string value == simple expansion (RFC 6570
                # §3.2.1 — explode only changes composite-value joining,
                # and CSVW row records are strings)
                cols.append(ev)
    out = F.concat(*cols) if cols else F.lit("")
    if base and template_reads_base(template):
        # RFC 3986 resolution against base, decided on the *expanded* value:
        # absolute IRIs pass through, '#frag' appends to base, relative paths
        # resolve against the base directory. r6: when the template's
        # leading LITERAL already decides the branch (it usually does —
        # '#row-{n}', 'item/{id}'), resolve at PLAN time and skip the
        # per-row scheme regex + branch entirely.
        mode = _static_resolution(_head(parts))
        if mode == "frag":
            out = F.concat(F.lit(base), out)
        elif mode == "rel":
            out = F.concat(F.lit(_dir_of(base)), out)
        else:
            absolute = out.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:")
            out = (
                F.when(absolute, out)
                .when(out.startswith("#"), F.concat(F.lit(base), out))
                .otherwise(F.concat(F.lit(_dir_of(base)), out))
            )
    return out


def _head(parts) -> str:
    return parts[0][1] if parts and parts[0][0] == "lit" else ""


def template_reads_base(template: str) -> bool:
    """Whether ``compile_template(template, …, base)`` reads ``base``: not
    when the template, or its leading literal, is already absolute
    (``http://ex.org/{id}``, ``urn:x:{id}``)."""
    return not (re.match(r"^[A-Za-z][\w+.-]*:", template)
                or _static_resolution(_head(parse_template(template))) == "abs")


def _static_resolution(head: str) -> str | None:
    """Decide the RFC 3986 resolution branch from the template's leading
    literal alone, when possible (else None → per-row branch).

    The expanded IRI starts with ``head``; the absolute test is the prefix
    regex ``^[A-Za-z][A-Za-z0-9+.-]*:``, so: a scheme match inside ``head``
    ⇒ always absolute; a '#' first char ⇒ always fragment; a non-scheme
    char before ``head``'s first ':' (or anywhere, when ``head`` has no
    ':') poisons every longer prefix ⇒ never absolute, and the first char
    (non-'#') fixes the branch to relative. Only an empty or all-scheme-
    char colon-free head leaves the branch to the expansion."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", head):
        return "abs"
    if head.startswith("#"):
        return "frag"
    if not head:
        return None
    if ":" in head:
        return "rel"          # scheme test failed within head itself
    if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*$", head):
        return "rel"          # a poisoning char precedes any future ':'
    return None


def _dir_of(base: str) -> str:
    return base.rsplit("/", 1)[0] + "/" if "/" in base else base


# --- templateIris (IDN + decodeURI) post-pass --------------------------------
#
# The reference's default templateIris=true transform (convertor.ts:1235-1243):
# IDN-decode the hostname, then decodeURI the whole IRI. ``idn_hosts`` and
# ``decode_uri`` are its two halves as JVM Column expressions (no Python in
# the row path); ``template_iris_value`` and its helpers are the pure-Python
# twin the tests hold them to.

#: escapes JS ``decodeURI`` leaves intact (reserved set: # $ & + , / : ; = ? @)
_DECODE_URI_KEEP = re.compile(
    r"(%(?:23|24|26|2[bB]|2[cC]|2[fF]|3[aA]|3[bB]|3[dD]|3[fF]|40))")
_HOST_RE = re.compile(r"^([A-Za-z][\w+.-]*://)([^/?#]*)(.*)$", re.S)

#: ``_HOST_RE`` in Java syntax. Python's str ``\w`` is letters, numbers and
#: '_'; Java's ``(?U)\w`` would add combining marks and drop ``No`` numbers
_HOST_RE_JVM = r"(?s)^([A-Za-z][\p{L}\p{N}_+.-]*://)([^/?#]*)(.*)$"
#: ``java.net.IDN.ALLOW_UNASSIGNED``: Python's nameprep allows unassigned
#: code points too
_IDN_ALLOW_UNASSIGNED = 1
#: the '%' of a kept escape or of a stray '%' (one that starts no %XX,
#: which Python's unquote keeps and URLDecoder throws on)
_PCT_TO_ESCAPE = "%(?=2[346BCFbcf]|3[ABDFabdf]|40|(?![0-9A-Fa-f]{2}))"


def _utf8_escapes_re() -> str:
    """A Java regex matching a whole string whose every %XX run is UTF-8
    (RFC 3629 byte ranges: no overlongs, surrogates or code points past
    U+10FFFF). Other text and stray '%' pass."""
    h = "[0-9A-Fa-f]"
    cont = f"%[89ABab]{h}"
    seqs = [f"%[0-7]{h}",                                  # ASCII
            f"%[Cc][2-9A-Fa-f]{cont}", f"%[Dd]{h}{cont}",  # C2-DF
            f"%[Ee]0%[ABab]{h}{cont}",                     # E0 A0-BF
            f"%[Ee][1-9A-Ca-cEFef]{cont}{cont}",           # E1-EC, EE-EF
            f"%[Ee][Dd]%[89]{h}{cont}",                    # ED 80-9F
            f"%[Ff]0%[9ABab]{h}{cont}{cont}",              # F0 90-BF
            f"%[Ff][1-3]{cont}{cont}{cont}",               # F1-F3
            f"%[Ff]4%8{h}{cont}{cont}"]                    # F4 80-8F
    return rf"^(?:[^%]++|%(?!{h}{{2}})|{'|'.join(seqs)})*+\z"


_UTF8_ESCAPES = _utf8_escapes_re()


def js_decode_uri(s: str) -> str:
    """JS ``decodeURI`` twin: decode every %XX except the reserved set.
    A malformed escape run (not UTF-8, e.g. ``%ab``) leaves ``s`` as it is
    (JS throws URIError; a data engine keeps the row and the IRI)."""
    import urllib.parse
    parts = _DECODE_URI_KEEP.split(s)  # odd items: the kept escapes
    try:
        return "".join(p if i % 2 else urllib.parse.unquote(p, errors="strict")
                       for i, p in enumerate(parts))
    except UnicodeDecodeError:
        return s


def idn_to_unicode(host: str) -> str:
    """Punycode host labels → Unicode (stdlib IDNA codec; the reference uses
    UTS46 toUnicode — identical for the xn-- labels CSVW inputs carry)."""
    try:
        return ".".join(
            label.encode("ascii").decode("idna") if label.startswith("xn--")
            else label
            for label in host.split("."))
    except (UnicodeError, UnicodeDecodeError):
        return host


def template_iris_value(uri: str) -> str:
    """The reference's default templateIris=true transform
    (convertor.ts:1235-1243): IDN-decode the hostname, then decodeURI the
    whole IRI."""
    m = _HOST_RE.match(uri)
    if m:
        scheme, host, rest = m.groups()
        uri = scheme + idn_to_unicode(host) + rest
    return js_decode_uri(uri)


def _idn(method: str, label: Column) -> Column:
    return F.try_reflect(F.lit("java.net.IDN"), F.lit(method), label,
                         F.lit(_IDN_ALLOW_UNASSIGNED))


def _idn_label(label: Column) -> Column:
    """One host label as :func:`idn_to_unicode` treats it: only a label that
    starts with lower-case ``xn--`` is decoded; NULL when that fails.

    It fails when the label is not ASCII, when ``IDN.toUnicode`` (which
    never throws) hands it back unchanged, or when its decoding, lower-cased
    first as Python's nameprep does with its newer Unicode tables (Georgian
    capitals, say), does not encode back to the label."""
    uni = F.nullif(_idn("toUnicode", label), label)
    return (F.when(~label.startswith("xn--"), label)
            .when(~label.rlike("[^\\x00-\\x7F]")
                  & (_idn("toASCII", F.lower(uni)) == F.lower(label)), uni))


def idn_hosts(iri: Column) -> Column:
    """JVM twin of the IDN half of :func:`template_iris_value`: the host of
    a ``scheme://host…`` IRI with its ``xn--`` labels decoded, or the IRI
    unchanged when any of them fails to decode.

    Known residue: a label decoding to code points Unicode 3.2 leaves
    unassigned can still differ, where Python's stdlib and Java disagree on
    their bidi class or combining order (2 labels in 62k random IRIs).

    ``try_reflect`` is nondeterministic to the optimizer, so project this
    in its own stage before anything that reads the result twice."""
    scheme, host, rest = (F.regexp_extract(iri, _HOST_RE_JVM, i)
                          for i in (1, 2, 3))
    labels = F.transform(F.split(host, r"\.", -1), _idn_label)
    return F.when(iri.contains("xn--") & (scheme != "")
                  & F.forall(labels, lambda x: x.isNotNull()),
                  F.concat(scheme, F.array_join(labels, "."), rest)
                  ).otherwise(iri)


def decode_uri(iri: Column) -> Column:
    """JVM twin of :func:`js_decode_uri` on ``URLDecoder``
    (``try_url_decode``), for IRIs whose %XX runs are all UTF-8; any other
    IRI passes through unchanged (URLDecoder would decode its bytes to
    U+FFFD). The '%' of a kept escape or a stray '%' is escaped first, and
    '+', which URLDecoder reads as a space."""
    esc = F.regexp_replace(iri, _PCT_TO_ESCAPE, "%25")
    dec = F.try_url_decode(F.replace(esc, F.lit("+"), F.lit("%2B")))
    return F.coalesce(
        F.when(iri.contains("%") & iri.rlike(_UTF8_ESCAPES), dec), iri)


def inverse_template_regex(template: str) -> str:
    """Named-group regex matching an expanded template — used by rdf2csvw to
    trim URI values back to cell values (reference: utils/url-trimming.ts:3-52,
    rdf2csvw/create-query.ts:275-313)."""
    out = []
    pos = 0
    for m in _EXPR_RE.finditer(template):
        out.append(re.escape(template[pos:m.start()]))
        var = m.group(2).split(",")[0].split(":")[0].rstrip("*")
        safe = re.sub(r"\W", "_", var)
        out.append(f"(?P<{safe}>.*?)" if m.group(1) in ("+", "#") else f"(?P<{safe}>[^/?#]*?)")
        pos = m.end()
    out.append(re.escape(template[pos:]))
    return "^" + "".join(out) + "$"
