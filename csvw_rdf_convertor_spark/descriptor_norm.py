"""Descriptor JSON-LD normalization: offline stand-in for the reference's
``jsonld.expand`` → ``jsonld.compact`` round-trip.

The reference (packages/core/src/lib/descriptor.ts:28-104 normalizeDescriptor)
accepts CSVW descriptors in *any* JSON-LD surface form — compact terms,
``csvw:``-prefixed keys, full ``http://www.w3.org/ns/csvw#`` IRIs,
``{"@value": ...}`` wrappers, referenced sub-descriptors — and funnels them
through jsonld.js into the one compact shape the rest of the engine consumes.
This module reproduces that normalization driver-side with no network and no
jsonld dependency, restricted to the CSVW vocabulary (that is the only
context the reference ever expands against; arbitrary remote contexts stay
out of scope — SURVEY.md §7.3.5).

Pieces mirrored, with reference lines:

- pre-expansion repair/validation of ``@id`` / ``@type`` / language maps
  (descriptor.ts:110-171 validateIdsTypesLangmaps) and of the context
  ``@language`` tag (descriptor.ts:176-190 validateLanguage);
- referenced sub-descriptor loading for ``tableSchema`` / ``dialect`` given
  as a URL string or an ``{"@id": url}``-only object
  (descriptor.ts:197-247 loadReferencedSubdescriptors);
- key compaction ``csvw:foo`` / ``…/ns/csvw#foo`` → ``foo`` including the
  W3C context's plural aliases (``#table``→``tables`` etc.), matching
  compactCsvwNs + shortenProps (descriptor.ts:287-316);
- value compaction: ``{"@value": v}`` unwrap and singleton-array collapse
  for non-``@set`` terms, as jsonld.compact would produce;
- the post-compaction validate chain (validation/{table-group,table,schema,
  column,dialect,datatype,template,inherited-properties}.ts): this module is
  the only place a descriptor property value is judged.

Inherited-property cascading and external-prop splitting stay where they
already live (spec.py:_merge_inherited, plans/external_props.py).

Everything is pure driver-side Python over descriptor-sized data; no Spark
job sees any of this.
"""

from __future__ import annotations

import copy
import re
from typing import Any, Callable

from .spec import CSVW, DATATYPE_URIS, DATE_TYPES, NUMERIC_TYPES
from .validation import Issue

#: Compact aliases from the public W3C csvw ``@context``
#: (http://www.w3.org/ns/csvw.jsonld): IRI suffix → friendly plural term.
_ALIASES = {
    "table": "tables",
    "column": "columns",
    "foreignKey": "foreignKeys",
    "title": "titles",
    "note": "notes",
    "row": "rows",
    "describes": "describes",
}

#: Terms whose values the W3C context marks ``@container: @set`` (arrays
#: survive compaction) — singleton lists are NOT collapsed for these.
_SET_TERMS = {"tables", "columns", "foreignKeys", "notes", "transformations",
              "rows", "describes", "null", "titles", "lineage"}

#: ``@type`` values the reference accepts besides absolute IRIs
#: (descriptor.ts:127-136).
_VALID_TYPES = {"Column", "Dialect", "Table", "TableGroup", "Schema",
                "Template"}

#: Keyword properties allowed through validation (descriptor.ts:160-163 plus
#: the keys handled by earlier branches).
_ALLOWED_KEYWORDS = {"@set", "@list", "@value", "@context", "@id", "@type",
                     "@language", "@base", "@vocab"}

_BCP47 = re.compile(r"^[A-Za-z]{2,8}(-[A-Za-z0-9]{1,8})*$")
_ABS_IRI = re.compile(r"^[A-Za-z][\w+.-]*:")

Loader = Callable[[str], Any]


# --- pre-expansion validation (descriptor.ts:110-190) ----------------------

def validate_ids_types_langmaps(obj: Any, issues: list[Issue],
                                loc: str = "$") -> None:
    """Repair non-string ``@id``s, flag blank-node ids/types, drop invalid
    language-map titles — in place (descriptor.ts:110-171)."""
    if isinstance(obj, list):
        for i, item in enumerate(obj):
            validate_ids_types_langmaps(item, issues, f"{loc}[{i}]")
        return
    if not isinstance(obj, dict):
        return
    for key in list(obj):
        val = obj[key]
        if key == "@id":
            if not isinstance(val, str):
                issues.append(Issue("warning", "", loc,
                                    f"Invalid @id: {val!r}"))
                obj[key] = ""
            elif val.startswith("_:"):
                issues.append(Issue("error", "", loc,
                                    "@id cannot be a blank node"))
        elif key == "@type":
            for t in val if isinstance(val, list) else [val]:
                if not isinstance(t, str):
                    issues.append(Issue("error", "", loc,
                                        f"Invalid @type: {t!r}"))
                elif t.startswith("_:"):
                    issues.append(Issue("error", "", loc,
                                        "@type cannot be a blank node"))
                elif not _ABS_IRI.match(t) and t not in _VALID_TYPES:
                    issues.append(Issue("error", "", loc,
                                        f"Invalid @type: {t!r}"))
        elif key in ("titles", CSVW + "title", "csvw:title"):
            if isinstance(val, dict):
                for lang in list(val):
                    v = val[lang]
                    ok = isinstance(v, str) or (
                        isinstance(v, list)
                        and all(isinstance(t, str) for t in v))
                    if not ok:
                        issues.append(Issue("warning", "", f"{loc}.{key}",
                                            f"Invalid title: {v!r}"))
                        del val[lang]
        elif key == "@language":
            if "@value" not in obj:
                issues.append(Issue(
                    "error", "", loc,
                    "A @language property must not be used on an object "
                    "unless it also has a @value property."))
        elif (key.startswith("@")
              and key not in _ALLOWED_KEYWORDS):
            issues.append(Issue("error", "", loc,
                                f"Invalid keyword property: {key}"))
        elif isinstance(val, (dict, list)) and key != "@context":
            validate_ids_types_langmaps(val, issues, f"{loc}.{key}")


def validate_context_language(raw: dict, issues: list[Issue]) -> None:
    """Drop non-BCP47 ``@language`` from the context, with a warning
    (descriptor.ts:176-190)."""
    ctx = raw.get("@context")
    parts = ctx if isinstance(ctx, list) else [ctx]
    for part in parts:
        if isinstance(part, dict) and part.get("@language"):
            if not _BCP47.match(str(part["@language"])):
                issues.append(Issue(
                    "warning", "", "$.@context",
                    f"Invalid language tag: {part['@language']}"))
                del part["@language"]


# --- key/value compaction (descriptor.ts:287-316) ---------------------------

def _short_key(key: str) -> str | None:
    """csvw-namespace key → compact term; None when not a csvw key."""
    if key.startswith(CSVW):
        suffix = key[len(CSVW):]
    elif key.startswith("csvw:"):
        suffix = key[5:]
    else:
        return None
    return _ALIASES.get(suffix, suffix)


def _compact_value(term: str | None, val: Any) -> Any:
    """Value as jsonld.compact would emit it for a csvw term: unwrap plain
    ``@value`` wrappers and ``{"@id": u}``-only link objects, collapse
    singleton arrays for non-@set terms."""
    if isinstance(val, list):
        out = [_compact_value(term, v) for v in val]
        if len(out) == 1 and term is not None and term not in _SET_TERMS:
            return out[0]
        return out
    if isinstance(val, dict):
        if set(val) == {"@value"}:
            return val["@value"]
        if set(val) == {"@id"} and isinstance(val["@id"], str):
            return val["@id"]
        return val
    return val


def _compact_keys(obj: Any) -> Any:
    """Recursively rewrite csvw-namespace keys to compact terms; leave
    other-namespace keys (external props, T8) untouched."""
    if isinstance(obj, list):
        return [_compact_keys(o) for o in obj]
    if not isinstance(obj, dict):
        return obj
    out: dict[str, Any] = {}
    for key, val in obj.items():
        if key == "@context":
            out[key] = val
            continue
        if key == "@type":
            out[key] = _compact_value("@type", _compact_type(val))
            continue
        short = _short_key(key)
        if short is not None:
            out[short] = _compact_value(short, _compact_keys(val))
        elif key.startswith("@"):
            out[key] = _compact_keys(val)
        elif ":" not in key:
            # bare term: already-compact csvw property — still recurse so
            # nested wrappers/@types/prefixed keys normalize
            out[key] = _compact_value(key, _compact_keys(val))
        else:
            # namespaced non-csvw key: external property, preserved verbatim
            # for the splitExternalProps analogue (plans/external_props.py)
            out[key] = val
    return out


def _compact_type(val: Any) -> Any:
    if isinstance(val, list):
        return [_compact_type(v) for v in val]
    if isinstance(val, str) and val.startswith(CSVW):
        return val[len(CSVW):]
    if isinstance(val, str) and val.startswith("csvw:"):
        return val[5:]
    return val


# --- referenced sub-descriptors (descriptor.ts:197-247) ---------------------

def _ref_url(val: Any) -> str | None:
    """URL of a sub-descriptor reference: a bare string, or an object whose
    only key is ``@id`` (the shape jsonld.expand leaves — descriptor.ts:215)."""
    if isinstance(val, str):
        return val
    if isinstance(val, dict) and set(val) == {"@id"} \
            and isinstance(val["@id"], str):
        return val["@id"]
    return None


def load_referenced_subdescriptors(raw: dict, loader: Loader,
                                   issues: list[Issue], base: str = "") -> None:
    """Inline ``tableSchema`` / ``dialect`` references, in place."""
    targets = [raw] + list(raw.get("tables") or [])
    for obj in targets:
        if not isinstance(obj, dict):
            continue
        for key in ("tableSchema", "dialect"):
            url = _ref_url(obj.get(key))
            if url is None:
                continue
            full = (base.rstrip("/") + "/" + url
                    if base and not _ABS_IRI.match(url) and not
                    url.startswith("/") else url)
            sub = loader(full)
            if not isinstance(sub, dict):
                issues.append(Issue("error", "", f"$.{key}",
                                    f"Referenced {key} at {url} is not an "
                                    "object"))
                continue
            sub = copy.deepcopy(sub)
            if not isinstance(sub.get("@id"), str):
                sub.pop("@id", None)
                sub["@id"] = url
            validate_ids_types_langmaps(sub, issues, f"$.{key}")
            validate_context_language(sub, issues)
            sub.pop("@context", None)
            obj[key] = _compact_keys(sub)


# --- post-compaction validation (validation/*.ts) ---------------------------
#
# The one walk that judges descriptor property values. Each invalid value is
# dropped (or coerced to the reference's default) with exactly one "Invalid
# value" warning at its ``$.…`` location, so parse_descriptor only ever sees
# values it can use.

#: BCP 47-ish tag of an inherited ``lang`` (validation/generic.ts validateLang
#: — bcp47-validate); stricter than the context ``@language`` rule above
_LANG_RE = re.compile(r"^[A-Za-z]{2,3}(-[A-Za-z0-9]{1,8})*$|^\*$")

#: legal characters of an LDML number pattern (validation/datatype.ts:19)
_NUMBER_PATTERN_RE = re.compile(r"^[0#,.eE+%‰-]+$")

_TEXT_DIRECTIONS = ("ltr", "rtl", "auto", "inherit")

#: transformation definition keys (validation/template.ts:5-14)
_TEMPLATE_KEYS = {"notes", "url", "scriptFormat", "targetFormat", "source",
                  "titles", "@id", "@type"}


def _is_lang_tag(k: str) -> bool:
    return k == "@none" or bool(_BCP47.match(k))


def _valid_titles(val: Any) -> bool:
    """langMapArraySchema (validation/generic.ts:164-177)."""
    if isinstance(val, str):
        return True
    if isinstance(val, list):
        return all(isinstance(v, str) for v in val)
    if isinstance(val, dict):
        return all(
            isinstance(k, str) and _is_lang_tag(k)
            and (isinstance(v, str)
                 or (isinstance(v, list)
                     and all(isinstance(x, str) for x in v)))
            for k, v in val.items())
    return False


_DELETE = object()


def _drop(obj: dict, key: str, issues: list[Issue], loc: str,
          to: Any = _DELETE) -> None:
    """Warn about ``obj[key]``, then delete it, or coerce it to ``to``."""
    issues.append(Issue("warning", "", loc,
                        f"Invalid value for {key}: {obj[key]!r}"))
    if to is _DELETE:
        del obj[key]
    else:
        obj[key] = to


#: dialect property → type/validate (validation/dialect.ts:12-51); invalid →
#: warning + delete, so DialectSpec defaults apply.
_DIALECT_CHECKS: dict[str, Callable[[Any], bool]] = {
    "commentPrefix": lambda v: isinstance(v, str),
    "delimiter": lambda v: isinstance(v, str),
    "doubleQuote": lambda v: isinstance(v, bool),
    "encoding": lambda v: isinstance(v, str) and v.lower() in (
        "ascii", "utf8", "utf-8", "utf16le", "ucs2", "base64", "latin1",
        "binary", "hex"),
    "header": lambda v: isinstance(v, bool),
    "headerRowCount": lambda v: isinstance(v, (int, float))
    and not isinstance(v, bool) and v >= 0,
    "lineTerminators": lambda v: isinstance(v, (str, list)),
    "quoteChar": lambda v: isinstance(v, str) or v is None,
    "skipBlankRows": lambda v: isinstance(v, bool),
    "skipColumns": lambda v: isinstance(v, (int, float))
    and not isinstance(v, bool) and v >= 0,
    "skipInitialSpace": lambda v: isinstance(v, bool),
    "skipRows": lambda v: isinstance(v, (int, float))
    and not isinstance(v, bool) and v >= 0,
    "trim": lambda v: isinstance(v, bool) or v in ("true", "false", "start",
                                                   "end"),
}

#: keys a dialect may hold (validation/dialect.ts:52-68)
_DIALECT_KEYS = {*_DIALECT_CHECKS, "notes", "@id", "@type"}

#: column name variable syntax (validation/column.ts:34)
_URI_VAR_RE = re.compile(
    r"^([a-z0-9]|(%[0-9a-f]{2}))([a-z0-9_.]|(%[0-9a-f]{2}))*$", re.I)


def _sanitize_dialect(d: dict, issues: list[Issue], loc: str) -> None:
    """validation/dialect.ts:70-101: ``@type`` must be Dialect (error),
    unknown keys warn (an inherited property here is misplaced), and each
    option is checked against its type and value domain."""
    if d.get("@type") not in (None, "Dialect"):
        issues.append(Issue("error", "", f"{loc}.@type",
                            "Dialect must have type Dialect"))
    for k in sorted(set(d) - _DIALECT_KEYS):
        issues.append(Issue("warning", "", f"{loc}.{k}",
                            f"unknown dialect property {k!r}"))
    for k, check in _DIALECT_CHECKS.items():
        if k in d and not check(d[k]):
            _drop(d, k, issues, f"{loc}.{k}")
    lt = d.get("lineTerminators")
    if lt is not None:
        lt = lt if isinstance(lt, list) else [lt]
        kept = [t for t in lt if isinstance(t, str)]
        if len(kept) != len(lt):
            _drop(d, "lineTerminators", issues, f"{loc}.lineTerminators")
        if kept:
            d["lineTerminators"] = kept
        else:
            d.pop("lineTerminators", None)


def _check_transformations(obj: dict, issues: list[Issue], loc: str) -> None:
    """validation/template.ts:25-32: allowed keys and ``@type`` Template,
    plus the warning that transformations are validated but never executed
    (SURVEY §2.10)."""
    ts = obj.get("transformations")
    if ts is None:
        return
    ts = ts if isinstance(ts, list) else [ts]
    if ts:
        issues.append(Issue("warning", "", f"{loc}.transformations",
                            "transformations are validated but not executed"))
    for i, tmpl in enumerate(ts):
        if not isinstance(tmpl, dict):
            continue
        tloc = f"{loc}.transformations[{i}]"
        if tmpl.get("@type") not in (None, "Template"):
            issues.append(Issue("error", "", f"{tloc}.@type",
                                "Template must have type Template"))
        for k in sorted(set(tmpl) - _TEMPLATE_KEYS):
            issues.append(Issue("warning", "", f"{tloc}.{k}",
                                f"unknown transformation property {k!r}"))


def _is_regex(fmt: str) -> bool:
    try:
        re.compile(fmt)
    except re.error:
        return False
    return True


def _sanitize_datatype(obj: dict, issues: list[Issue], loc: str) -> None:
    """Datatype validation (validation/datatype.ts:47-117): an unknown or
    non-object datatype is dropped; an unknown base becomes 'string'; a
    numeric format becomes ``{pattern}``, an illegal pattern dropped; a
    boolean format needs '|'; other non-date formats must compile as a
    regex."""
    dt = obj.get("datatype")
    if dt is None:
        return
    if not isinstance(dt, dict):
        if not (isinstance(dt, str) and dt in DATATYPE_URIS):
            _drop(obj, "datatype", issues, loc)
        return
    b = dt.get("base")
    if b is not None and not (isinstance(b, str) and b in DATATYPE_URIS):
        _drop(dt, "base", issues, f"{loc}.base", to="string")
    base = dt.get("base", "string")
    fmt = dt.get("format")
    if fmt is None:
        return
    floc = f"{loc}.format"
    if base in NUMERIC_TYPES:
        if isinstance(fmt, str):
            if _NUMBER_PATTERN_RE.match(fmt):
                dt["format"] = {"pattern": fmt}
            else:
                _drop(dt, "format", issues, floc, to={})
        elif not isinstance(fmt, dict):
            _drop(dt, "format", issues, floc)
        elif "pattern" in fmt and not (
                isinstance(fmt["pattern"], str)
                and _NUMBER_PATTERN_RE.match(fmt["pattern"])):
            _drop(fmt, "pattern", issues, f"{floc}.pattern")
    elif base == "boolean":
        if not (isinstance(fmt, str) and "|" in fmt):
            _drop(dt, "format", issues, floc)
    elif base not in DATE_TYPES:
        if not (isinstance(fmt, str) and _is_regex(fmt)):
            _drop(dt, "format", issues, floc)


def _sanitize_inherited(obj: dict, issues: list[Issue], loc: str) -> None:
    """Inherited property values at ONE descriptor level, in place — the
    reference runs validateInheritedProperties per level (table-group.ts:60,
    table.ts:66, column.ts:52; inherited-properties.ts:6-63 + generic.ts
    validateObject): a wrong-typed value is dropped, a non-string
    aboutUrl/propertyUrl/valueUrl becomes ''."""
    for k in ("null", "separator", "default"):
        v = obj.get(k)
        if v is not None and not isinstance(v, str) and not (
                k == "null" and isinstance(v, list)
                and all(isinstance(x, str) for x in v)):
            _drop(obj, k, issues, f"{loc}.{k}")
    lang = obj.get("lang")
    if lang is not None and not (
            isinstance(lang, str) and _LANG_RE.match(lang)):
        _drop(obj, "lang", issues, f"{loc}.lang")
    if obj.get("textDirection") not in (None, *_TEXT_DIRECTIONS):
        _drop(obj, "textDirection", issues, f"{loc}.textDirection")
    for k in ("ordered", "required"):
        if k in obj and not isinstance(obj[k], bool):
            _drop(obj, k, issues, f"{loc}.{k}")
    for k in ("aboutUrl", "propertyUrl", "valueUrl"):
        if k in obj and not isinstance(obj[k], str):
            _drop(obj, k, issues, f"{loc}.{k}", to="")
    _sanitize_datatype(obj, issues, f"{loc}.datatype")


def _sanitize_column(c: dict, issues: list[Issue], loc: str) -> None:
    if "titles" in c and not _valid_titles(c["titles"]):
        _drop(c, "titles", issues, f"{loc}.titles")
    for k in ("virtual", "suppressOutput"):
        if k in c and not isinstance(c[k], bool):
            _drop(c, k, issues, f"{loc}.{k}")
    name = c.get("name")
    if name not in (None, "") and not (
            isinstance(name, str) and _URI_VAR_RE.match(name)):
        _drop(c, "name", issues, f"{loc}.name")
    _sanitize_inherited(c, issues, loc)


def _sanitize_child_object(obj: dict, key: str, issues: list[Issue],
                           loc: str) -> dict | None:
    """validateChild (generic.ts:208-225): non-object child → {} + warning."""
    val = obj.get(key)
    if val is None:
        return None
    if not isinstance(val, dict):
        issues.append(Issue("warning", "", f"{loc}.{key}",
                            f"Invalid value for {key}: expected an object"))
        obj[key] = {}
        return obj[key]
    return val


def _sanitize_table(t: dict, issues: list[Issue], loc: str,
                    ctx_base: str = "") -> None:
    if not isinstance(t.get("url"), str):
        issues.append(Issue("error", "", f"{loc}.url",
                            "Table must have a url property"))
        t["url"] = ""
    # @context @base prefixes the table url (validation/table.ts:55-61 —
    # a plain string concat in the reference, reproduced verbatim)
    if ctx_base:
        t["url"] = ctx_base + t["url"]
    if "tableDirection" in t and t["tableDirection"] not in (
            "ltr", "rtl", "auto"):
        _drop(t, "tableDirection", issues, f"{loc}.tableDirection")
    _sanitize_inherited(t, issues, loc)
    _check_transformations(t, issues, loc)
    d = _sanitize_child_object(t, "dialect", issues, loc)
    if d is not None:
        _sanitize_dialect(d, issues, f"{loc}.dialect")
    s = _sanitize_child_object(t, "tableSchema", issues, loc)
    if s is not None:
        sloc = f"{loc}.tableSchema"
        _sanitize_inherited(s, issues, sloc)
        _check_transformations(s, issues, sloc)
        cols = s.get("columns")
        if cols is not None:
            cols = cols if isinstance(cols, list) else [cols]
            kept = [c for c in cols if isinstance(c, dict)]
            if len(kept) != len(cols):
                issues.append(Issue("warning", "", f"{sloc}.columns",
                                    "removing non-object column entries"))
            for i, c in enumerate(kept):
                _sanitize_column(c, issues, f"{sloc}.columns[{i}]")
            s["columns"] = kept


def sanitize_descriptor(doc: dict, issues: list[Issue]) -> None:
    """Validate and coerce a compact-form descriptor in place — the
    reference's validateTableGroup/validateTable chain
    (validation/table-group.ts:55-70, table.ts:50-70, dialect.ts:78-101,
    schema.ts:30-53, column.ts:46-62, inherited-properties.ts,
    template.ts): wrong-typed values are dropped with a warning so
    downstream defaults apply; non-object dialect/tableSchema children
    become ``{}``; non-object column entries are removed. Every issue about
    a property value comes from this walk."""
    ctx = doc.get("@context")
    ctx_base = ""
    if isinstance(ctx, list) and len(ctx) > 1 and isinstance(ctx[1], dict) \
            and isinstance(ctx[1].get("@base"), str):
        # applied to the table urls below, then dropped: a second pass over
        # the normalized document must not prefix them again
        ctx_base = ctx[1].pop("@base")
    if isinstance(doc.get("tables"), list):
        _sanitize_inherited(doc, issues, "$")
        _check_transformations(doc, issues, "$")
        d = _sanitize_child_object(doc, "dialect", issues, "$")
        if d is not None:
            _sanitize_dialect(d, issues, "$.dialect")
        kept = [t for t in doc["tables"] if isinstance(t, dict)]
        if len(kept) != len(doc["tables"]):
            issues.append(Issue("warning", "", "$.tables",
                                "removing non-object table entries"))
        doc["tables"] = kept
        if not kept:
            issues.append(Issue("error", "", "$.tables",
                                "Table group must contain at least one table"))
        for i, t in enumerate(kept):
            _sanitize_table(t, issues, f"$.tables[{i}]", ctx_base)
    else:
        _sanitize_table(doc, issues, "$", ctx_base)


# --- entry point ------------------------------------------------------------

def normalize_descriptor(raw: dict, base: str = "",
                         loader: Loader | None = None,
                         issues: list[Issue] | None = None,
                         url: str = "") -> dict:
    """Normalize a CSVW descriptor to the compact form ``parse_descriptor``
    consumes (descriptor.ts:28-104). Returns a new dict; ``raw`` is not
    modified. ``issues`` (if given) collects reference-parity warnings/errors
    instead of raising."""
    issues = issues if issues is not None else []
    doc = copy.deepcopy(raw)
    if "@id" in doc and not isinstance(doc["@id"], str) and url:
        issues.append(Issue("warning", "", "$",
                            f"Invalid @id: {doc['@id']!r}"))
        doc["@id"] = url
    validate_ids_types_langmaps(doc, issues)
    validate_context_language(doc, issues)
    doc = _compact_keys(doc)
    if loader is not None:
        load_referenced_subdescriptors(doc, loader, issues, base)
    sanitize_descriptor(doc, issues)
    return doc
