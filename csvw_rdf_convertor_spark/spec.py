"""Mapping-spec data model: the driver-side "program" that a CSVW descriptor
compiles to.

The reference normalizes a JSON-LD CSVW descriptor (TableGroup → Table →
Schema → Column + Dialect + Datatype) and cascades inherited properties
(reference: packages/core/src/lib/descriptor.ts:248-285, types under
packages/core/src/lib/types/descriptor/*). We resolve all of that on the
driver into flat, immutable per-column specs *before* any Spark job runs;
executors only ever see compiled Column expressions (and a broadcast spec for
the pandas-UDF paths).

Only the compacted-form descriptor subset exercised by the CSVW fixtures is
supported (full jsonld expand/compact parity is out of scope — SURVEY.md §7.3.5).
"""

from __future__ import annotations

import re
import urllib.parse
from dataclasses import dataclass, field, replace
from typing import Any

# --- namespaces ------------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
CSVW = "http://www.w3.org/ns/csvw#"

#: RDFa 1.1 initial-context prefixes (subset; reference embeds the same list
#: at packages/core/src/lib/utils/prefix.ts:13-61 — public W3C data).
PREFIXES: dict[str, str] = {
    "csvw": CSVW,
    "rdf": RDF,
    "rdfs": RDFS,
    "xsd": XSD,
    "dc": "http://purl.org/dc/terms/",
    "dcterms": "http://purl.org/dc/terms/",
    "dc11": "http://purl.org/dc/elements/1.1/",
    "dcat": "http://www.w3.org/ns/dcat#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "schema": "http://schema.org/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "prov": "http://www.w3.org/ns/prov#",
    "qb": "http://purl.org/linked-data/cube#",
    "void": "http://rdfs.org/ns/void#",
    "sioc": "http://rdfs.org/sioc/ns#",
    "vcard": "http://www.w3.org/2006/vcard/ns#",
    "org": "http://www.w3.org/ns/org#",
    "time": "http://www.w3.org/2006/time#",
    "wgs84": "http://www.w3.org/2003/01/geo/wgs84_pos#",
    "xhv": "http://www.w3.org/1999/xhtml/vocab#",
}

#: CSVW builtin datatype → datatype IRI.  Mirrors the reference's mapping
#: incl. aliases number→double, binary→base64Binary, datetime→dateTime,
#: any→anyAtomicType, json→csvw:JSON, xml→rdf:XMLLiteral, html→rdf:HTML
#: (reference: packages/core/src/lib/utils/prefix.ts:100-148).
_XSD_TYPES = [
    "anyAtomicType", "anyURI", "base64Binary", "boolean", "byte", "date",
    "dateTime", "dateTimeStamp", "dayTimeDuration", "decimal", "double",
    "duration", "float", "gDay", "gMonth", "gMonthDay", "gYear", "gYearMonth",
    "hexBinary", "int", "integer", "language", "long", "Name", "NCName",
    "negativeInteger", "NMTOKEN", "nonNegativeInteger", "nonPositiveInteger",
    "normalizedString", "positiveInteger", "QName", "short", "string", "time",
    "token", "unsignedByte", "unsignedInt", "unsignedLong", "unsignedShort",
    "yearMonthDuration",
]
DATATYPE_URIS: dict[str, str] = {t: XSD + t for t in _XSD_TYPES}
DATATYPE_URIS.update({
    "number": XSD + "double",
    "binary": XSD + "base64Binary",
    "datetime": XSD + "dateTime",
    "any": XSD + "anyAtomicType",
    "json": CSVW + "JSON",
    "xml": RDF + "XMLLiteral",
    "html": RDF + "HTML",
})

#: Value-space groupings (reference: utils/prefix.ts:65-98).
NUMERIC_TYPES = {
    "decimal", "integer", "long", "int", "short", "byte", "nonNegativeInteger",
    "positiveInteger", "unsignedLong", "unsignedInt", "unsignedShort",
    "unsignedByte", "nonPositiveInteger", "negativeInteger", "double",
    "float", "number",
}
DATE_TYPES = {"date", "dateTime", "datetime", "dateTimeStamp", "time"}
#: Types exempt from whitespace collapsing (reference: csvw2rdf/convertor.ts:78-85).
WS_EXEMPT_TYPES = {"string", "json", "xml", "html", "anyAtomicType", "any"}

#: Invalid-value sentinel (reference: utils/prefix.ts:222).
INVALID_SENTINEL = "@@invalid@@"

#: Inherited properties, cascading TableGroup → Table → Schema → Column
#: (reference: descriptor.ts:248-285).
INHERITED_PROPS = (
    "aboutUrl", "datatype", "default", "lang", "null", "ordered",
    "propertyUrl", "required", "separator", "textDirection", "valueUrl",
)


def expand_iri(value: str, base: str = "") -> str:
    """Expand a prefixed name (``skos:Concept``) or resolve against base.

    Reference: utils/expand-iri.ts:8-18.
    """
    m = re.match(r"^([A-Za-z][\w.-]*):(?!//)(.*)$", value)
    if m and m.group(1) in PREFIXES:
        return PREFIXES[m.group(1)] + m.group(2)
    if base and iri_reads_base(value):
        return urllib.parse.urljoin(base, value)
    return value


def iri_reads_base(value: str) -> bool:
    """Whether ``expand_iri(value, base)`` reads ``base``: not for a known
    prefixed name or an absolute (``scheme://``, ``urn:``) IRI."""
    m = re.match(r"^([A-Za-z][\w.-]*):(?!//)(.*)$", value)
    return not ((m and m.group(1) in PREFIXES)
                or re.match(r"^[A-Za-z][\w+.-]*://", value)
                or value.startswith("urn:"))


def datatype_iri(base: str) -> str:
    return DATATYPE_URIS.get(base, XSD + "string")


def encode_column_name(title: str) -> str:
    """Percent-encode a column title into a name, with ``-`` → ``%2D``.

    Reference: csvw2rdf/convertor.ts:589.
    """
    return urllib.parse.quote(title, safe="").replace("-", "%2D")


# --- dataclasses -----------------------------------------------------------

@dataclass(frozen=True)
class DatatypeSpec:
    """CSVW datatype description (reference: types/descriptor/datatype.ts:53-106)."""

    base: str = "string"
    format: Any = None          # str regex / bool pairs / number pattern / date fmt
    length: int | None = None
    minLength: int | None = None
    maxLength: int | None = None
    minimum: Any = None
    maximum: Any = None
    minExclusive: Any = None
    maxExclusive: Any = None

    @property
    def iri(self) -> str:
        return datatype_iri(self.base)

    @staticmethod
    def parse(raw: Any) -> "DatatypeSpec":
        if raw is None:
            return DatatypeSpec()
        if isinstance(raw, str):
            return DatatypeSpec(base=raw)
        kwargs = {k: raw[k] for k in (
            "base", "format", "length", "minLength", "maxLength", "minimum",
            "maximum", "minExclusive", "maxExclusive") if k in raw}
        # CSVW aliases (datatype.ts:81-90): minInclusive/maxInclusive are
        # the same constraint as minimum/maximum
        if "minimum" not in kwargs and "minInclusive" in raw:
            kwargs["minimum"] = raw["minInclusive"]
        if "maximum" not in kwargs and "maxInclusive" in raw:
            kwargs["maximum"] = raw["maxInclusive"]
        kwargs.setdefault("base", "string")
        return DatatypeSpec(**kwargs)


#: Node Buffer encoding label → a codec name valid in Python AND java.nio.
_NODE_CODECS = {
    "ascii": "US-ASCII", "utf8": "utf-8", "utf-8": "utf-8",
    "utf16le": "UTF-16LE", "ucs2": "UTF-16LE",
    "latin1": "ISO-8859-1", "binary": "ISO-8859-1",
}


@dataclass(frozen=True)
class DialectSpec:
    """CSV dialect (reference: types/descriptor/dialect-description.ts:4-65)."""

    delimiter: str = ","
    quoteChar: str | None = '"'
    doubleQuote: bool = True      # False → backslash escape
    commentPrefix: str | None = None
    encoding: str = "utf-8"
    header: bool = True
    headerRowCount: int | None = None
    lineTerminators: tuple[str, ...] = ("\r\n", "\n")
    skipRows: int = 0
    skipColumns: int = 0
    skipBlankRows: bool = False
    skipInitialSpace: bool = False
    trim: Any = False             # True/False/'start'/'end'

    @property
    def header_row_count(self) -> int:
        if self.headerRowCount is not None:
            return self.headerRowCount
        return 1 if self.header else 0

    @property
    def codec(self) -> str:
        """``encoding`` translated from the descriptor's Node Buffer label
        (the validation whitelist mirrors validation/dialect.ts:17-33) to a
        name valid in BOTH Python's codec registry and java.nio (the Spark
        text reader) — 'utf16le'/'ucs2'/'binary' are Node-only spellings
        that would otherwise crash a validator-approved descriptor at the
        reader/writer. Node's 'base64'/'hex' Buffer labels are not text
        encodings and raise here (loudly, not LookupError deep in a sink)."""
        enc = (self.encoding or "utf-8").lower()
        try:
            return _NODE_CODECS[enc]
        except KeyError:
            raise ValueError(
                f"dialect encoding {self.encoding!r} is not a text codec "
                "(Node's base64/hex Buffer labels have no meaning for CSV "
                "text)") from None

    @staticmethod
    def parse(raw: dict | None) -> "DialectSpec":
        if not raw:
            return DialectSpec()
        kwargs = {k: raw[k] for k in (
            "delimiter", "quoteChar", "doubleQuote", "commentPrefix",
            "encoding", "header", "headerRowCount", "skipRows", "skipColumns",
            "skipBlankRows", "skipInitialSpace", "trim") if k in raw}
        if "lineTerminators" in raw:
            lt = raw["lineTerminators"]
            kwargs["lineTerminators"] = tuple([lt] if isinstance(lt, str) else lt)
        return DialectSpec(**kwargs)


@dataclass(frozen=True)
class ColumnSpec:
    """One column's fully-resolved mapping (inheritance already applied).

    Reference: types/descriptor/column-description.ts:11-41 +
    inherited-properties.ts:6-51.
    """

    name: str
    titles: tuple[str, ...] = ()
    #: CSV output header for this column (rdf2csvw rows are keyed by title):
    #: first title under the CONTEXT @language (exact key) → explicit name →
    #: ``_col.N`` (reference: rdf2csvw/create-query.ts:63-77 — note it uses
    #: only the @context @language, NOT the inherited table lang that the
    #: csvw2rdf name derivation at convertor.ts:413-416 also consults)
    title: str = ""
    #: column name as the rdf2csvw query compiler derives it (create-query.ts
    #: :44-61, same context-only language rule); differs from ``name`` when a
    #: langmap title matches the table lang but not the context @language
    q_name: str = ""
    datatype: DatatypeSpec = field(default_factory=DatatypeSpec)
    aboutUrl: str | None = None
    propertyUrl: str | None = None
    valueUrl: str | None = None
    default: str = ""
    null: tuple[str, ...] = ("",)
    lang: str | None = None
    ordered: bool = False
    required: bool = False
    separator: str | None = None
    suppressOutput: bool = False
    virtual: bool = False
    textDirection: str = "auto"
    #: physical source column name in the input DataFrame (None for virtual)
    source: str | None = None


@dataclass(frozen=True)
class TableSpec:
    url: str
    columns: tuple[ColumnSpec, ...]
    dialect: DialectSpec = field(default_factory=DialectSpec)
    suppressOutput: bool = False
    primaryKey: tuple[str, ...] = ()
    rowTitles: tuple[str, ...] = ()
    base: str = ""
    notes: Any = None
    #: non-CSVW (namespaced) descriptor annotations, re-emitted as RDF in
    #: standard mode (T8; reference: descriptor.ts:334-390)
    external: tuple[tuple[str, Any], ...] = ()
    #: name of an ordering column for stable row numbering; None → file order
    order_by: str | None = None

    @property
    def source_row_offset(self) -> int:
        """csvw:url row offset = headerRowCount + skipRows (convertor.ts:374-378)."""
        return self.dialect.header_row_count + self.dialect.skipRows


@dataclass(frozen=True)
class TableGroupSpec:
    tables: tuple[TableSpec, ...]
    base: str = ""
    #: non-CSVW namespaced annotations at TableGroup scope, re-emitted on
    #: the group node in standard mode (T8; reference descriptor.ts:334-390,
    #: convertor.ts:177-211 emitExternalProps(descriptor, groupNode))
    external: tuple[tuple[str, Any], ...] = ()
    notes: Any = None


# --- descriptor parsing ----------------------------------------------------

def _merge_inherited(child: dict, parent: dict) -> dict:
    out = dict(child)
    for k in INHERITED_PROPS:
        if k not in out and k in parent:
            out[k] = parent[k]
    return out


def _coerce_titles(raw: Any) -> tuple[str, ...]:
    if raw is None:
        return ()
    if isinstance(raw, str):
        return (raw,)
    if isinstance(raw, list):
        return tuple(raw)
    if isinstance(raw, dict):  # language map {lang: [titles]}
        out: list[str] = []
        for v in raw.values():
            out.extend([v] if isinstance(v, str) else v)
        return tuple(out)
    raise ValueError(f"bad titles: {raw!r}")


def _titles_and_name(raw: Any, default_lang: str = "@none"
                     ) -> tuple[tuple[str, ...], str | None]:
    """(flattened titles, name-eligible title or None).

    Language-map rules (reference convertor.ts:471-478 + 566-588):
    ``@none`` keys are promoted to the default language when the default
    language is absent; only titles under the default language — or under a
    key that *starts with* it, e.g. ``en-US`` for default ``en`` — may
    become the column name. Plain string / array titles are always
    name-eligible (first entry). A language-map title in some OTHER
    language yields no name → the ``_col.N`` fallback applies.
    """
    if raw is None:
        return (), None
    if isinstance(raw, str):
        return (raw,), raw
    if isinstance(raw, list):
        return tuple(raw), (raw[0] if raw else None)
    if isinstance(raw, dict):
        d: dict[str, list[str]] = {
            k: ([v] if isinstance(v, str) else list(v)) for k, v in raw.items()}
        if "@none" in d and default_lang not in d:
            d[default_lang] = d.pop("@none")
        name: str | None = None
        if d.get(default_lang):
            name = d[default_lang][0]
        else:
            for k, v in d.items():
                if k.startswith(default_lang) and v:
                    name = v[0]
                    break
        ordered: list[str] = list(d.get(default_lang, ()))
        for k, v in d.items():
            if k != default_lang:
                ordered.extend(v)
        return tuple(ordered), name
    raise ValueError(f"bad titles: {raw!r}")


def _exact_lang_title(raw: Any, lang: str) -> str | None:
    """First title under exactly ``lang`` (string/array titles always
    qualify) — the rdf2csvw query compiler's lookup (create-query.ts:44-77:
    plain ``defaultLang in column.titles``, no subtag fallback)."""
    if isinstance(raw, str):
        return raw
    if isinstance(raw, list):
        return raw[0] if raw else None
    if isinstance(raw, dict) and lang in raw:
        v = raw[lang]
        v = [v] if isinstance(v, str) else v
        return v[0] if v else None
    return None


def parse_column(raw: dict, index: int, inherited: dict, base: str = "",
                 default_lang: str = "@none",
                 ctx_lang: str = "@none") -> ColumnSpec:
    """Column name derivation + inheritance (reference: convertor.ts:566-604).

    Invalid-typed values are NOT coerced here — that is the normalization
    pass's job (descriptor_norm.sanitize_descriptor, like the reference's
    validate chain inside normalizeDescriptor); direct parse_descriptor
    stays strict so validation.validate_group still sees the raw values."""
    merged = _merge_inherited(raw, inherited)
    titles, name_title = _titles_and_name(merged.get("titles"), default_lang)
    name = merged.get("name")
    q_title = _exact_lang_title(merged.get("titles"), ctx_lang)
    title = q_title if q_title is not None else (name or f"_col.{index + 1}")
    if name:
        # create-query.ts:46 percent-encodes even explicit names
        q_name = encode_column_name(name)
    else:
        q_name = (encode_column_name(q_title) if q_title
                  else f"_col.{index + 1}")
    if not name:
        name = encode_column_name(name_title) if name_title else f"_col.{index + 1}"
    nulls = merged.get("null", "")
    if isinstance(nulls, str):
        nulls = (nulls,)
    else:
        nulls = tuple(nulls)
    return ColumnSpec(
        name=name,
        titles=titles,
        title=title,
        q_name=q_name,
        datatype=DatatypeSpec.parse(merged.get("datatype")),
        aboutUrl=merged.get("aboutUrl"),
        propertyUrl=merged.get("propertyUrl"),
        valueUrl=merged.get("valueUrl"),
        default=str(merged.get("default", "")),
        null=nulls,
        lang=merged.get("lang"),
        ordered=bool(merged.get("ordered", False)),
        required=bool(merged.get("required", False)),
        separator=merged.get("separator"),
        suppressOutput=bool(merged.get("suppressOutput", False)),
        virtual=bool(merged.get("virtual", False)),
        textDirection=merged.get("textDirection", "auto"),
        source=raw.get("source", raw.get("name") or (titles[0] if titles else None)),
    )


def parse_table(raw: dict, group_inherited: dict | None = None, base: str = "",
                context_lang: str | None = None) -> TableSpec:
    inherited = _merge_inherited(raw, group_inherited or {})
    schema = raw.get("tableSchema", {})
    inherited = _merge_inherited(schema, inherited)
    # default language for title naming: table lang (inherited) → @context
    # @language → '@none' (reference convertor.ts:413-417)
    default_lang = inherited.get("lang") or context_lang or "@none"
    ctx_only_lang = context_lang or "@none"
    cols = []
    seen: set[str] = set()
    for i, c in enumerate(schema.get("columns", [])):
        col = parse_column(c, i, inherited, base, default_lang, ctx_only_lang)
        if col.name in seen and not col.virtual:
            raise ValueError(f"duplicate column name {col.name!r}")  # convertor.ts:594-604
        seen.add(col.name)
        cols.append(col)
    # virtual columns must come after non-virtual ones (convertor.ts:429-437)
    first_virtual = next((i for i, c in enumerate(cols) if c.virtual), len(cols))
    if any(not c.virtual for c in cols[first_virtual:]):
        raise ValueError("non-virtual column after virtual column")
    pk = schema.get("primaryKey", ())
    if isinstance(pk, str):
        pk = (pk,)
    # non-CSVW namespaced keys (e.g. "dc:title") are external annotations
    external = tuple(
        (k, v) for k, v in raw.items()
        if ":" in k and not k.startswith("@") and k not in INHERITED_PROPS)
    return TableSpec(
        external=external,
        url=raw.get("url", ""),
        columns=tuple(cols),
        dialect=DialectSpec.parse(raw.get("dialect")),
        suppressOutput=bool(raw.get("suppressOutput", False)),
        primaryKey=tuple(pk),
        rowTitles=tuple(_coerce_titles(schema.get("rowTitles"))),
        base=base,
        notes=raw.get("notes"),
        order_by=raw.get("order_by"),
    )


def context_language(raw: dict) -> str | None:
    """``@language`` from a compact @context ([url, {...}] form)."""
    ctx = raw.get("@context")
    if isinstance(ctx, list):
        for part in ctx:
            if isinstance(part, dict) and "@language" in part:
                return part["@language"]
    return None


def parse_descriptor(raw: dict, base: str = "") -> TableGroupSpec:
    """Parse a (compact-form) CSVW descriptor dict into a TableGroupSpec."""
    ctx_lang = context_language(raw)
    if "tables" in raw:
        inherited = {k: raw[k] for k in INHERITED_PROPS if k in raw}
        dialect = raw.get("dialect")
        tables = []
        for t in raw["tables"]:
            if dialect and "dialect" not in t:
                t = {**t, "dialect": dialect}
            tables.append(parse_table(t, inherited, base, ctx_lang))
        group_external = tuple(
            (k, v) for k, v in raw.items()
            if ":" in k and not k.startswith("@") and k not in INHERITED_PROPS)
        return TableGroupSpec(tables=tuple(tables), base=base,
                              external=group_external, notes=raw.get("notes"))
    return TableGroupSpec(tables=(parse_table(raw, {}, base, ctx_lang),), base=base)


def with_order(table: TableSpec, order_by: str) -> TableSpec:
    return replace(table, order_by=order_by)
