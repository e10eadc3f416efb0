"""rdf2csvw: schema inference over a triples DF + BGP-join row reconstruction.

Reference: packages/core/src/lib/rdf2csvw/schema-inferrer.ts (aggregation
operators A1–A5 of SURVEY.md §2.5) and rdf2csvw/create-query.ts (join
operators J1–J4 of §2.4). The reference loads quads into an in-memory
Quadstore and runs generated SPARQL through Comunica over a sliding window;
here the "store" is just the distributed triples DataFrame and BGP matching
is plain equi-joins planned by Catalyst — the window machinery (J6/W2) is
unnecessary because full-relation joins subsume it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from itertools import groupby

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_frame
from ..spec import RDF, XSD, DatatypeSpec

RDF_TYPE = RDF + "type"

#: Disconnected pattern roots (distinct subject variables sharing no join
#: column) take a SPARQL-semantics cartesian product. That is correct by
#: spec but only reachable from a degenerate descriptor, and a cartesian of
#: two data-sized frames is quadratic — a scale-killer at 100 TB. Refuse
#: when BOTH sides exceed this many rows (one small side is a broadcast
#: nested loop, which is fine).
CARTESIAN_GUARD_ROWS = 100_000


def _guarded_cross(left: DataFrame, right: DataFrame) -> DataFrame:
    # Probe the RIGHT side first: in both call sites it is a single filtered
    # pattern frame (cheap), while the left is the accumulated join chain —
    # counting it re-executes every upstream join, O(k) redundant passes for
    # k disconnected roots. Only when the right side is big do we pay for a
    # bounded count of the left chain.
    n_r = right.limit(CARTESIAN_GUARD_ROWS + 1).count()
    if n_r > CARTESIAN_GUARD_ROWS:
        n_l = left.limit(CARTESIAN_GUARD_ROWS + 1).count()
        if n_l > CARTESIAN_GUARD_ROWS:
            raise ValueError(
                "disconnected query roots produce a cartesian product of two "
                f"frames each larger than {CARTESIAN_GUARD_ROWS} rows — "
                "restructure the descriptor so the tables share a join "
                "variable (aboutUrl/valueUrl template), or pre-filter the "
                "graph")
    return left.crossJoin(right)


LABEL_PREDS = (
    "http://www.w3.org/2004/02/skos/core#prefLabel",
    "http://www.w3.org/2000/01/rdf-schema#label",
)

#: datatype subtype tree (reference: utils/prefix.ts:156-221, subset) used
#: for the lattice-LCA datatype merge (A3).
_PARENT: dict[str, str] = {
    XSD + "integer": XSD + "decimal",
    XSD + "long": XSD + "integer",
    XSD + "int": XSD + "long",
    XSD + "short": XSD + "int",
    XSD + "byte": XSD + "short",
    XSD + "nonNegativeInteger": XSD + "integer",
    XSD + "positiveInteger": XSD + "nonNegativeInteger",
    XSD + "unsignedLong": XSD + "nonNegativeInteger",
    XSD + "unsignedInt": XSD + "unsignedLong",
    XSD + "unsignedShort": XSD + "unsignedInt",
    XSD + "unsignedByte": XSD + "unsignedShort",
    XSD + "nonPositiveInteger": XSD + "integer",
    XSD + "negativeInteger": XSD + "nonPositiveInteger",
    XSD + "decimal": XSD + "anyAtomicType",
    XSD + "double": XSD + "anyAtomicType",
    XSD + "float": XSD + "double",
    XSD + "dateTimeStamp": XSD + "dateTime",
    XSD + "dateTime": XSD + "anyAtomicType",
    XSD + "date": XSD + "anyAtomicType",
    XSD + "normalizedString": XSD + "string",
    XSD + "token": XSD + "normalizedString",
    XSD + "language": XSD + "token",
    XSD + "string": XSD + "anyAtomicType",
}
ANY_ATOMIC = XSD + "anyAtomicType"


def _ancestors(t: str) -> list[str]:
    out = [t]
    while t in _PARENT:
        t = _PARENT[t]
        out.append(t)
    if out[-1] != ANY_ATOMIC:
        out.append(ANY_ATOMIC)
    return out


def merge_datatypes(types: list[str]) -> str:
    """Lattice LCA of observed datatypes (reference: table-schema.ts:82-115)."""
    types = [t or XSD + "string" for t in types]
    if not types:
        return XSD + "string"
    common = None
    for t in types:
        chain = _ancestors(t)
        if common is None:
            common = chain
        else:
            keep = set(chain)
            common = [c for c in common if c in keep]
    return common[0] if common else ANY_ATOMIC


# --- A1/A3/A4: schema inference aggregates (A2 is in infer_tables) ----------

def subjects_by_type(triples: DataFrame) -> DataFrame:
    """A1: one inferred table per rdf:type object; untyped subjects →
    'unknown_type' bucket (schema-inferrer.ts:232-301)."""
    typed = (triples.where(F.col("pred") == RDF_TYPE)
             .select(F.col("subj"), F.col("obj_lex").alias("type_iri")))
    untyped = (triples.select("subj").distinct()
               .join(typed.select("subj").distinct(), "subj", "left_anti")
               .withColumn("type_iri", F.lit("unknown_type")))
    return typed.unionByName(untyped)


def merged_column_datatypes(triples: DataFrame) -> DataFrame:
    """A3: per-predicate datatype = lattice LCA of observed literal datatypes."""
    observed = (triples.where(F.col("obj_kind") == "literal")
                .groupBy("pred")
                .agg(F.array_sort(F.collect_set(
                    F.when(F.col("obj_dtype") == "", XSD + "string")
                     .otherwise(F.col("obj_dtype")))).alias("dtypes")))
    rows = observed.collect()  # predicate cardinality is tiny metadata
    return local_frame(
        triples.sparkSession,
        [(r["pred"], merge_datatypes(list(r["dtypes"]))) for r in rows],
        "pred string, merged_dtype string")


def common_uri_template(triples: DataFrame) -> DataFrame:
    """A4: longest common prefix of a column's IRIs → URI template.

    LCP(set) = LCP(min, max) — so one min/max aggregate per predicate feeds a
    driver-side LCP (schema-inferrer.ts:367-403).
    """
    return (triples.where(F.col("obj_kind") == "iri")
            .groupBy("pred")
            .agg(F.min("obj_lex").alias("lo"), F.max("obj_lex").alias("hi")))


def labels(triples: DataFrame, pref_lang: str | None = None) -> DataFrame:
    """A5: best label per subject — preferred-LANGUAGE priority before
    predicate priority (schema-inferrer.ts:303-353 ``getLabel``):

    1. a label whose @lang equals ``pref_lang`` (or starts with
       ``pref_lang + '-'``) wins outright, skos:prefLabel before rdfs:label;
    2. otherwise the highest-priority predicate that has ANY label supplies
       the fallback, preferring its language-less labels (the reference's
       sticky ``offlangLabel``: a later predicate never overrides it).

    The reference iterates store order; ties are canonicalized here to
    lexicographic value order (deterministic/retry-stable). One window:
    ORDER BY (lang_match, pred_priority, has_language, value)."""
    from pyspark.sql import Window
    pri = F.when(F.col("pred") == LABEL_PREDS[0], 0).when(
        F.col("pred") == LABEL_PREDS[1], 1).otherwise(2)
    if pref_lang:
        lang_rank = F.when(
            (F.col("obj_lang") == pref_lang)
            | F.col("obj_lang").startswith(pref_lang + "-"), 0).otherwise(1)
    else:
        lang_rank = F.lit(1)
    has_lang = F.when(F.col("obj_lang") == "", 0).otherwise(1)
    lab = (triples.where(F.col("pred").isin(*LABEL_PREDS))
           .withColumn("rk", F.row_number().over(
               Window.partitionBy("subj").orderBy(
                   lang_rank.asc(), pri.asc(), has_lang.asc(),
                   F.col("obj_lex").asc()))))
    return lab.where(F.col("rk") == 1).select("subj", F.col("obj_lex").alias("label"))


# --- RDF list linearization ---------------------------------------------------

RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"


def linearize_rdf_lists(triples: DataFrame, *, max_rounds: int = 32
                        ) -> DataFrame:
    """(head, pos, obj_lex, obj_kind, obj_dtype, obj_lang) for every item of
    every rdf:first/rdf:rest list in the graph — the inverse of T6 that the
    reference leaves as a TODO (rdf2csvw/convertor.ts:142 "TODO: rdf lists").

    Distributed pointer doubling: each list node starts pointing at its
    PREDECESSOR (rdf:rest reversed; a well-formed list has at most one) with
    distance 1, heads point nowhere. Each round jumps every pointer to its
    pointer's pointer and adds the distances — list position resolves in
    O(log L) self-joins on the node key, never a per-list sequential walk
    (the same doubling idea as large-star/small-star in kg/cc.py). Refuses
    after ``max_rounds`` non-converged rounds (a cycle or a 2^32-long list —
    malformed either way)."""
    rest = (triples.where(F.col("pred") == RDF_REST)
            .select(F.col("subj").alias("node"),
                    F.col("obj_lex").alias("nxt")))
    first = (triples.where(F.col("pred") == RDF_FIRST)
             .select(F.col("subj").alias("node"), "obj_lex", "obj_kind",
                     "obj_dtype", "obj_lang"))
    pred_edge = (rest.where(F.col("nxt") != RDF_NIL)
                 .select(F.col("nxt").alias("node"),
                         F.col("node").alias("ptr")))
    state = (first.select("node")
             .join(pred_edge, "node", "left")
             .withColumn("dist", F.when(F.col("ptr").isNull(), 0)
                         .otherwise(1)))
    for _ in range(max_rounds):
        state = state.localCheckpoint(eager=True)  # cut doubling lineage
        if state.where(F.col("ptr").isNotNull()).join(
                state.select(F.col("node").alias("ptr"),
                             F.col("ptr").alias("_p")).where(
                                 F.col("_p").isNotNull()),
                "ptr", "left_semi").isEmpty():
            break
        hop = state.select(F.col("node").alias("ptr"),
                           F.col("ptr").alias("ptr2"),
                           F.col("dist").alias("dist2"))
        state = (state.join(hop, "ptr", "left")
                 .select("node",
                         F.coalesce("ptr2", "ptr").alias("ptr"),
                         (F.col("dist") + F.coalesce("dist2", F.lit(0)))
                         .alias("dist")))
    else:
        raise ValueError(
            f"rdf:rest chains did not resolve in {max_rounds} doubling "
            "rounds — cyclic or absurdly long list structure")
    resolved = state.select(
        "node", F.coalesce("ptr", "node").alias("head"),
        F.col("dist").alias("pos"))
    return (first.join(resolved, "node")
            .select("head", "pos", "obj_lex", "obj_kind", "obj_dtype",
                    "obj_lang"))


def rdf_list_cells(triples: DataFrame, separator: str) -> DataFrame:
    """(head, cell): each list's item lexical forms joined in LIST ORDER —
    the cell an ordered separator column round-trips back to."""
    items = linearize_rdf_lists(triples)
    return (items.groupBy("head")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("pos"), F.col("obj_lex")))),
                    lambda s: s.obj_lex),
                separator).alias("cell")))


# --- J1–J3: BGP matching as joins --------------------------------------------

@dataclass(frozen=True)
class TriplePattern:
    """One column's pattern: bind ?value where (?subj, pred, ?value).

    The output-formatting fields mirror bindings-to-row-transformation.ts:
    ``valueUrl`` trims IRI objects back to cell values (rdf:type columns
    trim against ``table_about`` instead), ``datatype`` drives the
    per-datatype output formatter, ``null`` supplies the substitution
    string for unbound OPTIONAL cells (first entry; '' when None but
    formatting is requested)."""
    name: str
    pred: str
    required: bool = False
    valueUrl: str | None = None
    datatype: "DatatypeSpec | None" = None
    null: tuple[str, ...] | None = None
    table_about: str | None = None


@dataclass(frozen=True)
class LinkTable:
    """A multi-valued predicate's (subject, value) rows; the subject column
    is named after the owning table (schema-inferrer.ts:135-197)."""
    name: str
    file: str
    pred: str
    column: str


@dataclass(frozen=True)
class InferredTable:
    """One inferred output table (reference: rdf2csvw/schema/table-schema.ts):
    single-valued columns, and a link table per multi-valued predicate."""
    name: str
    file: str
    type_iri: str               # rdf:type object, or 'unknown_type'
    patterns: tuple[TriplePattern, ...]
    links: tuple[LinkTable, ...] = ()


def _local_name(iri: str) -> str:
    for sep in ("#", "/"):
        if sep in iri:
            tail = iri.rsplit(sep, 1)[1]
            if tail:
                return tail
    return iri


def table_file_name(name: str) -> str:
    """Output file per table (rdf2csvw/handler.ts:108: path separators and
    ':' sanitized to '_'); inferred tables get a .csv suffix."""
    safe = re.sub(r"[/\\:]", "_", name)
    return safe if safe.lower().endswith(".csv") else safe + ".csv"


def _unique(name: str, taken: set[str], key=lambda n: n) -> str:
    """``name``, or ``name_<n>`` (n = ``len(taken)``, counting up) when
    ``key(name)`` is taken; the key of the name returned is then taken."""
    out, n = name, len(taken)
    while key(out) in taken:
        out, n = f"{name}_{n}", n + 1
    taken.add(key(out))
    return out


def infer_tables(triples: DataFrame, *,
                 use_vocab_metadata: bool = True) -> list[InferredTable]:
    """Full schema inference: one table per rdf:type (A1), columns from the
    predicates its subjects use, multi-valued predicates split into link
    tables (A2), names from IRI local names with label override (A5).

    The graph is a set (a repeated triple is one value). A ``_<n>`` suffix
    makes every column name unique, and every table name per output file.

    ``use_vocab_metadata=False`` skips the A5 label pass and names tables
    purely from IRI local names (the CLI's ``--no-useVocabMetadata``;
    cli rdf2csvw/command.ts:55-60).

    All aggregates are metadata-sized (predicates × types), collected to the
    driver to build the spec — mirrors the reference's incremental
    SchemaInferrer output (schema-inferrer.ts:23-403) as one batch pass.
    """
    typed = subjects_by_type(triples)
    data = triples.where(F.col("pred") != RDF_TYPE)
    # distinct values per (subj,pred) within the type — two-stage agg
    value = F.struct("obj_lex", "obj_kind", "obj_dtype", "obj_lang")
    # left join: a type whose subjects carry only rdf:type still gets a
    # (subj-only) table, from its one null-pred row
    sp = (typed.join(data, "subj", "left")
          .groupBy("type_iri", "pred", "subj")
          .agg(F.size(F.collect_set(value)).alias("k"))
          .groupBy("type_iri", "pred").agg(F.max("k").alias("max_per_subj")))
    # The label dict is only ever probed with TYPE IRIs — semi-join against
    # the distinct type objects before collecting, so the collect is bounded
    # by the vocabulary size, not the number of labeled entities (on a large
    # graph where most entities carry labels, an unbounded labels() collect
    # is a driver OOM).
    if use_vocab_metadata:
        type_iris = (triples.where(F.col("pred") == RDF_TYPE)
                     .select(F.col("obj_lex").alias("subj")).distinct())
        label_map = {r.subj: r.label
                     for r in labels(triples)
                     .join(type_iris, "subj", "left_semi").collect()}
    else:
        label_map = {}
    files: set[str] = set()
    out: list[InferredTable] = []
    # rows sort by (type_iri, pred): names are decided in a fixed order
    by_type = sorted(sp.collect(), key=lambda r: (r.type_iri, r.pred or ""))
    for type_iri, rows in groupby(by_type, lambda r: r.type_iri):
        name = _unique(label_map.get(type_iri) or _local_name(type_iri),
                       files, table_file_name)
        cols, pats, links = {"subj"}, [], []
        for r in rows:
            if r.pred is None:
                continue
            col = _local_name(r.pred)
            if r.max_per_subj > 1:
                link = _unique(f"{name}_{col}", files, table_file_name)
                links.append(LinkTable(link, table_file_name(link), r.pred,
                                       _unique(col, {name})))
            else:
                pats.append(TriplePattern(_unique(col, cols), r.pred))
        out.append(InferredTable(name, table_file_name(name), type_iri,
                                 tuple(pats), tuple(links)))
    return sorted(out, key=lambda t: t.name)


def reconstruct_tables(triples: DataFrame,
                       tables: list[InferredTable] | None = None,
                       ) -> dict[str, DataFrame]:
    """rdf2csvw end-to-end: infer schema, then rebuild each table's rows
    with one conditional aggregation over its subjects' triples (every such
    subject has one: its rdf:type, or any triple when untyped) and its link
    tables' distinct (subject, value) rows, keyed by their inferred names.

    ``tables`` lets a caller that already ran :func:`infer_tables` (e.g. the
    CLI, which also writes the inferred schema as ``descriptor.json``) skip
    the second inference pass.
    """
    tables = infer_tables(triples) if tables is None else tables
    typed = subjects_by_type(triples)
    out: dict[str, DataFrame] = {}
    for t in tables:
        subjects = typed.where(F.col("type_iri") == t.type_iri).select("subj")
        scoped = triples.join(subjects, "subj", "left_semi")
        out[t.name] = match_patterns(scoped, list(t.patterns),
                                     assume_single_valued=True)
        for link in t.links:
            out[link.name] = (scoped.where(F.col("pred") == link.pred)
                              .select(F.col("subj").alias(t.name),
                                      F.col("obj_lex").alias(link.column))
                              .distinct())
    return out


def _format_binding(p: TriplePattern, col) -> "F.Column":
    """Per-column output pipeline (bindings-to-row-transformation.ts:44-82):
    trim the IRI via the inverse template, then format per datatype."""
    from ..functions.formatters import format_value, trim_url
    out = col
    if p.pred == RDF_TYPE and p.table_about:
        out = trim_url(out, p.table_about, p.name)
    elif p.valueUrl:
        out = trim_url(out, p.valueUrl, p.name)
    return format_value(out, p.datatype)


def match_patterns(triples: DataFrame, patterns: list[TriplePattern],
                   *, assume_single_valued: bool = False) -> DataFrame:
    """Reconstruct rows: seed = DISTINCT subjects (J3 guard, create-query.ts:
    133-137), then one join per pattern — inner for required (J1), left for
    OPTIONAL (J2). Catalyst broadcasts the small filtered slices.

    ``assume_single_valued=True`` replaces the K-join chain with ONE
    conditional aggregation (``groupBy(subj).agg(max(when(pred==p, obj)))``)
    — a single shuffle instead of K. Only valid when the caller KNOWS every
    pattern binds at most one value per subject (e.g. from A2 inference):
    the join chain fans multi-valued bindings out into multiple rows, which
    max() would silently collapse.

    Columns whose pattern carries formatting fields get the reference's
    output pipeline: inverse-template URL trimming, per-datatype formatting
    and null substitution (unbound cell → null[0], '' default) — raw
    ``obj_lex`` passthrough otherwise (back-compat with value-level
    consumers)."""
    if assume_single_valued and patterns:
        out = triples.groupBy("subj").agg(
            *[F.max(F.when(F.col("pred") == p.pred, F.col("obj_lex")))
              .alias(p.name) for p in patterns])
        for p in patterns:
            if p.required:
                out = out.where(F.col(p.name).isNotNull())
    else:
        seed = triples.select("subj").distinct()
        out = seed
        for p in patterns:
            side = (triples.where(F.col("pred") == p.pred)
                    .select(F.col("subj"), F.col("obj_lex").alias(p.name)))
            out = out.join(side, "subj", "inner" if p.required else "left")
    exprs = []
    for p in patterns:
        c = F.col(p.name)
        formatted = p.valueUrl or p.datatype is not None or p.table_about
        if formatted:
            c = _format_binding(p, c)
        if p.null is not None or formatted:
            subst = p.null[0] if p.null else ""
            c = F.coalesce(c, F.lit(subst))
        exprs.append(c.alias(p.name))
    return out.select("subj", *exprs)


# --- descriptor→pattern compiler (J1 object-subject chains) -------------------

@dataclass(frozen=True)
class PatternNode:
    """One compiled triple pattern of a descriptor-provided table query
    (create-query.ts:338-510 createTriplePatterns). ``children`` are the
    patterns the reference emits recursively inside this pattern's group —
    columns whose aboutUrl equals this column's valueUrl (object-subject
    chain, recursion :470-501) or, for rdf:type columns, siblings sharing
    the aboutUrl."""
    subj_var: str
    pred: str
    obj_var: str | None            # None when the object is a fixed IRI
    obj_iri: str | None = None     # var-free valueUrl on an rdf:type column
    required: bool = False
    subj_regex: str | None = None  # anchored aboutUrl-template filter
    obj_regex: str | None = None   # anchored valueUrl-template filter
    #: column ``lang`` → SPARQL ``FILTER LANGMATCHES(LANG(?v), lang)``
    #: (create-query.ts:427-430); basic language-range matching
    lang: str | None = None
    #: column datatype → value-constraint FILTER (create-query.ts:404-424
    #: dispatching to utils/format-*.ts getXFilter)
    dt: "DatatypeSpec | None" = None
    #: column ``separator`` → the pattern's multi-valued binding aggregates
    #: into ONE cell (canonical value order; fixtures 228-230). Constraints
    #: then apply per ITEM and only warn — no binding filter.
    separator: str | None = None
    #: separator + ``ordered`` → the binding is an rdf:List HEAD; the cell is
    #: the linearized items in LIST order (beyond the reference — its
    #: rdf2csvw leaves "TODO: rdf lists")
    ordered: bool = False
    children: tuple["PatternNode", ...] = ()


@dataclass(frozen=True)
class CompiledColumn:
    """Output column of a compiled table query: the query variable its value
    binds to (create-query.ts:83-98 — rdf:type columns bind the SUBJECT
    variable; a column with valueUrl binds the variable assigned to that
    template, so two columns chained via valueUrl==aboutUrl SHARE one
    variable) plus the formatting fields of the output pipeline."""
    name: str
    var: str
    virtual: bool = False
    valueUrl: str | None = None
    datatype: object | None = None
    null: tuple[str, ...] | None = None
    is_type: bool = False
    #: CSV header for this column (bindings keyed by title downstream)
    title: str = ""
    #: rdf:type columns trim their IRI against the table-level aboutUrl
    #: (bindings-to-row-transformation.ts:50-57)
    table_about: str | None = None


_SPECIALS = ("_column", "_sourceColumn", "_name")


#: a brace expression whose content does not START with a special name — the
#: reference's wildcard replaceAll (create-query.ts:437) swallows the whole
#: expression INCLUDING its operator, so ``{#other}`` → ``.*`` but
#: ``{#_name}`` survives and expands with its ``#`` prefix.
_NONSPECIAL_EXPR_RE = re.compile(
    r"\{(?!_column|_sourceColumn|_name)[^{}]*\}")
_WILD_SENTINEL = "\x00*\x00"


def _expand_specials(template: str, index: int, name: str,
                     wildcard: bool = False) -> str:
    """Driver-side expansion of a template over ONLY the per-column specials
    (_column/_sourceColumn/_name — the reference's expand argument at
    create-query.ts:356-366); other variables become '.*' when ``wildcard``
    (FILTER REGEX construction, :437-467) or '' (plain expansion).

    Expansion keeps the RFC 6570 operator semantics — ``{#_name}`` emits the
    ``#`` prefix, ``{;_name}`` the ``name=value`` form — because the
    reference runs the surviving expressions through url-template's full
    expand (create-query.ts:356-366)."""
    from ..functions.uritemplate import _OPS, parse_template
    vals = {"_column": str(index + 1), "_sourceColumn": str(index + 1),
            "_name": name}
    if wildcard:
        template = _NONSPECIAL_EXPR_RE.sub(_WILD_SENTINEL, template)
    out = []
    for kind, op, specs in parse_template(template):
        if kind == "lit":
            out.append(op)
            continue
        first_char, sep, named, _ = _OPS.get(op, ("", ",", False, False))
        emitted = [(f"{s.name}=" if named else "") + vals[s.name]
                   for s in specs if s.name in vals]
        if emitted:
            out.append(first_char + sep.join(emitted))
    text = "".join(out)
    if wildcard:
        return ".*".join(re.escape(part)
                         for part in text.split(_WILD_SENTINEL))
    return text


def compile_table_query(table) -> tuple[list[CompiledColumn], list[PatternNode]]:
    """Compile a provided CSVW table descriptor into variable-shared triple
    patterns (create-query.ts:39-156 + 338-510).

    Variable assignment (:83-98): each distinct aboutUrl/valueUrl TEMPLATE
    gets one variable; a column whose valueUrl is another column's aboutUrl
    therefore joins ``t1.obj == t2.subj`` — the object-subject chain.
    Returns (output columns, top-level pattern roots). Top-level = columns
    not referenced by another column's chain (or rdf:type group), plus
    primary-key columns (:107-129).
    """
    from ..spec import expand_iri
    cols = table.columns
    # URI templates resolve against the TABLE URL (CSVW metadata §5.1.3) —
    # a relative propertyUrl like '#col={_name}' must match the predicates a
    # csvw2rdf run minted relative to the CSV location (fixtures 038/039;
    # the reference leaves them relative and mismatches, hence its skips).
    base = expand_iri(table.url, table.base) if table.url else table.base
    query_vars: dict[str, str] = {}
    counter = [0]

    def var_for(url: str | None) -> str:
        key = url or ""
        if key not in query_vars:
            query_vars[key] = f"_{counter[0]}"
            counter[0] += 1
        return query_vars[key]

    def q_name(c) -> str:
        # create-query.ts:44-61 name derivation (context-language only);
        # hand-built ColumnSpecs without q_name fall back to name
        return getattr(c, "q_name", "") or c.name

    def pred_of(i: int) -> str:
        c = cols[i]
        if c.propertyUrl:
            return expand_iri(
                _expand_specials(c.propertyUrl, i, q_name(c)), base)
        return f"{table.url}#{q_name(c)}"

    col_vars: list[str] = []
    for i, c in enumerate(cols):
        var_for(c.aboutUrl)
        if c.valueUrl:
            var_for(c.valueUrl)
        if pred_of(i) == RDF_TYPE:
            col_vars.append(query_vars[c.aboutUrl or ""])
        elif c.valueUrl:
            col_vars.append(query_vars[c.valueUrl])
        else:
            col_vars.append(f"_{counter[0]}")
            counter[0] += 1

    def template_regex(template: str | None, i: int) -> str | None:
        if not template:
            return None
        rx = _expand_specials(expand_iri(template, base), i,
                              q_name(cols[i]), wildcard=True)
        # reference anchors end-only: FILTER REGEX(STR(?v), "url$")
        return None if rx == ".*" else rx + "$"

    def build(i: int, stack: frozenset[int]) -> PatternNode:
        c = cols[i]
        pred = pred_of(i)
        is_type = pred == RDF_TYPE
        subj_var = query_vars[c.aboutUrl or ""]
        obj_var: str | None = col_vars[i]
        obj_iri = None
        if is_type and c.valueUrl and not (
                set(_tpl_vars(c.valueUrl)) - set(_SPECIALS)):
            obj_iri = expand_iri(
                _expand_specials(c.valueUrl, i, q_name(c)), base)
            obj_var = None
        children: list[PatternNode] = []
        stack = stack | {i}
        if is_type and c.aboutUrl:
            for j, o in enumerate(cols):
                if j not in stack and o.aboutUrl == c.aboutUrl:
                    children.append(build(j, stack))
        elif c.valueUrl:
            type_col = next(
                (j for j, o in enumerate(cols)
                 if pred_of(j) == RDF_TYPE and o.aboutUrl == c.valueUrl),
                None)
            for j, o in enumerate(cols):
                if j in stack or j == i or o.aboutUrl != c.valueUrl:
                    continue
                # when a type column owns the chained group, recurse only
                # through it (avoids emitting siblings twice, :488-497)
                if type_col is None or pred_of(j) == RDF_TYPE:
                    children.append(build(j, stack))
        return PatternNode(
            subj_var=subj_var, pred=pred, obj_var=obj_var, obj_iri=obj_iri,
            required=c.required,
            subj_regex=template_regex(c.aboutUrl, i),
            obj_regex=template_regex(c.valueUrl, i) if obj_var else None,
            lang=c.lang if (obj_var and not is_type) else None,
            dt=(c.datatype if (obj_var and not is_type
                               and c.separator is None) else None),
            separator=c.separator if (obj_var and not is_type) else None,
            ordered=bool(c.ordered),
            children=tuple(children))

    roots: list[PatternNode] = []
    out_cols: list[CompiledColumn] = []
    for i, c in enumerate(cols):
        # rdf:type branch mirrors create-query.ts:108-111: a type column only
        # claims siblings when its aboutUrl is truthy (build() collects
        # children only then) — otherwise aboutUrl-less columns would be
        # marked referenced yet never bound, leaving their vars unresolved
        referenced = any(
            (bool(o.aboutUrl) and o.aboutUrl == c.aboutUrl
             if pred_of(j) == RDF_TYPE
             else o.valueUrl is not None and o.valueUrl == c.aboutUrl)
            for j, o in enumerate(cols) if j != i)
        if not referenced or q_name(c) in table.primaryKey:
            roots.append(build(i, frozenset()))
        if not c.virtual:
            out_cols.append(CompiledColumn(
                name=q_name(c), var=col_vars[i], virtual=c.virtual,
                valueUrl=c.valueUrl, datatype=c.datatype,
                null=tuple(c.null) if c.null else None,
                is_type=pred_of(i) == RDF_TYPE,
                title=getattr(c, "title", "") or c.name,
                table_about=c.aboutUrl if pred_of(i) == RDF_TYPE else None))
    return out_cols, roots


def _tpl_vars(template: str) -> set[str]:
    from ..functions.uritemplate import variables
    return variables(template)


def _datatype_filter(dt: "DatatypeSpec"):
    """Value-constraint filter for a bound object variable, or None.

    Mirrors the getXFilter family (format-number.ts:129-178,
    format-datetime.ts:69-113, format-other.ts:4-40): numeric min/max compare
    numerically (NaN exempt for float/double/number), date/time min/max
    compare on the ISO lexical form (temporal order == lexical order for the
    equal-precision forms the corpus uses), other datatypes filter on the
    format regex and length bounds. Booleans and durations have no filter
    (format-boolean.ts:21-28; duration comparison unimplemented there too).
    """
    from ..functions import formatters as FM
    v = F.col("obj_lex")
    if FM.is_boolean(dt) or FM.is_duration(dt):
        return None
    cons = []
    if FM.is_numeric(dt):
        # try_cast, not cast: this expression is a FILTER CONDITION under
        # ANSI-on Spark 4 — a non-numeric lexical in the predicate slice
        # must evaluate to NULL→false (SPARQL type error semantics), not
        # throw CAST_INVALID_INPUT for the whole job (CLAUDE.md cast rule).
        num = v.try_cast("double")
        for bound, op in ((dt.minimum, lambda c: num >= c),
                          (dt.maximum, lambda c: num <= c),
                          (dt.minExclusive, lambda c: num > c),
                          (dt.maxExclusive, lambda c: num < c)):
            if bound is not None:
                cons.append(op(F.lit(float(bound))))
        if not cons:
            return None
        cond = cons[0]
        for c in cons[1:]:
            cond = cond & c
        if dt.base in ("double", "number", "float"):
            cond = (v == "NaN") | cond
        return cond
    if FM.is_datetime(dt):
        for bound, op in ((dt.minimum, lambda c: v >= c),
                          (dt.maximum, lambda c: v <= c),
                          (dt.minExclusive, lambda c: v > c),
                          (dt.maxExclusive, lambda c: v < c)):
            if bound is not None:
                cons.append(op(F.lit(str(bound))))
    else:
        if isinstance(dt.format, str):
            cons.append(v.rlike(dt.format))
        # binary types measure length in DECODED OCTETS (CSVW §4.6.1) — the
        # reference's STRLEN filter (format-other.ts:22-27) measures the
        # lexical form, which is why its own suite skips fixture 195; the
        # expected CSVs encode the spec behavior, so that is what we match
        if dt.base in ("base64Binary", "binary"):
            ln = F.length(F.unbase64(v))
        elif dt.base == "hexBinary":
            ln = (F.length(v) / 2).cast("int")
        else:
            ln = F.length(v)
        if dt.length is not None:
            cons.append(ln == int(dt.length))
        if dt.minLength is not None:
            cons.append(ln >= int(dt.minLength))
        if dt.maxLength is not None:
            cons.append(ln <= int(dt.maxLength))
    if not cons:
        return None
    cond = cons[0]
    for c in cons[1:]:
        cond = cond & c
    return cond


def _effectively_required(node: PatternNode) -> bool:
    """A pattern with a MIN/MAX value constraint drops the whole row when its
    value violates or is absent — the reference's FILTER evaluates against
    the joined solution, where an unbound/violating value errors to false
    (fixtures 202/209: only the fully-constraint-satisfying row survives).
    Equivalent relationally to an INNER join of the filtered slice.

    Length/format constraints do NOT promote the join (fixture 195: a
    length-constrained optional column with no binding still leaves an empty
    cell) — they only filter the binding itself."""
    if node.required:
        return True
    dt = node.dt
    return dt is not None and any(
        b is not None for b in (dt.minimum, dt.maximum,
                                dt.minExclusive, dt.maxExclusive))


def match_table_query(triples: DataFrame, out_cols: list[CompiledColumn],
                      roots: list[PatternNode], *, use_titles: bool = False,
                      substitute_nulls: bool = False) -> DataFrame:
    """Execute a compiled table query as DataFrame joins.

    ``use_titles`` aliases output columns by TITLE (the CSV header the
    reference emits rows under); ``substitute_nulls`` substitutes every
    unbound cell with the column's null value (or ''), not just formatted
    columns. Both happen inside the one final projection, so two columns
    whose names differ only by case (fixture 187's dateTime/datetime) never
    hit Spark's case-insensitive column resolution.

    Each PatternNode becomes a filtered slice of the triple store projected
    onto its variables; chained children join on the SHARED variable
    (``t1.obj == t2.subj`` — same columns because the compiler assigned one
    variable per template). OPTIONAL (non-required) nodes become left joins
    of their whole nested group — matching SPARQL group semantics, where an
    OPTIONAL binds only if every pattern inside it (incl. required
    children) matches. Required roots join first (the reference prepends
    them, create-query.ts:121-127); an all-optional query is seeded with
    the distinct subjects of the root patterns (J3, :133-137).
    """
    def frame(node: PatternNode) -> DataFrame:
        f = triples.where(F.col("pred") == node.pred)
        if node.subj_regex:
            f = f.where(F.col("subj").rlike(node.subj_regex))
        sel = [F.col("subj").alias(node.subj_var)]
        if node.obj_iri is not None:
            f = f.where((F.col("obj_kind") == "iri")
                        & (F.col("obj_lex") == node.obj_iri))
        elif node.obj_var and node.obj_var != node.subj_var:
            if node.obj_regex:
                f = f.where(F.col("obj_lex").rlike(node.obj_regex))
            if node.dt is not None:
                dtf = _datatype_filter(node.dt)
                if dtf is not None:
                    f = f.where(dtf)
            if node.lang:
                # LANGMATCHES over a basic range: exact tag or subtag prefix,
                # case-insensitive; '*' = any language-tagged literal. An IRI
                # or plain literal makes LANG() fail the filter.
                tag = F.lower(F.col("obj_lang"))
                if node.lang == "*":
                    f = f.where(tag != "")
                else:
                    want = node.lang.lower()
                    f = f.where((tag == want) | tag.startswith(want + "-"))
            sel.append(F.col("obj_lex").alias(node.obj_var))
        f = f.select(*sel)
        if (node.separator is not None and node.obj_var
                and node.obj_var != node.subj_var):
            if node.ordered:
                # ordered list cell: the binding is an rdf:List head —
                # replace it with the linearized items in LIST order;
                # non-list bindings pass through (left join + coalesce)
                cells = (rdf_list_cells(triples, node.separator)
                         .withColumnRenamed("head", node.obj_var))
                f = (f.join(cells, node.obj_var, "left")
                     .withColumn(node.obj_var,
                                 F.coalesce("cell", F.col(node.obj_var)))
                     .drop("cell"))
            else:
                # one cell per subject: canonical (sorted) value order — the
                # reference's store iteration order is arbitrary, this is
                # the retry-stable choice that matches the fixtures
                f = f.groupBy(node.subj_var).agg(
                    F.array_join(F.array_sort(F.collect_list(node.obj_var)),
                                 node.separator).alias(node.obj_var))
        for ch in node.children:
            cf = frame(ch)
            shared = sorted(set(f.columns) & set(cf.columns))
            f = f.join(cf, shared, "inner" if _effectively_required(ch)
                       else "left")
        return f

    ordered = [r for r in roots if r.required] + \
        [r for r in roots if not r.required]
    out: DataFrame | None = None
    if not any(r.required for r in roots):
        # all-optional seed: subjects that match ANY top-level pattern,
        # grouped per subject VARIABLE (the reference's
        # createSelectOfOptionalSubjects unions per-root subject selects;
        # roots with different subject vars get their own seed, combined as
        # the same cartesian the disconnected-root join below uses). The
        # seed keeps each root's obj_iri/subj_regex constraints so e.g. a
        # type root only seeds correctly-typed subjects.
        from dataclasses import replace as _dc_replace
        by_var: dict[str, DataFrame] = {}
        for r in roots:
            # keep the root's own object constraints (obj regex, lang,
            # datatype filter — createSelectOfOptionalSubjects emits them
            # inside each UNION alternative) but not its chained children
            s = frame(_dc_replace(r, children=(), required=False)
                      ).select(r.subj_var)
            prev = by_var.get(r.subj_var)
            by_var[r.subj_var] = s if prev is None else prev.unionByName(s)
        for s in by_var.values():
            s = s.distinct()
            out = s if out is None else _guarded_cross(out, s)
    for r in ordered:
        rf = frame(r)
        if out is None:
            out = rf
        else:
            shared = sorted(set(out.columns) & set(rf.columns))
            how = "inner" if _effectively_required(r) else "left"
            out = (out.join(rf, shared, how) if shared
                   else _guarded_cross(out, rf))
    assert out is not None

    exprs = []
    for c in out_cols:
        col = F.col(c.var)
        p = TriplePattern(c.name, RDF_TYPE if c.is_type else "",
                          valueUrl=c.valueUrl, datatype=c.datatype,
                          null=c.null,
                          table_about=c.table_about)
        formatted = c.valueUrl or c.datatype is not None or (
            c.is_type and c.table_about)
        if formatted:
            col = _format_binding(p, col)
        if c.null is not None or formatted or substitute_nulls:
            col = F.coalesce(col, F.lit(c.null[0] if c.null else ""))
        exprs.append(col.alias((c.title or c.name) if use_titles else c.name))
    return out.select(*exprs)
