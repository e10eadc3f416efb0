"""Turtle-equivalent serialization: prefix-compacted flat triples.

The reference's pretty-Turtle writer buffers quads and looks up prefixes
(optionally via the prefix.cc web service — loaders/serialize.ts:39-96,
loaders/prefix-lookup.ts:17-100). A buffered pretty-printer is inherently
driver-side; the distributed equivalent is *prefixed flat Turtle*: each
triple on its own line with prefixed names from a broadcast prefix map —
valid Turtle, stays a pure projection.

Prefix candidates (A7) come from a distributed distinct over IRI namespaces
(split at '#' or the last '/'), merged with the RDFa defaults on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..spec import PREFIXES, XSD
from .. functions.ntriples import escape_literal

_NS_RE = r"^(.*[#/])([A-Za-z_][\w.-]*)$"


def namespace_candidates(triples: DataFrame, min_count: int = 2) -> DataFrame:
    """A7: distinct IRI namespaces with usage counts (prefix-lookup.ts:79-100)."""
    iris = (triples.select(F.col("pred").alias("iri"))
            .unionAll(triples.where(F.col("obj_kind") == "iri")
                      .select(F.col("obj_lex").alias("iri")))
            .unionAll(triples.where(~F.col("subj").startswith("_:"))
                      .select(F.col("subj").alias("iri"))))
    ns = iris.select(F.regexp_extract("iri", _NS_RE, 1).alias("ns"))
    return (ns.where(F.col("ns") != "").groupBy("ns")
            .agg(F.count("*").alias("n_uses"))
            .where(F.col("n_uses") >= min_count))


def build_prefix_map(triples: DataFrame, max_prefixes: int = 64) -> dict[str, str]:
    """prefix → namespace map: well-known RDFa prefixes + generated ``ns<i>``
    for frequent namespaces (driver-side tiny result)."""
    known = {v: k for k, v in PREFIXES.items()}
    rows = (namespace_candidates(triples).orderBy(F.desc("n_uses"))
            .limit(max_prefixes).collect())
    out: dict[str, str] = {}
    i = 0
    for r in rows:
        if r.ns in known:
            out[known[r.ns]] = r.ns
        else:
            out[f"ns{i}"] = r.ns
            i += 1
    return out


def _compact_term(iri: Column, prefix_map: dict[str, str]) -> Column:
    """IRI → prefixed name when a prefix matches and the local part is a
    valid PN_LOCAL (conservative: word chars only); else <iri>."""
    out = F.concat(F.lit("<"), iri, F.lit(">"))
    for pfx, ns in sorted(prefix_map.items(), key=lambda kv: -len(kv[1])):
        local = F.substring(iri, len(ns) + 1, 2048)
        ok = iri.startswith(ns) & local.rlike(r"^[A-Za-z_][\w.-]*$")
        out = F.when(ok, F.concat(F.lit(pfx + ":"), local)).otherwise(out)
    return out


def to_turtle_lines(triples: DataFrame,
                    prefix_map: dict[str, str] | None = None,
                    *, with_graphs: bool = False) -> tuple[list[str], DataFrame]:
    """Returns (@prefix header lines, DF of one Turtle statement per line).

    ``with_graphs=True`` is the streaming TriG variant (the reference routes
    ``.trig`` through the same N3 StreamWriter, loaders/serialize.ts:44-66):
    each named-graph statement becomes its own single-statement
    ``<g> { s p o . }`` block — valid TriG, one line per triple, fully
    distributed (no per-graph grouping shuffle)."""
    pm = prefix_map if prefix_map is not None else build_prefix_map(triples)
    header = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(pm.items())]

    s = F.when(F.col("subj").startswith("_:"), F.col("subj")) \
         .otherwise(_compact_term(F.col("subj"), pm))
    p = F.when(F.col("pred") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
               F.lit("a")).otherwise(_compact_term(F.col("pred"), pm))
    lit_body = F.concat(F.lit('"'), escape_literal(F.col("obj_lex")), F.lit('"'))
    o = (
        F.when(F.col("obj_kind") == "iri", _compact_term(F.col("obj_lex"), pm))
        .when(F.col("obj_kind") == "bnode", F.col("obj_lex"))
        .when(F.col("obj_lang") != "", F.concat(lit_body, F.lit("@"), F.col("obj_lang")))
        .when((F.col("obj_dtype") != "") & (F.col("obj_dtype") != XSD + "string"),
              F.concat(lit_body, F.lit("^^"), _compact_term(F.col("obj_dtype"), pm)))
        .otherwise(lit_body)
    )
    stmt = F.concat_ws(" ", s, p, o, F.lit("."))
    if with_graphs:
        g = F.when(F.col("graph").startswith("_:"), F.col("graph")) \
             .otherwise(_compact_term(F.col("graph"), pm))
        stmt = F.when((F.col("graph").isNull()) | (F.col("graph") == ""), stmt) \
                .otherwise(F.concat(g, F.lit(" { "), stmt, F.lit(" }")))
    lines = triples.select(stmt.alias("line"))
    return header, lines


# --- pretty (buffered) Turtle writer -----------------------------------------

def _compact_str(iri: str, pm: dict[str, str]) -> str:
    """Driver-side twin of _compact_term."""
    import re as _re
    best = None
    for pfx, ns in pm.items():
        if iri.startswith(ns) and (best is None or len(ns) > len(pm[best])):
            local = iri[len(ns):]
            if _re.fullmatch(r"[A-Za-z_][\w.-]*", local):
                best = pfx
    if best is not None:
        return f"{best}:{iri[len(pm[best]):]}"
    return f"<{iri}>"


def _escape_str(s: str) -> str:
    return (s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t"))


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def _derive_prefixes(rows) -> dict[str, str]:
    """Well-known RDFa prefixes actually used by ``rows`` (driver-side twin
    of build_prefix_map for buffered writers)."""
    from ..spec import PREFIXES
    used_ns = set()
    import re as _re
    for r in rows:
        for iri in (r[0], r[1], r[2] if r[3] == "iri" else None,
                    r[4] or None):
            if iri and not iri.startswith("_:"):
                m = _re.match(r"^(.*[#/])", iri)
                if m:
                    used_ns.add(m.group(1))
    return {pfx: ns for pfx, ns in PREFIXES.items() if ns in used_ns}


def pretty_turtle(rows, prefix_map: dict[str, str] | None = None,
                  base: str = "") -> str:
    """Buffered pretty printer — the driver-side parity twin of the
    reference's non-streaming Turtle path (loaders/serialize.ts:72-96,
    @rdfjs/serializer-turtle): subject-grouped ``;``/``,`` notation, ``a``
    for rdf:type, single-reference blank nodes inlined as ``[ … ]``,
    well-formed rdf:first/rest chains as ``( … )`` collections.

    ``rows`` is an iterable of 7-tuples in TRIPLE_COLS order (the same
    shape parse_turtle produces) — a buffered pretty printer is inherently
    whole-graph, so it is fixture-scale by design; the DISTRIBUTED path
    stays to_turtle_lines/to_ntriples_lines. Output ordering is fully
    deterministic (sorted subjects/predicates/objects)."""
    rows = [tuple(r) for r in rows]
    pm = dict(prefix_map) if prefix_map is not None else _derive_prefixes(rows)
    out = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(pm.items())]
    if base:
        out.append(f"@base <{base}> .")
    if out:
        out.append("")
    out.extend(_render_statements(rows, pm))
    return "\n".join(out) + "\n"


def _render_statements(rows, pm: dict[str, str],
                       no_inline: frozenset = frozenset()) -> list[str]:
    """Subject-grouped Turtle statements (no prefix header) for one graph's
    rows — the shared core of pretty_turtle and pretty_trig. Bnodes in
    ``no_inline`` are always rendered by label (TriG: a bnode shared across
    graph blocks is document-scoped and must keep its label identity)."""
    by_subj: dict[str, list] = {}
    obj_refs: dict[str, int] = {}
    for s, p, o, kind, dtype, lang, _g in rows:
        by_subj.setdefault(s, []).append((p, o, kind, dtype, lang))
        if kind == "bnode":
            obj_refs[o] = obj_refs.get(o, 0) + 1

    def is_list_node(b: str) -> bool:
        po = by_subj.get(b, [])
        preds = sorted(p for p, *_ in po)
        return (len(po) == 2 and preds == [_RDF_NS + "first", _RDF_NS + "rest"])

    def list_items(b: str):
        items = []
        seen = set()
        while b != _RDF_NS + "nil":
            if b in seen or not is_list_node(b):
                return None  # malformed/shared chain — fall back
            seen.add(b)
            po = {p: (o, k, d, lg) for p, o, k, d, lg in by_subj[b]}
            items.append(po[_RDF_NS + "first"])
            nxt = po[_RDF_NS + "rest"]
            if nxt[1] not in ("bnode", "iri"):
                return None
            b = nxt[0]
        return items

    inlined: set[str] = set()

    def term(o, kind, dtype, lang, depth) -> str:
        if kind == "iri":
            return _compact_str(o, pm)
        if kind == "bnode":
            if (obj_refs.get(o) == 1 and o in by_subj
                    and o not in inlined and o not in no_inline):
                if is_list_node(o):
                    items = list_items(o)
                    if items is not None:
                        chain = o
                        while chain != _RDF_NS + "nil" and chain in by_subj:
                            inlined.add(chain)
                            nxt = {p: v for p, v, *_x in by_subj[chain]}
                            chain = nxt.get(_RDF_NS + "rest", _RDF_NS + "nil")
                        return "( " + " ".join(
                            term(*it, depth + 1) for it in items) + " )"
                inlined.add(o)
                return "[ " + pred_objs(o, depth + 1) + " ]"
            return o
        body = f'"{_escape_str(o)}"'
        if lang:
            return body + "@" + lang
        if dtype and dtype != XSD + "string":
            return body + "^^" + _compact_str(dtype, pm)
        return body

    def pred_objs(s: str, depth: int) -> str:
        po = by_subj[s]
        groups: dict[str, list] = {}
        for p, o, k, d, lg in po:
            groups.setdefault(p, []).append((o, k, d, lg))
        parts = []
        ind = "  " * depth
        for p in sorted(groups, key=lambda x: (x != _RDF_NS + "type", x)):
            pn = "a" if p == _RDF_NS + "type" else _compact_str(p, pm)
            objs = ", ".join(term(*ov, depth)
                             for ov in sorted(groups[p]))
            parts.append(f"{pn} {objs}")
        return (" ;\n" + ind + "  ").join(parts)

    # render named subjects first so referrers run before their bnode
    # children (term() marks children in `inlined` as it renders them);
    # single-ref bnodes are skipped here and, if their referrer never
    # materialized, emitted by the fallback pass below
    ordered = sorted(by_subj, key=lambda s: (s.startswith("_:"), s))
    rendered = []
    for s in ordered:
        if s in inlined or (s.startswith("_:") and obj_refs.get(s) == 1
                            and s not in no_inline):
            continue
        head = s if s.startswith("_:") else _compact_str(s, pm)
        rendered.append(f"{head} {pred_objs(s, 1)} .")
    # a deferred bnode that was never actually inlined (referrer missing);
    # no_inline members were already rendered by the main pass
    for s in ordered:
        if (s.startswith("_:") and obj_refs.get(s) == 1
                and s not in inlined and s not in no_inline):
            rendered.append(f"{s} {pred_objs(s, 1)} .")
    return rendered


def pretty_trig(rows, prefix_map: dict[str, str] | None = None,
                base: str = "") -> str:
    """Pretty TriG writer (reference: loaders/serialize.ts:44-60 routes
    ``.trig`` through the same N3 writer with named-graph support): default-
    graph statements at top level, each named graph as a ``<g> { … }``
    block rendered by the shared pretty-Turtle core. Blank-node inlining is
    scoped per graph (a bnode referenced in one graph and described in
    another must not be inlined across the block boundary). Deterministic:
    graphs sorted, statements sorted within each block."""
    rows = [tuple(r) for r in rows]
    pm = dict(prefix_map) if prefix_map is not None else _derive_prefixes(rows)
    out = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(pm.items())]
    if base:
        out.append(f"@base <{base}> .")
    if out:
        out.append("")
    graphs: dict[str, list] = {}
    bnode_graphs: dict[str, set] = {}
    for r in rows:
        graphs.setdefault(r[6] or "", []).append(r)
        if r[0].startswith("_:"):
            bnode_graphs.setdefault(r[0], set()).add(r[6] or "")
        if r[3] == "bnode":
            bnode_graphs.setdefault(r[2], set()).add(r[6] or "")
    # document-scoped bnode labels: one appearing in >1 graph must keep its
    # label in every block (inlining would split it into distinct nodes)
    shared = frozenset(b for b, gs in bnode_graphs.items() if len(gs) > 1)
    default = graphs.pop("", None)
    if default:
        out.extend(_render_statements(default, pm, shared))
        if graphs:
            out.append("")
    for i, g in enumerate(sorted(graphs)):
        head = g if g.startswith("_:") else _compact_str(g, pm)
        out.append(f"{head} {{")
        out.extend("  " + line
                   for line in _render_statements(graphs[g], pm, shared))
        out.append("}")
        if i + 1 < len(graphs):
            out.append("")
    return "\n".join(out) + "\n"


def _collect_rows(triples: DataFrame) -> list:
    has_graph = "graph" in triples.columns
    return [(r.subj, r.pred, r.obj_lex, r.obj_kind, r.obj_dtype, r.obj_lang,
             r.graph if has_graph else "")
            for r in triples.collect()]


def to_pretty_turtle(triples: DataFrame,
                     prefix_map: dict[str, str] | None = None,
                     base: str = "") -> str:
    """Collect + pretty-print (driver-side, fixture-scale — the reference's
    non-streaming writer buffers the whole graph the same way)."""
    return pretty_turtle(_collect_rows(triples), prefix_map, base)


def to_pretty_trig(triples: DataFrame,
                   prefix_map: dict[str, str] | None = None,
                   base: str = "") -> str:
    """Collect + pretty-print TriG (driver-side, fixture-scale)."""
    return pretty_trig(_collect_rows(triples), prefix_map, base)
