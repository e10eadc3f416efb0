"""JSON-LD-subset parser (S4 widening; reference loaders/parse.ts:23-41
routes ``.jsonld`` inputs through the jsonld.js stack).

Driver-side by design, like the Turtle parser (turtle_parse.py): the
reference's ``.jsonld`` inputs are small fixture documents, and JSON-LD is
a whole-document grammar (contexts scope lexically) — not a distributed-
scan format. Big-data RDF ingest stays on the line-parallel NT/NQ path;
this module closes the fixture/interop seam with NO new libraries.

Subset covered (the flat/compact shapes the reference corpus uses):

- inline ``@context``: prefix mappings, ``@vocab``, ``@base``, term
  definitions with ``@id``, ``@type: @id``, ``@type: <datatype>``,
  ``@language``, ``@container: @language`` (language maps) and
  ``@reverse`` terms;
- ``@context`` arrays; REMOTE context URLs resolve through the caller-
  supplied ``resolver`` (tests inject file-backed overrides — the same
  seam as ``sources/resolve.py``; without a resolver they raise, the
  honest sandbox boundary);
- node objects: ``@id``, ``@type`` (string or list), property values as
  literals (string/number/boolean), ``{"@id": …}``, ``{"@value",
  "@type", "@language"}``, arrays, nested node objects (emitted as their
  own nodes + an edge triple), top-level ``@graph`` (named or default);
- blank nodes: nodes without ``@id`` get DETERMINISTIC skolem ids derived
  from their position path in the document (T9 — same bytes, same ids;
  no counters that survive retries differently);
- ordered lists: ``{"@list": [...]}`` values and ``@container: @list``
  terms → rdf:first/rest chains with deterministic skolem bnodes (same
  chain shape as the Turtle/RDF-XML collection readers);
- ``@graph`` nodes with sibling properties: the graph node's own
  properties are emitted in the default graph (JSON-LD expansion);
- ``@index`` maps (``@container: @index`` terms iterate the map's VALUES;
  the index keys are content-free in toRDF and drop, json-ld-api §13) and
  node-level ``@index`` entries (ignored, same rule);
- ``@nest`` (JSON-LD 1.1 §9.10): properties under a ``@nest`` value (or a
  term aliased to ``@nest``) are emitted as properties of the ENCLOSING
  node.

Unsupported shapes still raise ``ValueError``, never silently drop.
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable

from ..functions.terms import skolem_value
from ..spec import RDF, XSD

Triple7 = tuple[str, str, str, str, str, str, str]

_KEYWORDS = {"@context", "@id", "@type", "@value", "@language", "@graph",
             "@base", "@vocab", "@reverse", "@container", "@index", "@list",
             "@nest", "@set"}
_ABS_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


class _Context:
    def __init__(self) -> None:
        self.terms: dict[str, dict] = {}
        self.vocab: str = ""
        self.base: str = ""

    def merged(self, raw: Any, resolver) -> "_Context":
        ctx = _Context()
        ctx.terms = dict(self.terms)
        ctx.vocab, ctx.base = self.vocab, self.base
        for entry in raw if isinstance(raw, list) else [raw]:
            if entry is None:
                ctx = _Context()
                continue
            if isinstance(entry, str):
                if resolver is None:
                    raise NotImplementedError(
                        f"remote @context {entry!r}: supply a resolver "
                        "(sandbox has no network; tests inject file "
                        "overrides, same seam as sources/resolve.py)")
                ctx = ctx.merged(json.loads(resolver(entry)).get(
                    "@context", {}), resolver)
                continue
            for term, defn in entry.items():
                if term == "@vocab":
                    ctx.vocab = defn
                elif term == "@base":
                    ctx.base = defn
                elif term.startswith("@"):
                    continue
                elif isinstance(defn, str):
                    ctx.terms[term] = {"@id": defn}
                elif isinstance(defn, dict):
                    ctx.terms[term] = defn
        return ctx

    def expand_iri(self, value: str, vocab: bool = False) -> str:
        """Term → IRI: term definitions, prefix:suffix, @vocab/@base."""
        if value.startswith("_:"):
            return value  # blank node identifier (json-ld §3.4)
        if value in self.terms:
            iri = self.terms[value].get("@id", value)
            # ALWAYS re-expand a term definition's @id (unless it is the
            # term itself): "skos:prefLabel" matches the scheme regex yet
            # is a COMPACT IRI whenever the skos prefix is defined —
            # json-ld-api §5.2 step 6.3 (the NKOD OFN context exposed
            # this: every remote-context term stayed compact). A term whose
            # definition has NO explicit @id (e.g. "skos:broader":
            # {"@type": "@id"}) maps to the expansion of the term KEY
            # itself — fall through to the prefix/vocab branches instead
            # of returning the compact form.
            if iri != value:
                return self.expand_iri(iri, vocab)
        if ":" in value:
            prefix, suffix = value.split(":", 1)
            if prefix in self.terms and not suffix.startswith("//"):
                return self.terms[prefix].get("@id", prefix + ":") + suffix
            if _ABS_IRI.match(value):
                return value
        if vocab and self.vocab:
            return self.vocab + value
        if not vocab and self.base:
            return self.base + value
        return value

    def term_def(self, term: str) -> dict:
        return self.terms.get(term, {})


def _containers(tdef: dict) -> set[str]:
    """A term's @container entry may be a string or a list (json-ld 1.1)."""
    c = tdef.get("@container")
    if c is None:
        return set()
    return set(c) if isinstance(c, list) else {c}


def _flatten_entries(node: dict, ctx: _Context, path: str
                     ) -> list[tuple[str, Any, str]]:
    """Node entries as (key, value, path) with @nest values hoisted to the
    enclosing node (JSON-LD 1.1 §9.10) and node-level @index dropped
    (content-free in toRDF). A list is used because hoisting can surface
    the same property key from several nests."""
    items: list[tuple[str, Any, str]] = []
    for key, raw in node.items():
        if key == "@index" or ctx.terms.get(key, {}).get("@id") == "@index":
            continue
        is_nest = key == "@nest" or \
            ctx.terms.get(key, {}).get("@id") == "@nest"
        if is_nest:
            for i, nd in enumerate(raw if isinstance(raw, list) else [raw]):
                if not isinstance(nd, dict) or "@value" in nd:
                    raise ValueError(
                        f"@nest value must be a node object at {path}.{key}")
                if any(_keyword_of(ctx, k) == "@id" for k in nd):
                    raise ValueError(
                        f"@nest value must not carry @id at {path}.{key}")
                items.extend(_flatten_entries(nd, ctx,
                                              f"{path}.{key}[{i}]"))
            continue
        items.append((key, raw, path))
    return items


def _keyword_of(ctx: _Context, key: str) -> str | None:
    """Resolve keyword ALIASES (json-ld §4.1.4): a term whose definition is
    a keyword ('iri': '@id', 'typ': '@type') acts as that keyword."""
    if key.startswith("@"):
        return key if key in _KEYWORDS else None
    alias = ctx.terms.get(key, {}).get("@id")
    return alias if alias in ("@id", "@type", "@graph") else None


def jsonld_to_triples(doc: Any, *, base: str = "",
                      resolver: Callable[[str], str] | None = None
                      ) -> list[Triple7]:
    """Flat/compact JSON-LD document → list of 7-tuples (TRIPLE_COLS
    shape, same contract as ``parse_turtle``)."""
    out: list[Triple7] = []
    root_ctx = _Context()
    root_ctx.base = base
    _walk_top(doc, root_ctx, resolver, out)
    # An RDF graph is a SET of triples (RDF 1.1 Concepts §3.1); JSON-LD
    # routinely states one node in several nestings (e.g. the NKOD golden
    # lists each concept both under its scheme's items and under its
    # broader concept's narrower), which syntactically repeats triples.
    # Dedupe order-preservingly so downstream joins keep set semantics.
    return list(dict.fromkeys(out))


def _walk_top(doc: Any, ctx: _Context, resolver, out: list[Triple7],
              graph: str = "") -> None:
    if isinstance(doc, list):
        for i, node in enumerate(doc):
            _node(node, ctx, resolver, out, graph, path=f"[{i}]")
        return
    if not isinstance(doc, dict):
        raise ValueError(f"unsupported top-level JSON-LD value: {type(doc)}")
    if "@context" in doc:
        ctx = ctx.merged(doc["@context"], resolver)
    if "@graph" in doc:
        gid = ""
        id_key = next((k for k in doc if _keyword_of(ctx, k) == "@id"), None)
        if id_key is not None:
            gid = ctx.expand_iri(doc[id_key])
        for i, node in enumerate(doc["@graph"]):
            _node(node, ctx, resolver, out, gid, path=f"g[{i}]")
        # the graph node's OWN properties (ADVICE r3: previously silently
        # dropped): per JSON-LD expansion they describe the graph-name node
        # in the DEFAULT graph — {"@id": g, "@graph": [...], "name": x}
        # emits (g, name, x) outside the named graph
        rest = {k: v for k, v in doc.items()
                if k not in ("@context", "@graph")}
        if any(_keyword_of(ctx, k) != "@id" for k in rest):
            _node(rest, ctx, resolver, out, graph, path="$")
        return
    _node(doc, ctx, resolver, out, graph, path="$")


def _node(node: dict, ctx: _Context, resolver, out: list[Triple7],
          graph: str, path: str) -> tuple[str, str]:
    """Emit a node object's triples; returns (subject term, kind)."""
    if not isinstance(node, dict):
        raise ValueError(f"expected node object at {path}, got {node!r}")
    if "@context" in node:
        ctx = ctx.merged(node["@context"], resolver)
    if "@list" in node:
        raise ValueError(f"@list outside a value position at {path}")
    id_key = next((k for k in node if _keyword_of(ctx, k) == "@id"), None)
    if id_key is not None:
        subj = ctx.expand_iri(node[id_key])
        subj_kind = "bnode" if subj.startswith("_:") else "iri"
    else:
        subj = skolem_value("jsonld-bnode", path)
        subj_kind = "bnode"

    def emit(pred, lex, kind, dtype="", lang=""):
        out.append((subj, pred, lex, kind, dtype, lang, graph))

    for key, raw, kpath in _flatten_entries(node, ctx, path):
        kw = _keyword_of(ctx, key)
        if key == "@context" or kw == "@id":
            continue
        if kw == "@graph":
            # graph object (json-ld §9.4): children live in the graph NAMED
            # by this node's @id; the node's other properties stay in the
            # enclosing graph
            for i, child in enumerate(
                    raw if isinstance(raw, list) else [raw]):
                _node(child, ctx, resolver, out, subj, f"{kpath}.g[{i}]")
            continue
        if kw == "@type":
            for t in raw if isinstance(raw, list) else [raw]:
                emit(RDF + "type", ctx.expand_iri(t, vocab=True), "iri")
            continue
        if key == "@reverse":
            for rkey, rval in raw.items():
                pred = ctx.expand_iri(rkey, vocab=True)
                for i, v in enumerate(
                        rval if isinstance(rval, list) else [rval]):
                    osubj, _k = _node(v, ctx, resolver, out, graph,
                                      f"{kpath}.@reverse.{rkey}[{i}]")
                    out.append((osubj, pred, subj,
                                subj_kind, "", "", graph))
            continue
        if key.startswith("@"):
            raise ValueError(f"unsupported keyword {key} at {kpath}")

        tdef = ctx.term_def(key)
        if "@reverse" in tdef:
            pred = ctx.expand_iri(tdef["@reverse"], vocab=True)
            for i, v in enumerate(raw if isinstance(raw, list) else [raw]):
                osubj, _k = _node(v, ctx, resolver, out, graph,
                                  f"{kpath}.{key}[{i}]")
                out.append((osubj, pred, subj, subj_kind, "", "", graph))
            continue
        pred = ctx.expand_iri(key, vocab=True)
        containers = _containers(tdef)
        if "@language" in containers and isinstance(raw, dict):
            for lang, lval in raw.items():
                for v in lval if isinstance(lval, list) else [lval]:
                    emit(pred, str(v), "literal", "", lang)
            continue
        if "@index" in containers and isinstance(raw, dict):
            # index map: keys are content-free in toRDF (json-ld-api §13);
            # each VALUE maps as a normal value of the property
            vals: list[Any] = []
            for ival in raw.values():
                vals.extend(ival if isinstance(ival, list) else [ival])
            raw = vals
        if "@list" in containers and not (
                isinstance(raw, dict) and "@list" in raw):
            raw = {"@list": raw if isinstance(raw, list) else [raw]}
        for i, v in enumerate(raw if isinstance(raw, list) else [raw]):
            _value(v, pred, tdef, ctx, resolver, out, graph,
                   f"{kpath}.{key}[{i}]", emit)
    return subj, subj_kind


def _value(v: Any, pred: str, tdef: dict, ctx: _Context, resolver,
           out: list[Triple7], graph: str, path: str, emit) -> None:
    if v is None:
        return  # JSON-LD expansion drops null values (json-ld-api §13)
    if isinstance(v, dict) and "@list" in v:
        # ordered list → rdf:first/rest chain with deterministic skolem
        # bnode ids (json-ld-api §13 list conversion; same chain shape as
        # the Turtle/RDF-XML collection readers and csvw2rdf T6)
        items = v["@list"]
        items = items if isinstance(items, list) else [items]
        items = [it for it in items if it is not None]
        if not items:
            emit(pred, RDF + "nil", "iri")
            return
        heads = [skolem_value("jsonld-li", path, str(j))
                 for j in range(len(items))]
        emit(pred, heads[0], "bnode")
        for j, item in enumerate(items):
            if isinstance(item, list):
                raise ValueError(f"nested bare-array list item at {path}")

            def lemit(p2, lex, kind, dtype="", lang="", _h=heads[j]):
                out.append((_h, p2, lex, kind, dtype, lang, graph))
            _value(item, RDF + "first", tdef, ctx, resolver, out, graph,
                   f"{path}.l[{j}]", lemit)
            nxt = (heads[j + 1], "bnode") if j + 1 < len(heads) \
                else (RDF + "nil", "iri")
            out.append((heads[j], RDF + "rest", nxt[0], nxt[1],
                        "", "", graph))
        return
    if isinstance(v, dict) and "@value" in v:
        val = v["@value"]
        dtype = v.get("@type", "")
        lang = v.get("@language", "")
        lex, inferred = _literal_lex(val)
        emit(pred, lex, "literal",
             ctx.expand_iri(dtype, vocab=True) if dtype else inferred, lang)
        return
    if isinstance(v, dict):
        # node object (possibly only an @id/alias reference — then _node
        # emits no triples of its own and just returns the identifier)
        child, kind = _node(v, ctx, resolver, out, graph, path)
        emit(pred, child, kind)
        return
    if isinstance(v, str):
        if tdef.get("@type") == "@id":
            emit(pred, ctx.expand_iri(v), "iri")
        else:
            dtype = tdef.get("@type", "")
            emit(pred, v, "literal",
                 ctx.expand_iri(dtype, vocab=True) if dtype else "",
                 tdef.get("@language", ""))
        return
    lex, dtype = _literal_lex(v)
    emit(pred, lex, "literal", dtype)


def _literal_lex(v: Any) -> tuple[str, str]:
    """Canonical lexical form + inferred datatype for a JSON scalar
    (json-ld-api §8.6 value expansion)."""
    if isinstance(v, bool):
        return ("true" if v else "false"), XSD + "boolean"
    if isinstance(v, int):
        return str(v), XSD + "integer"
    if isinstance(v, float):
        # XSD canonical double (m.mmmEe), the form jsonld.js emits
        mant, exp = f"{v:E}".split("E")
        mant = mant.rstrip("0").rstrip(".")
        if "." not in mant:
            mant += ".0"
        return f"{mant}E{int(exp)}", XSD + "double"
    return str(v), ""


def read_jsonld(spark, path: str, *, base: str = "",
                resolver: Callable[[str], str] | None = None):
    """Parse a .jsonld file driver-side → triples DataFrame in TRIPLE_COLS
    shape (same contract as read_turtle)."""
    from pathlib import Path

    from ..functions.terms import TRIPLE_DDL
    from .local import local_frame
    rows = jsonld_to_triples(json.loads(Path(path).read_text("utf-8")),
                             base=base, resolver=resolver)
    return local_frame(spark, rows, TRIPLE_DDL)
