"""Turtle / TriG-subset parser (S4 widening; reference loaders/parse.ts:23-41
routes non-XML/non-JSON-LD inputs through N3's permissive Turtle parser).

Driver-side by design: the reference's own test corpus inputs are small
``.ttl`` fixtures, and Turtle is a context-dependent grammar (prefixes,
multi-line statements, nested bnode property lists) that cannot be split at
line boundaries — so it is NOT a distributed-scan format. Big-data RDF
ingest stays on the line-parallel NT/NQ path (functions/ntriples.py); this
module closes the fixture/interop seam: parse driver-side, hand Spark a
triples DataFrame.

Grammar coverage (the Turtle features the CSVW test corpus uses, plus TriG
graph blocks): @prefix/@base + SPARQL-style PREFIX/BASE, prefixed names,
IRIREF with \\u escapes, ``a``, object lists (,), predicate-object lists
(;), short/long string literals in both quote styles with escapes, @lang,
^^datatype, numeric and boolean shorthand literals, labeled and anonymous
blank nodes, bnode property lists, RDF collections, and
``GRAPH? <iri> { ... }`` blocks.

Anonymous nodes get sequential ``_:anon<N>`` ids — deterministic for a given
input text (same bytes → same ids), satisfying the engine-wide T9 rule.
"""

from __future__ import annotations

import re
import urllib.parse

from ..spec import RDF, XSD

Triple7 = tuple[str, str, str, str, str, str, str]

_TOKEN_RE = re.compile(r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<long_str>\"\"\"(?:[^"\\]|\\.|\"(?!\"\"))*\"\"\"|'''(?:[^'\\]|\\.|'(?!''))*''')
  | (?P<str>\"(?:[^"\\\n]|\\.)*\"|'(?:[^'\\\n]|\\.)*')
  | (?P<iri><[^<>\s]*>)
  | (?P<kw>@prefix\b|@base\b|(?i:PREFIX|BASE|GRAPH)\b)
  | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<bnode>_:\w[\w.-]*)
  | (?P<pname>(?:[^\W\d][\w.-]*)?:(?:[\w:%-]|\\.|\.(?=[\w.:%\\-]))*)
  | (?P<punct>\^\^|[;,.()\[\]{}])
  | (?P<word>[A-Za-z_][\w-]*)
""", re.VERBOSE)

_STR_ESCAPES = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
                '"': '"', "'": "'", "\\": "\\"}


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            e = s[i + 1]
            if e == "u":
                out.append(chr(int(s[i + 2:i + 6], 16))); i += 6; continue
            if e == "U":
                out.append(chr(int(s[i + 2:i + 10], 16))); i += 10; continue
            out.append(_STR_ESCAPES.get(e, e)); i += 2; continue
        out.append(c); i += 1
    return "".join(out)


class TurtleParser:
    def __init__(self, text: str, base: str = ""):
        self.tokens: list[tuple[str, str]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN_RE.match(text, pos)
            if not m:
                raise ValueError(f"turtle: bad syntax at {text[pos:pos + 30]!r}")
            pos = m.end()
            kind = m.lastgroup
            if kind != "ws":
                self.tokens.append((kind, m.group()))
        self.i = 0
        self.base = base
        self.prefixes: dict[str, str] = {}
        self.out: list[Triple7] = []
        self.graph = ""
        self.anon = 0

    # --- token helpers -------------------------------------------------
    def _peek(self):
        return self.tokens[self.i] if self.i < len(self.tokens) else ("eof", "")

    def _next(self):
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, value: str):
        kind, tok = self._next()
        if tok != value:
            raise ValueError(f"turtle: expected {value!r}, got {tok!r}")

    # --- terms ----------------------------------------------------------
    def _iri(self, tok: str) -> str:
        val = _unescape(tok[1:-1])
        if self.base and not re.match(r"^[A-Za-z][\w+.-]*:", val):
            out = urllib.parse.urljoin(self.base, val)
            if val.endswith("#") and not out.endswith("#"):
                out += "#"  # urljoin strips a lone trailing fragment marker
            return out
        return val

    def _pname(self, tok: str) -> str:
        pfx, _, local = tok.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"turtle: undefined prefix {pfx!r}:")
        return self.prefixes[pfx] + re.sub(r"\\(.)", r"\1", local)

    def _fresh_bnode(self) -> str:
        self.anon += 1
        return f"_:anon{self.anon}"

    # --- grammar ----------------------------------------------------------
    def parse(self) -> list[Triple7]:
        while self._peek()[0] != "eof":
            kind, tok = self._peek()
            if tok in ("@prefix", "@base") or tok.upper() in ("PREFIX", "BASE"):
                self._directive()
            elif tok.upper() == "GRAPH" or (tok == "{" and kind == "punct"):
                self._graph_block()
            elif (self.i + 1 < len(self.tokens)
                  and self.tokens[self.i + 1][1] == "{"):
                # TriG label-first shorthand: <g> { … } without the GRAPH
                # keyword (graph labels are always single tokens)
                self._graph_block()
            else:
                self._triples()
                self._expect(".")
        return self.out

    def _directive(self):
        _, tok = self._next()
        sparql_style = tok[0] != "@"
        if tok.lower().lstrip("@") == "prefix":
            _, pn = self._next()
            if not pn.endswith(":"):
                raise ValueError(f"turtle: bad prefix decl {pn!r}")
            _, iri = self._next()
            self.prefixes[pn[:-1]] = self._iri(iri)
        else:
            _, iri = self._next()
            self.base = self._iri(iri)
        if not sparql_style:
            self._expect(".")

    def _graph_block(self):
        if self._peek()[1].upper() == "GRAPH":
            self._next()
        kind, tok = self._peek()
        if tok != "{":
            graph_term, _ = self._term()
            self.graph = graph_term
        self._expect("{")
        while self._peek()[1] != "}":
            self._triples()
            if self._peek()[1] == ".":
                self._next()
        self._expect("}")
        self.graph = ""

    def _triples(self):
        kind, tok = self._peek()
        if tok == "[":
            subj = self._bnode_property_list()
            if self._peek()[1] not in (".", "}"):
                self._predicate_object_list(subj)
        else:
            subj, _ = self._term()
            self._predicate_object_list(subj)

    def _predicate_object_list(self, subj: str):
        while True:
            kind, tok = self._peek()
            if tok == "a" and kind == "word":
                self._next()
                pred = RDF + "type"
            else:
                pred, pk = self._term()
                if pk != "iri":
                    raise ValueError(f"turtle: predicate must be an IRI: {pred!r}")
            while True:
                self._object(subj, pred)
                if self._peek()[1] == ",":
                    self._next(); continue
                break
            if self._peek()[1] == ";":
                self._next()
                if self._peek()[1] in (".", "}", "]", ";"):  # trailing ;
                    while self._peek()[1] == ";":
                        self._next()
                    return
                continue
            return

    def _object(self, subj: str, pred: str):
        kind, tok = self._peek()
        if tok == "[":
            node = self._bnode_property_list()
            self.out.append((subj, pred, node, "bnode", "", "", self.graph))
            return
        if tok == "(":
            node = self._collection()
            o_kind = "iri" if node == RDF + "nil" else "bnode"
            self.out.append((subj, pred, node, o_kind, "", "", self.graph))
            return
        lex, okind, dtype, lang = self._object_term()
        self.out.append((subj, pred, lex, okind, dtype, lang, self.graph))

    def _bnode_property_list(self) -> str:
        self._expect("[")
        node = self._fresh_bnode()
        if self._peek()[1] != "]":
            self._predicate_object_list(node)
        self._expect("]")
        return node

    def _collection(self) -> str:
        self._expect("(")
        items: list[tuple[str, str, str, str]] = []
        while self._peek()[1] != ")":
            kind, tok = self._peek()
            if tok == "[":
                items.append((self._bnode_property_list(), "bnode", "", ""))
            elif tok == "(":
                nested = self._collection()
                items.append((nested, "iri" if nested == RDF + "nil" else "bnode", "", ""))
            else:
                items.append(self._object_term())
        self._expect(")")
        if not items:
            return RDF + "nil"
        nodes = [self._fresh_bnode() for _ in items]
        for k, (item, node) in enumerate(zip(items, nodes)):
            self.out.append((node, RDF + "first", item[0], item[1], item[2],
                             item[3], self.graph))
            nxt = nodes[k + 1] if k + 1 < len(nodes) else RDF + "nil"
            nkind = "bnode" if k + 1 < len(nodes) else "iri"
            self.out.append((node, RDF + "rest", nxt, nkind, "", "", self.graph))
        return nodes[0]

    def _object_term(self) -> tuple[str, str, str, str]:
        """(lex, kind, dtype, lang) for a non-composite object."""
        kind, tok = self._next()
        if kind in ("str", "long_str"):
            body = tok[3:-3] if kind == "long_str" else tok[1:-1]
            lex = _unescape(body)
            nk, nt = self._peek()
            if nk == "lang":
                self._next()
                return lex, "literal", "", nt[1:]
            if nt == "^^":
                self._next()
                dk, dt = self._next()
                dtype = self._iri(dt) if dk == "iri" else self._pname(dt)
                return lex, "literal", dtype, ""
            return lex, "literal", "", ""
        if kind == "num":
            if re.search(r"[eE]", tok):
                return tok, "literal", XSD + "double", ""
            if "." in tok:
                return tok, "literal", XSD + "decimal", ""
            return tok, "literal", XSD + "integer", ""
        if kind == "word" and tok in ("true", "false"):
            return tok, "literal", XSD + "boolean", ""
        if kind == "iri":
            return self._iri(tok), "iri", "", ""
        if kind == "bnode":
            return tok, "bnode", "", ""
        if kind == "pname":
            return self._pname(tok), "iri", "", ""
        raise ValueError(f"turtle: unexpected object token {tok!r}")

    def _term(self) -> tuple[str, str]:
        """subject/predicate/graph-position term → (value, kind)."""
        kind, tok = self._next()
        if kind == "iri":
            return self._iri(tok), "iri"
        if kind == "pname":
            return self._pname(tok), "iri"
        if kind == "bnode":
            return tok, "bnode"
        raise ValueError(f"turtle: unexpected term {tok!r}")


def parse_turtle(text: str, base: str = "") -> list[Triple7]:
    """Turtle/TriG text → list of 7-tuples (triples-DF row shape)."""
    return TurtleParser(text, base).parse()


def read_turtle(spark, path: str, base: str = ""):
    """Parse a (fixture-scale) .ttl/.trig file driver-side into the standard
    triples DataFrame. Large corpora should use NT/NQ (line-parallel scan)."""
    from pathlib import Path

    from ..functions.terms import TRIPLE_DDL
    from .local import local_frame
    p = Path(path[len("file://"):] if path.startswith("file://") else path)
    rows = parse_turtle(p.read_text(encoding="utf-8"), base)
    return local_frame(spark, rows, TRIPLE_DDL)
