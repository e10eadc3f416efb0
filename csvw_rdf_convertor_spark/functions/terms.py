"""RDF term model as Spark columns + deterministic skolemization.

Triples-DataFrame schema (the engine's universal exchange format):

    subj:      string   — IRI or skolem id (``_:…``)
    pred:      string   — IRI
    obj_lex:   string   — IRI / skolem id / literal lexical form
    obj_kind:  string   — 'iri' | 'bnode' | 'literal'
    obj_dtype: string   — datatype IRI (literals only, '' for plain xsd:string)
    obj_lang:  string   — language tag or ''
    graph:     string   — '' = default graph

The reference mints process-local fresh blank nodes (csvw2rdf/convertor.ts:
619,683,837). Under distribution that is neither collision-free nor
retry-stable, so blank nodes are *skolemized deterministic functions* of
(table, row, role): ``sha2`` of the identifying tuple. Equal outputs up to
RDF isomorphism, reproducible across retries/resume (SURVEY.md §7.3.1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..spec import XSD

TRIPLE_COLS = ("subj", "pred", "obj_lex", "obj_kind", "obj_dtype", "obj_lang", "graph")
#: DDL of the triples DataFrame (every column a string)
TRIPLE_DDL = ", ".join(f"{c} string" for c in TRIPLE_COLS)

SEP = ""  # unambiguous joiner for skolem key parts


def skolem(*parts: Column | str) -> Column:
    """Deterministic blank-node id: ``_:sk`` + sha2-256/32hex of the parts."""
    cols = [F.lit(p) if isinstance(p, str) else p.cast("string") for p in parts]
    return F.concat(F.lit("_:sk"), F.substring(F.sha2(F.concat_ws(SEP, *cols), 256), 1, 32))


def skolem_value(*parts: str) -> str:
    """Driver-side twin of :func:`skolem` (same bytes, same id) — for
    constant nodes like the per-table node in scaffolding/external props."""
    import hashlib
    h = hashlib.sha256(SEP.join(parts).encode("utf-8")).hexdigest()[:32]
    return "_:sk" + h


def triple(subj: Column, pred: Column, obj_lex: Column, obj_kind: Column,
           obj_dtype: Column | None = None, obj_lang: Column | None = None,
           graph: Column | None = None) -> Column:
    """Struct column in TRIPLE_COLS shape (for array-of-struct fan-out)."""
    return F.struct(
        subj.alias("subj"),
        pred.alias("pred"),
        obj_lex.alias("obj_lex"),
        obj_kind.alias("obj_kind"),
        (obj_dtype if obj_dtype is not None else F.lit("")).alias("obj_dtype"),
        (obj_lang if obj_lang is not None else F.lit("")).alias("obj_lang"),
        (graph if graph is not None else F.lit("")).alias("graph"),
    )


def iri_object(iri: Column) -> tuple[Column, Column, Column, Column]:
    return iri, F.lit("iri"), F.lit(""), F.lit("")


def literal_object(lex: Column, dtype: str | Column = "", lang: str | Column = ""
                   ) -> tuple[Column, Column, Column, Column]:
    d = F.lit(dtype) if isinstance(dtype, str) else dtype
    lg = F.lit(lang) if isinstance(lang, str) else lang
    # xsd:string with a language tag is emitted as a plain langString
    d = F.when(lg != "", F.lit("")).otherwise(d)
    d = F.when(d == XSD + "string", F.lit("")).otherwise(d)
    return lex, F.lit("literal"), d, lg
