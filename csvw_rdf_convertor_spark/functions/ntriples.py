"""N-Triples / N-Quads serialization & parsing as pure column expressions.

The reference serializes via n3's StreamWriter (packages/core/src/lib/
loaders/serialize.ts:39-96) and parses via streaming n3 parsers
(loaders/parse.ts:23-41). N-Triples/N-Quads are line-delimited →
embarrassingly parallel: serialization is a ``concat`` projection written
with ``df.write.text`` (fully distributed, whole-stage codegen), parsing is a
``regexp_extract`` projection over ``spark.read.text``. No Python in either
hot path.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spec import XSD
from .terms import TRIPLE_COLS


def escape_literal(col: Column) -> Column:
    """N-Triples string escaping (backslash first, then quotes/controls)."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    out = F.replace(out, F.lit("\t"), F.lit("\\t"))
    return out


def unescape_literal(col: Column) -> Column:
    out = F.replace(col, F.lit("\\t"), F.lit("\t"))
    out = F.replace(out, F.lit("\\r"), F.lit("\r"))
    out = F.replace(out, F.lit("\\n"), F.lit("\n"))
    out = F.replace(out, F.lit('\\"'), F.lit('"'))
    out = F.replace(out, F.lit("\\\\"), F.lit("\\"))
    return out


def render_subject(subj: Column) -> Column:
    return F.when(subj.startswith("_:"), subj).otherwise(F.concat(F.lit("<"), subj, F.lit(">")))


def render_object(lex: Column, kind: Column, dtype: Column, lang: Column) -> Column:
    lit_body = F.concat(F.lit('"'), escape_literal(lex), F.lit('"'))
    lit_full = (
        F.when(lang != "", F.concat(lit_body, F.lit("@"), lang))
        .when((dtype != "") & (dtype != XSD + "string"),
              F.concat(lit_body, F.lit("^^<"), dtype, F.lit(">")))
        .otherwise(lit_body)
    )
    return (
        F.when(kind == "iri", F.concat(F.lit("<"), lex, F.lit(">")))
        .when(kind == "bnode", lex)
        .otherwise(lit_full)
    )


def to_ntriples_lines(triples: DataFrame, keep: list[str] = ()) -> DataFrame:
    """triples DF → DF of N-Triples (or N-Quads) lines (+ ``keep`` columns
    carried through, e.g. a partition bucket for a partitioned text sink)."""
    return triples.select(*keep, _line_column())


@functools.cache
def _line_column() -> Column:
    """``to_ntriples_lines``' Column, built once per process: it depends on
    no spec."""
    s = render_subject(F.col("subj"))
    p = F.concat(F.lit("<"), F.col("pred"), F.lit(">"))
    o = render_object(F.col("obj_lex"), F.col("obj_kind"), F.col("obj_dtype"), F.col("obj_lang"))
    g = F.when(F.col("graph") != "", F.concat(F.lit(" <"), F.col("graph"), F.lit(">"))).otherwise(F.lit(""))
    return F.concat(F.concat_ws(" ", s, p, o), g, F.lit(" .")).alias("line")


def write_ntriples(triples: DataFrame, path: str) -> None:
    to_ntriples_lines(triples).write.mode("overwrite").text(path)


_NT_RE = (
    r"^\s*(<[^>]*>|_:\S+)\s+"            # subject
    r"<([^>]*)>\s+"                        # predicate
    r"(<[^>]*>|_:\S+|\"(?:[^\"\\]|\\.)*\"(?:\^\^<[^>]*>|@[\w-]+)?)\s*"  # object
    r"(?:<([^>]*)>\s*)?\.\s*$"             # optional graph
)


def parse_ntriples(spark: SparkSession, path_or_df: str | DataFrame) -> DataFrame:
    """Line-wise distributed N-Triples/N-Quads parse → triples DF.

    (reference: loaders/parse.ts:23-41 — but parallel per line instead of a
    single streaming parser.)
    """
    df = spark.read.text(path_or_df) if isinstance(path_or_df, str) else path_or_df
    raw = df.select(
        F.regexp_extract("value", _NT_RE, 1).alias("s_raw"),
        F.regexp_extract("value", _NT_RE, 2).alias("pred"),
        F.regexp_extract("value", _NT_RE, 3).alias("o_raw"),
        F.regexp_extract("value", _NT_RE, 4).alias("graph"),
    ).where(F.col("pred") != "")
    subj = F.when(F.col("s_raw").startswith("<"),
                  F.expr("substring(s_raw, 2, length(s_raw) - 2)")).otherwise(F.col("s_raw"))
    o = F.col("o_raw")
    is_iri = o.startswith("<")
    is_bnode = o.startswith("_:")
    lex_lit = unescape_literal(F.regexp_extract(o, r'^"((?:[^"\\]|\\.)*)"', 1))
    dtype = F.regexp_extract(o, r'\^\^<([^>]*)>$', 1)
    lang = F.regexp_extract(o, r'@([\w-]+)$', 1)
    return raw.select(
        subj.alias("subj"),
        F.col("pred"),
        F.when(is_iri, F.expr("substring(o_raw, 2, length(o_raw) - 2)"))
         .when(is_bnode, o).otherwise(lex_lit).alias("obj_lex"),
        F.when(is_iri, F.lit("iri")).when(is_bnode, F.lit("bnode"))
         .otherwise(F.lit("literal")).alias("obj_kind"),
        F.when(is_iri | is_bnode, F.lit("")).otherwise(dtype).alias("obj_dtype"),
        F.when(is_iri | is_bnode, F.lit("")).otherwise(lang).alias("obj_lang"),
        F.col("graph"),
    ).select(*TRIPLE_COLS)
