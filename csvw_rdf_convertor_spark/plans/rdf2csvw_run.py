"""rdf2csvw conversion driver: descriptor + triples DataFrame → CSV tables.

This is the DataFrame analogue of the reference's ``Rdf2CsvwConvertor.convert``
(rdf2csvw/convertor.ts:78-216): normalize the descriptor, compile one table
query per (non-suppressed, column-bearing) table, execute it as Catalyst
joins, and emit rows keyed by column TITLE — exactly the shape the
reference's conformance harness compares (test/rdf2csvw.test.ts:109-162
parses the expected CSVs with ``columns: true`` so rows are keyed by the
header titles).

The window machinery of the reference (WindowStore + per-window re-query) is
an artifact of its streaming single-node design; full-relation joins over the
distributed triples DataFrame subsume it (SURVEY.md §2.4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..descriptor_norm import normalize_descriptor
from ..functions.terms import TRIPLE_DDL
from ..sources.local import local_frame
from ..spec import parse_descriptor
from .rdf2csvw import compile_table_query, match_table_query


def triples_df(spark: SparkSession, triples: list[tuple]) -> DataFrame:
    """Build the canonical 7-column triples DataFrame from parsed tuples."""
    return local_frame(spark, triples, TRIPLE_DDL)


def table_output_name(url: str) -> str:
    """Output table name = table url with any ?query/#fragment trimmed
    (convertor.ts:183)."""
    return re.sub(r"[?#].*$", "", url or "")


def convert(spark: SparkSession, descriptor: dict, triples: DataFrame,
            loader=None, base: str = "") -> dict[str, DataFrame]:
    """Convert a triples DataFrame to CSVW tables per a provided descriptor.

    Returns ``{table_name: DataFrame}`` where each DataFrame's columns are the
    table's non-virtual column TITLES, in descriptor order, with unbound
    OPTIONAL cells substituted by the column's null value (or '' — the
    reference's transform at bindings-to-row-transformation.ts:33-41).

    Tables without columns and tables with ``suppressOutput: true`` are
    skipped (convertor.ts:121-134).
    """
    norm = normalize_descriptor(descriptor, base=base, loader=loader)
    group = parse_descriptor(norm, base=base)
    return convert_parsed(triples, group)


def convert_parsed(triples: DataFrame, group) -> dict[str, DataFrame]:
    """:func:`convert` for a descriptor that is ALREADY normalized+parsed —
    callers that also need the normalized document or the parsed group
    (the CLI writes both) run the pipeline once and pass the group here
    instead of paying (and trusting) a second normalize/parse pass.

    The graph is a set: a repeated triple is deduplicated once here, so no
    pattern frame binds it twice."""
    triples = triples.distinct()
    out: dict[str, DataFrame] = {}
    for table in group.tables:
        if not table.columns or table.suppressOutput:
            continue
        cols, roots = compile_table_query(table)
        # title aliasing + full null substitution happen inside the single
        # final projection of match_table_query (case-only name collisions
        # like dateTime/datetime would be ambiguous in a second select)
        out[table_output_name(table.url)] = match_table_query(
            triples, cols, roots, use_titles=True, substitute_nulls=True)
    return out
