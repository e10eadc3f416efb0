"""Spark against DuckDB on the sf0.001 tables: each query below runs
through ``__spark_entry__.queries()`` and is compared with its
``oracle_sql()`` twin by ``tools/check_oracle.compare`` (same columns, same
rows, order-insensitive, floats to 9 significant digits).

The set covers the converter (csvw2rdf mappings, cell parsing, URI
templates, the writers' round trips, rdf2csvw inference and
reconstruction), the kg pipeline's queries, and the MinHash, winnowing and
chunking operators whose column helpers are shared with the kg linker or
staged by ``ops/staging.py``."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

from test_plan_shape import SF

duckdb = pytest.importorskip("duckdb")

ORACLE_QUERIES = (
    "csvw2rdf_minimal_nation", "csvw2rdf_normalized_descriptor",
    "csvw2rdf_datetime_orders", "csvw2rdf_standard_region",
    "csvw2rdf_list_split", "csvw2rdf_rdf_list", "csvw2rdf_header_nation",
    "rdf_list_linearize", "cell_bool_null_default", "uri_template_encoding",
    "trig_roundtrip", "jsonld_write_roundtrip", "rdfxml_write_roundtrip",
    "kg_turn_triples", "kg_mention_stats", "cc_components",
    "a1_type_grouping", "a2_multivalue", "a3_collect_set_merge",
    "a4_minmax_lcp", "a5_labels", "a7_prefix_extract",
    "rdf2csvw_chain", "rdf2csvw_roundtrip", "rdf2csvw_format_roundtrip",
    "p5_numeric_battery", "issues_required",
    "dedup_minhash_pairs", "dedup_minhash_clusters", "dedup_ngram_jaccard",
    "winnow_fingerprints", "winnow_near_dup", "text_cdc_chunks",
)

REPO = Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.skipif(not os.path.isdir(SF),
                                reason="sf0.001 test tables absent")


@pytest.fixture(scope="module")
def oracle():
    """(queries, oracle SQL, DuckDB connection over the sf tables,
    ``compare``)."""
    sys.path.insert(0, str(REPO / "tools"))
    try:
        from check_oracle import TABLES, compare
    finally:
        sys.path.pop(0)
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{SF}/{t}.parquet'")
    yield entry.queries(), entry.oracle_sql(), con, compare
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_duckdb_oracle(spark, oracle, name):
    queries, sqls, con, compare = oracle
    assert name in sqls, f"{name} has no oracle SQL"
    problems = compare(queries[name](spark, SF), con.execute(sqls[name]).df())
    assert not problems, "\n".join(problems)
