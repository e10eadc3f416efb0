"""rdf2csvw inverse direction: schema-inference aggregates A1–A5, datatype
lattice merge, BGP-join row reconstruction J1–J3, inverse URI templates.

End-to-end: the tree-ops triples produced by the forward engine are fed back
through pattern matching to reconstruct the original rows (the reference's
fixture 011 shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from csvw_rdf_convertor_spark.functions.uritemplate import inverse_template_regex
from csvw_rdf_convertor_spark.plans import rdf2csvw
from csvw_rdf_convertor_spark.plans.csvw2rdf import table_to_triples
from csvw_rdf_convertor_spark.spec import RDF, XSD, parse_descriptor, with_order

SCHEMA = ("subj string, pred string, obj_lex string, obj_kind string, "
          "obj_dtype string, obj_lang string, graph string")


def _triples(spark, rows):
    return spark.createDataFrame(
        [r + ("",) * (7 - len(r)) for r in rows], SCHEMA)


def test_subjects_by_type_and_unknown(spark):
    t = _triples(spark, [
        ("s1", RDF + "type", "T1", "iri", "", ""),
        ("s2", RDF + "type", "T1", "iri", "", ""),
        ("s3", RDF + "type", "T2", "iri", "", ""),
        ("s4", "p", "v", "literal", "", ""),
    ])
    got = {(r.subj, r.type_iri) for r in rdf2csvw.subjects_by_type(t).collect()}
    assert got == {("s1", "T1"), ("s2", "T1"), ("s3", "T2"), ("s4", "unknown_type")}


def test_datatype_lattice_merge():
    assert rdf2csvw.merge_datatypes([XSD + "int", XSD + "short"]) == XSD + "int"
    assert rdf2csvw.merge_datatypes([XSD + "int", XSD + "integer"]) == XSD + "integer"
    assert rdf2csvw.merge_datatypes(
        [XSD + "integer", XSD + "double"]) == XSD + "anyAtomicType"
    assert rdf2csvw.merge_datatypes([XSD + "string"]) == XSD + "string"
    assert rdf2csvw.merge_datatypes([]) == XSD + "string"


def test_merged_column_datatypes_df(spark):
    t = _triples(spark, [
        ("s1", "p1", "1", "literal", XSD + "int", ""),
        ("s2", "p1", "2", "literal", XSD + "short", ""),
        ("s3", "p2", "x", "literal", "", ""),
    ])
    got = {r.pred: r.merged_dtype
           for r in rdf2csvw.merged_column_datatypes(t).collect()}
    assert got == {"p1": XSD + "int", "p2": XSD + "string"}


def test_common_uri_template_lcp(spark):
    t = _triples(spark, [
        ("s1", "p", "http://ex.org/item/A", "iri", "", ""),
        ("s2", "p", "http://ex.org/item/B", "iri", "", ""),
    ])
    row = rdf2csvw.common_uri_template(t).collect()[0]
    lo, hi = row.lo, row.hi
    # LCP(min,max) == LCP(set)
    import os
    lcp = os.path.commonprefix([lo, hi])
    assert lcp == "http://ex.org/item/"


def test_labels_priority(spark):
    skos = "http://www.w3.org/2004/02/skos/core#prefLabel"
    rdfs = "http://www.w3.org/2000/01/rdf-schema#label"
    t = _triples(spark, [
        ("s1", rdfs, "fallback", "literal", "", ""),
        ("s1", skos, "preferred", "literal", "", ""),
        ("s2", rdfs, "only", "literal", "", ""),
    ])
    got = {r.subj: r.label for r in rdf2csvw.labels(t).collect()}
    assert got == {"s1": "preferred", "s2": "only"}


def test_inverse_template_regex():
    import re
    rx = inverse_template_regex("http://ex.org/#gid-{GID}")
    m = re.match(rx, "http://ex.org/#gid-42")
    assert m and m.group("GID") == "42"
    rx2 = inverse_template_regex("{+base}/item/{id}")
    m2 = re.match(rx2, "http://x.y/item/7")
    assert m2 and m2.group("base") == "http://x.y" and m2.group("id") == "7"


TREE_OPS = {
    "url": "tree-ops.csv",
    "tableSchema": {
        "aboutUrl": "#gid-{GID}",
        "columns": [
            {"name": "GID", "required": True},
            {"name": "on_street"},
            {"name": "species"},
        ],
    },
}
ROWS = [("1", "ADDISON AV", "Celtis australis"),
        ("2", "EMERSON ST", "Liquidambar styraciflua")]


def test_roundtrip_rows_via_bgp_join(spark):
    """Forward triples → BGP patterns → reconstructed rows (J1–J3)."""
    df = spark.createDataFrame(ROWS, "GID string, on_street string, species string")
    table = with_order(parse_descriptor(TREE_OPS).tables[0], "GID")
    triples = table_to_triples(df, table)

    u = "tree-ops.csv#"
    pats = [rdf2csvw.TriplePattern("GID", u + "GID", required=True),
            rdf2csvw.TriplePattern("on_street", u + "on_street"),
            rdf2csvw.TriplePattern("species", u + "species")]
    rec = rdf2csvw.match_patterns(triples, pats)
    got = sorted((r.GID, r.on_street, r.species) for r in rec.collect())
    assert got == sorted(ROWS)


def test_optional_left_join_null(spark):
    t = _triples(spark, [
        ("s1", "p1", "a", "literal", "", ""),
        ("s1", "p2", "b", "literal", "", ""),
        ("s2", "p1", "c", "literal", "", ""),
    ])
    pats = [rdf2csvw.TriplePattern("v1", "p1", required=True),
            rdf2csvw.TriplePattern("v2", "p2", required=False)]
    got = {(r.subj, r.v1, r.v2) for r in rdf2csvw.match_patterns(t, pats).collect()}
    assert got == {("s1", "a", "b"), ("s2", "c", None)}


def test_ordered_separator_list_roundtrip(spark):
    """An ordered separator column whose forward mapping produced an
    rdf:List round-trips: the inverse query linearizes the chain back to
    the original cell in LIST order (beyond the reference — its rdf2csvw
    leaves 'TODO: rdf lists' at convertor.ts:142)."""
    from csvw_rdf_convertor_spark.plans.csvw2rdf import table_to_triples
    from csvw_rdf_convertor_spark.plans.rdf2csvw import (compile_table_query,
                                                         match_table_query)
    from csvw_rdf_convertor_spark.spec import parse_descriptor, with_order

    desc = {
        "url": "urn:t",
        "tableSchema": {
            "aboutUrl": "urn:t#r-{k}",
            "columns": [
                {"name": "k", "suppressOutput": True},
                {"name": "tags", "separator": ";", "ordered": True,
                 "propertyUrl": "urn:t#tags"},
            ],
        },
    }
    rows = [("1", "c;a;b"), ("2", "z"), ("3", "m;n;o;p;q;r;s;t")]
    df = (spark.createDataFrame(rows, "k string, tags string")
          .withColumn("ord", F.col("k")))
    fwd_table = with_order(parse_descriptor(desc).tables[0], "ord")
    triples = table_to_triples(df, fwd_table)

    inv_desc = {
        "url": "urn:t",
        "tableSchema": {
            "aboutUrl": "urn:t#r-{k}",
            "columns": [{"name": "tags", "separator": ";", "ordered": True,
                         "propertyUrl": "urn:t#tags"}],
        },
    }
    cols, roots = compile_table_query(parse_descriptor(inv_desc).tables[0])
    out = match_table_query(triples, cols, roots)
    got = sorted(r.tags for r in out.collect())
    # order preserved (c;a;b NOT sorted), singletons and long lists intact
    assert got == sorted(["c;a;b", "z", "m;n;o;p;q;r;s;t"])
