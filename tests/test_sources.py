"""S1 dialect-aware CSV scan + S4/S5 N-Triples parse/serialize round-trip."""

from __future__ import annotations

import contextlib
import io
import json
import re

import pytest
from pyspark.sql import functions as F

from csvw_rdf_convertor_spark.functions import ntriples
from csvw_rdf_convertor_spark.sources.csv_source import read_csv
from csvw_rdf_convertor_spark.spec import parse_descriptor

CSV_BODY = """# a comment line
meta,row,to,skip
GID;Name;Species
x;ignored-col-header;ignored
1;ADDISON AV;Celtis australis
2;EMERSON ST;Liquidambar styraciflua

3;BRYANT ST;Liquidambar styraciflua
"""

DESCRIPTOR = {
    "url": "trees.csv",
    "dialect": {
        "delimiter": ";",
        "commentPrefix": "#",
        "skipRows": 1,       # drop the 'meta,row,to,skip' line
        "headerRowCount": 2,  # the GID;Name;Species line + the x;... line
        "skipBlankRows": True,
    },
    "tableSchema": {
        "columns": [
            {"name": "GID"},
            {"name": "on_street"},
            {"name": "species"},
        ],
    },
}


def test_dialect_csv_scan(spark, tmp_path):
    p = tmp_path / "trees.csv"
    p.write_text(CSV_BODY)
    table = parse_descriptor(DESCRIPTOR).tables[0]
    df = read_csv(spark, str(p), table)
    rows = sorted((r.GID, r.on_street, r.species) for r in df.collect())
    assert rows == [
        ("1", "ADDISON AV", "Celtis australis"),
        ("2", "EMERSON ST", "Liquidambar styraciflua"),
        ("3", "BRYANT ST", "Liquidambar styraciflua"),
    ]
    assert table.source_row_offset == 3  # headerRowCount 2 + skipRows 1


def test_skip_columns(spark, tmp_path):
    p = tmp_path / "sk.csv"
    p.write_text("drop,a,b\nX,1,2\nY,3,4\n")
    desc = {
        "url": "sk.csv",
        "dialect": {"skipColumns": 1, "header": True},
        "tableSchema": {"columns": [{"name": "a"}, {"name": "b"}]},
    }
    df = read_csv(spark, str(p), parse_descriptor(desc).tables[0])
    assert sorted((r.a, r.b) for r in df.collect()) == [("1", "2"), ("3", "4")]


TRIPLES = [
    ("http://ex.org/s1", "http://ex.org/p", "plain lit", "literal", "", "", ""),
    ("http://ex.org/s1", "http://ex.org/p2", 'esc "q" \\ and\nnewline\ttab',
     "literal", "", "", ""),
    ("http://ex.org/s2", "http://ex.org/p", "typed",
     "literal", "http://www.w3.org/2001/XMLSchema#token", "", ""),
    ("http://ex.org/s2", "http://ex.org/p3", "bonjour", "literal", "", "fr", ""),
    ("_:skb1", "http://ex.org/p4", "http://ex.org/o", "iri", "", "", ""),
    ("http://ex.org/s3", "http://ex.org/p5", "_:skb1", "bnode", "", "", ""),
    ("http://ex.org/s4", "http://ex.org/p", "graphy", "literal", "", "",
     "http://ex.org/g1"),
]
SCHEMA = ("subj string, pred string, obj_lex string, obj_kind string, "
          "obj_dtype string, obj_lang string, graph string")


def test_ntriples_roundtrip(spark):
    df = spark.createDataFrame(TRIPLES, SCHEMA)
    lines = ntriples.to_ntriples_lines(df)
    back = ntriples.parse_ntriples(spark, lines.withColumnRenamed("line", "value"))
    orig = {tuple(r) for r in df.collect()}
    rt = {tuple(r) for r in back.collect()}
    assert rt == orig


def test_ntriples_line_shapes(spark):
    df = spark.createDataFrame(TRIPLES, SCHEMA)
    lines = {r.line for r in ntriples.to_ntriples_lines(df).collect()}
    assert '<http://ex.org/s1> <http://ex.org/p> "plain lit" .' in lines
    assert ('<http://ex.org/s2> <http://ex.org/p> '
            '"typed"^^<http://www.w3.org/2001/XMLSchema#token> .') in lines
    assert '<http://ex.org/s2> <http://ex.org/p3> "bonjour"@fr .' in lines
    assert '_:skb1 <http://ex.org/p4> <http://ex.org/o> .' in lines
    assert '<http://ex.org/s3> <http://ex.org/p5> _:skb1 .' in lines
    assert ('<http://ex.org/s4> <http://ex.org/p> "graphy" <http://ex.org/g1> .'
            in lines)
    # escaping
    assert any('\\"q\\"' in ln and "\\n" in ln and "\\t" in ln and "\\\\" in ln
               for ln in lines)


def test_ntriples_write_read_files(spark, tmp_path):
    df = spark.createDataFrame(TRIPLES, SCHEMA)
    out = str(tmp_path / "nt")
    ntriples.write_ntriples(df, out)
    back = ntriples.parse_ntriples(spark, out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_multi_file_csv_with_skip_rows_raises(spark, tmp_path):
    """skipRows/header prefix skipping is a single-file concept: one
    partition can pack several small files, so the narrow prefix skip must
    refuse multi-file inputs (scale guard)."""
    import pytest as _pytest

    from csvw_rdf_convertor_spark.spec import parse_descriptor
    d = tmp_path / "many"
    d.mkdir()
    (d / "a.csv").write_text("h1,h2\n1,2\n")
    (d / "b.csv").write_text("h1,h2\n3,4\n")
    table = parse_descriptor({
        "url": str(d), "tableSchema": {"columns": [{"name": "h1"}, {"name": "h2"}]},
    }).tables[0]
    from csvw_rdf_convertor_spark.sources.csv_source import read_csv
    with _pytest.raises(ValueError, match="single input file"):
        read_csv(spark, str(d), table).collect()


#: a ``spark.sql.files.maxPartitionBytes`` that cuts the files below, about
#: 12 kB each, into several splits (Spark's own default cuts from 4 MB)
SMALL_SPLIT_BYTES = "2048"

#: (file prefix, comment line inserted before every n-th data row, dialect):
#: a plain header row, and comment lines (also in later splits) around two
#: skipped rows and the header, which the comment filter drops first
SPLIT_SHAPES = {
    "header": ("", 0, {}),
    "comments_skip_rows": ("# top\njunk,1\njunk,2\n", 50,
                           {"commentPrefix": "#", "skipRows": 2}),
}

#: data rows whose ``name`` cell is empty: a required-cell error each
EMPTY_NAME_EVERY = 97


@pytest.fixture
def small_splits(spark):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, SMALL_SPLIT_BYTES)
    yield
    spark.conf.set(key, old)


def _split_table(tmp_path, shape: str, n: int = 1000) -> dict:
    """Write ``rows.csv`` (data row i holds id i) and its ``meta.json``;
    → the descriptor."""
    prefix, comment_every, dialect = SPLIT_SHAPES[shape]
    lines = [prefix + "id,name"]
    for i in range(n):
        if comment_every and i % comment_every == 0:
            lines.append(f"# comment before {i}")
        lines.append(f"{i}," + ("" if i % EMPTY_NAME_EVERY == 0 else f"n{i}"))
    (tmp_path / "rows.csv").write_text("\n".join(lines) + "\n")
    desc = {"@context": "http://www.w3.org/ns/csvw", "url": "rows.csv",
            "dialect": dialect,
            "tableSchema": {"aboutUrl": "http://ex.org/r/{id}",
                            "columns": [{"name": "id", "titles": "id"},
                                        {"name": "name", "titles": "name",
                                         "required": True}]}}
    (tmp_path / "meta.json").write_text(json.dumps(desc))
    return desc


@pytest.mark.parametrize("shape", sorted(SPLIT_SHAPES))
def test_headered_file_scans_in_several_splits(spark, tmp_path, small_splits,
                                               shape):
    """The prefix skip is narrow: a headered file of several splits scans
    in several partitions, with every data row and no prefix row."""
    desc = _split_table(tmp_path, shape)
    df = read_csv(spark, str(tmp_path / "rows.csv"),
                  parse_descriptor(desc, f"{tmp_path}/").tables[0])
    assert df.rdd.getNumPartitions() > 1
    assert [r.id for r in df.collect()] == [str(i) for i in range(1000)]


@pytest.mark.parametrize("shape", sorted(SPLIT_SHAPES))
def test_multi_split_row_numbers_follow_file_order(spark, tmp_path,
                                                   small_splits, shape):
    """Standard-mode ``csvw:rownum`` is 1..N in file order, and ``validate``
    locates each required-cell error at that number, whatever the split
    count: one partition numbered them so before the skip went narrow, and
    ``monotonically_increasing_id() + 1`` alone mints 2^33 + 1 in the
    second split."""
    from csvw_rdf_convertor_spark import cli
    from csvw_rdf_convertor_spark.sources.parse import read_rdf
    csvw = "http://www.w3.org/ns/csvw#"
    _split_table(tmp_path, shape)
    out = tmp_path / "out.nt"
    assert cli.main(["csvw2rdf", "-i", str(tmp_path / "meta.json"),
                     "-o", str(out), "--format", "ntriples"]) == 0
    by_node: dict = {}
    for s, p, o, *_ in read_rdf(spark, str(out)).collect():
        if p in (csvw + "rownum", csvw + "describes"):
            by_node.setdefault(s, {})[p] = o
    ids = {int(d[csvw + "rownum"]): d[csvw + "describes"]
           for d in by_node.values()}
    assert ids == {i + 1: f"http://ex.org/r/{i}" for i in range(1000)}

    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        assert cli.main(["validate", "-i", str(tmp_path / "meta.json")]) == 1
    rows = [int(m) for m in re.findall(r"row (\d+): name: required",
                                       err.getvalue())]
    assert sorted(rows) == [i + 1 for i in range(0, 1000, EMPTY_NAME_EVERY)]


def test_cli_numbers_rows_by_order_by(spark, tmp_path):
    """A table with an ``order_by`` column numbers its rows by that column,
    not by file order, in standard-mode ``csvw:rownum`` and in ``validate``
    row locations alike."""
    from csvw_rdf_convertor_spark import cli
    from csvw_rdf_convertor_spark.sources.parse import read_rdf
    csvw = "http://www.w3.org/ns/csvw#"
    (tmp_path / "rows.csv").write_text("id,name\nc,nc\na,\nb,nb\n")
    (tmp_path / "meta.json").write_text(json.dumps({
        "@context": "http://www.w3.org/ns/csvw", "url": "rows.csv",
        "order_by": "id",
        "tableSchema": {"aboutUrl": "http://ex.org/r/{id}",
                        "columns": [{"name": "id", "titles": "id"},
                                    {"name": "name", "titles": "name",
                                     "required": True}]}}))
    out = tmp_path / "out.nt"
    assert cli.main(["csvw2rdf", "-i", str(tmp_path / "meta.json"),
                     "-o", str(out), "--format", "ntriples"]) == 0
    by_node: dict = {}
    for s, p, o, *_ in read_rdf(spark, str(out)).collect():
        if p in (csvw + "rownum", csvw + "describes"):
            by_node.setdefault(s, {})[p] = o
    assert {d[csvw + "describes"]: d[csvw + "rownum"]
            for d in by_node.values()} == {
        "http://ex.org/r/a": "1", "http://ex.org/r/b": "2",
        "http://ex.org/r/c": "3"}

    err = io.StringIO()
    with contextlib.redirect_stderr(err):
        assert cli.main(["validate", "-i", str(tmp_path / "meta.json")]) == 1
    assert re.findall(r"row (\d+): name: required", err.getvalue()) == ["1"]
