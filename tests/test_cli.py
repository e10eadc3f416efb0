"""CLI parity tests — reference: packages/cli commands csvw2rdf|c2r,
rdf2csvw|r2c, validate (cli/src/lib/cli.ts, commands/*/command.ts+handler.ts).

Each test drives ``csvw_rdf_convertor_spark.cli.main`` in-process (the
``spark`` session fixture is active, so ``_session()`` reuses it) and checks
the files it writes with the repo's own parsers.
"""

from __future__ import annotations

import json
import os

import pytest

from csvw_rdf_convertor_spark.cli import (
    COMMON_PREFIXES,
    _pairs,
    infer_format,
    main,
)
from csvw_rdf_convertor_spark.plans.rdf2csvw import table_file_name

FOAF_NAME = "http://xmlns.com/foaf/0.1/name"
EX_ID = "http://ex.org/def#id"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

DESCRIPTOR = {
    "@context": "http://www.w3.org/ns/csvw",
    "url": "people.csv",
    "tableSchema": {
        "aboutUrl": "http://ex.org/p/{id}",
        "columns": [
            {"name": "id", "titles": "id", "datatype": "integer",
             "required": True, "propertyUrl": EX_ID},
            {"name": "name", "titles": "name", "propertyUrl": FOAF_NAME},
        ],
    },
}

CSV = "id,name\n1,Alice\n2,Bob\n"

EXPECTED = {
    ("http://ex.org/p/1", EX_ID, "1", "literal", XSD_INT, "", ""),
    ("http://ex.org/p/1", FOAF_NAME, "Alice", "literal", "", "", ""),
    ("http://ex.org/p/2", EX_ID, "2", "literal", XSD_INT, "", ""),
    ("http://ex.org/p/2", FOAF_NAME, "Bob", "literal", "", "", ""),
}


@pytest.fixture()
def workdir(tmp_path):
    (tmp_path / "people.csv").write_text(CSV, encoding="utf-8")
    (tmp_path / "meta.json").write_text(json.dumps(DESCRIPTOR),
                                        encoding="utf-8")
    return tmp_path


def _graph(spark, path: str) -> set[tuple]:
    from csvw_rdf_convertor_spark.sources.parse import read_rdf
    return {tuple(r) for r in read_rdf(spark, path).collect()}


def test_infer_format():
    # csvw2rdf/command.ts:122-143
    assert infer_format("x.ttl") == "turtle"
    assert infer_format("x.nt") == "ntriples"
    assert infer_format("x.nq") == "nquads"
    assert infer_format("x.trig") == "trig"
    assert infer_format("x.jsonld") == "jsonld"
    assert infer_format("x.json") == "jsonld"
    assert infer_format("x.rdf") == "rdfxml"
    assert infer_format("x.csv") is None
    assert infer_format(None) is None


def test_pairs_coercion():
    assert _pairs(["a", "1", "b", "2"], "x") == [("a", "1"), ("b", "2")]
    assert _pairs(None, "x") == []
    with pytest.raises(SystemExit):
        _pairs(["a", "1", "b"], "x")


def test_table_file_name():
    # rdf2csvw/handler.ts:108 sanitization + .csv suffix for inferred names
    assert table_file_name("people.csv") == "people.csv"
    assert table_file_name("a/b:c") == "a_b_c.csv"


def test_csvw2rdf_ntriples(spark, workdir):
    out = str(workdir / "out.nt")
    rc = main(["csvw2rdf", "-i", str(workdir / "meta.json"),
               "-o", out, "--minimal"])
    assert rc == 0
    assert _graph(spark, out) == EXPECTED


def test_csvw2rdf_streaming_turtle_roundtrip(spark, workdir):
    out = str(workdir / "out.ttl")
    rc = main(["csvw2rdf", "-i", str(workdir / "meta.json"),
               "-o", out, "--minimal"])  # streaming is the default
    assert rc == 0
    text = (workdir / "out.ttl").read_text()
    assert text.startswith("@prefix")
    assert _graph(spark, out) == EXPECTED


def test_csvw2rdf_pretty_turtle_roundtrip(spark, workdir):
    out = str(workdir / "pretty.ttl")
    rc = main(["csvw2rdf", "-i", str(workdir / "meta.json"), "-o", out,
               "--minimal", "--no-turtle.streaming",
               "--turtle.prefix", "foaf:", "http://xmlns.com/foaf/0.1/"])
    assert rc == 0
    assert "foaf:name" in (workdir / "pretty.ttl").read_text()
    assert _graph(spark, out) == EXPECTED


def test_csvw2rdf_from_csv_with_sidecar(spark, workdir):
    # csvUrlToRdf path (handler.ts:40-44): csv-metadata.json discovery
    (workdir / "csv-metadata.json").write_text(json.dumps(DESCRIPTOR),
                                               encoding="utf-8")
    out = str(workdir / "sidecar.nt")
    rc = main(["csvw2rdf", "-i", str(workdir / "people.csv"),
               "-o", out, "--minimal"])
    assert rc == 0
    assert _graph(spark, out) == EXPECTED


def test_csvw2rdf_rdfxml_output(spark, workdir):
    # beyond the reference CLI: real RDF/XML (its N3 writer emits Turtle
    # for .rdf outputs — rdf-serialization.ts:1-8)
    out = str(workdir / "out.rdf")
    rc = main(["csvw2rdf", "-i", str(workdir / "meta.json"),
               "-o", out, "--minimal", "--format", "rdfxml"])
    assert rc == 0
    assert "<rdf:RDF" in (workdir / "out.rdf").read_text()
    assert _graph(spark, out) == EXPECTED


def test_csvw2rdf_prefix_lookup_is_a_seam(workdir):
    with pytest.raises(NotImplementedError):
        main(["csvw2rdf", "-i", str(workdir / "meta.json"),
              "--turtle.prefixLookup", "-o", str(workdir / "x.ttl")])


def test_csvw2rdf_distributed_output(spark, workdir):
    outdir = str(workdir / "dist_nt")
    rc = main(["csvw2rdf", "-i", str(workdir / "meta.json"),
               "--minimal", "--format", "ntriples",
               "--distributed-output", outdir])
    assert rc == 0
    lines = spark.read.text(outdir)
    assert lines.count() == len(EXPECTED)


LINK = "http://ex.org/def#link"

#: ``{+link}`` copies the cell's IRI with its escapes; ``%ab`` is no UTF-8
LINK_DESCRIPTOR = {
    "@context": "http://www.w3.org/ns/csvw",
    "url": "links.csv",
    "tableSchema": {
        "aboutUrl": "http://ex.org/r/{id}",
        "columns": [
            {"name": "id", "titles": "id"},
            {"name": "link", "titles": "link", "propertyUrl": LINK,
             "valueUrl": "{+link}"},
        ],
    },
}

LINK_CSV = "id,link\n1,http://ex.org/%ab\n2,http://ex.org/caf%C3%A9\n"


def test_csvw2rdf_template_iris_passes_malformed_escape_through(spark,
                                                                tmp_path):
    """templateIris (on by default) decodes IRIs; one whose escapes are not
    UTF-8 is emitted unchanged instead of failing the conversion."""
    (tmp_path / "links.csv").write_text(LINK_CSV, encoding="utf-8")
    (tmp_path / "meta.json").write_text(json.dumps(LINK_DESCRIPTOR),
                                        encoding="utf-8")
    out = str(tmp_path / "out.nt")
    assert main(["csvw2rdf", "-i", str(tmp_path / "meta.json"),
                 "-o", out, "--minimal"]) == 0
    assert {r[2] for r in _graph(spark, out) if r[1] == LINK} == {
        "http://ex.org/%ab", "http://ex.org/café"}


def test_rdf2csvw_with_descriptor(spark, workdir):
    nt = "\n".join(
        f'<{s}> <{p}> "{o}"' + (f"^^<{d}>" if d else "") + " ."
        for s, p, o, _k, d, _l, _g in sorted(EXPECTED))
    (workdir / "input.nt").write_text(nt + "\n", encoding="utf-8")
    outdir = workdir / "r2c_out"
    rc = main(["rdf2csvw", "-i", str(workdir / "input.nt"),
               "-o", str(outdir), "-d", str(workdir / "meta.json")])
    assert rc == 0
    got = (outdir / "people.csv").read_text().strip().splitlines()
    assert got[0].split(",") == ["id", "name"]
    assert sorted(got[1:]) == ["1,Alice", "2,Bob"]
    desc = json.loads((outdir / "descriptor.json").read_text())
    assert desc["url"] == "people.csv"


def test_rdf2csvw_inferred_schema(spark, workdir, tmp_path):
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    label = "http://www.w3.org/2000/01/rdf-schema#label"
    nt = "\n".join([
        f'<http://ex.org/p/1> <{rdf_type}> <http://ex.org/T> .',
        f'<http://ex.org/p/1> <{FOAF_NAME}> "Alice" .',
        f'<http://ex.org/p/2> <{rdf_type}> <http://ex.org/T> .',
        f'<http://ex.org/p/2> <{FOAF_NAME}> "Bob" .',
        f'<http://ex.org/T> <{label}> "Person" .',
    ])
    (tmp_path / "typed.nt").write_text(nt + "\n", encoding="utf-8")

    outdir = tmp_path / "inferred"
    rc = main(["rdf2csvw", "-i", str(tmp_path / "typed.nt"),
               "-o", str(outdir)])
    assert rc == 0
    # A5 vocab label names the table (use_vocab_metadata default true)
    assert (outdir / "Person.csv").exists()
    desc = json.loads((outdir / "descriptor.json").read_text())
    urls = {t["url"] for t in desc["tables"]}
    assert "Person.csv" in urls

    outdir2 = tmp_path / "inferred_nolabel"
    rc = main(["rdf2csvw", "-i", str(tmp_path / "typed.nt"),
               "-o", str(outdir2), "--no-useVocabMetadata"])
    assert rc == 0
    assert (outdir2 / "T.csv").exists()  # IRI local name, no label pass


RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


def _rdf2csvw_inferred(tmp_path, lines: list[str]) -> tuple[dict, list]:
    """Run ``rdf2csvw`` without a descriptor over N-Triples ``lines`` →
    ({CSV file: (header, sorted data rows)}, the descriptor's table urls)."""
    import csv

    (tmp_path / "g.nt").write_text("\n".join(lines) + "\n", encoding="utf-8")
    outdir = tmp_path / "out"
    assert main(["rdf2csvw", "-i", str(tmp_path / "g.nt"),
                 "-o", str(outdir)]) == 0
    out = {}
    for f in outdir.glob("*.csv"):
        rows = list(csv.reader(f.read_text(encoding="utf-8").splitlines()))
        out[f.name] = (rows[0], sorted(map(tuple, rows[1:])))
    desc = json.loads((outdir / "descriptor.json").read_text())
    return out, [t["url"] for t in desc["tables"]]


def test_rdf2csvw_inferred_graph_is_a_set(spark, tmp_path):
    """A repeated triple (or rdf:type) is one value: ``name`` stays a column
    instead of turning into a link table, and a link table holds each
    (subject, value) row once."""
    lines = [f"<http://ex.org/p1> <{RDF_TYPE}> <http://ex.org/Person> .",
             f"<http://ex.org/p1> <{RDF_TYPE}> <http://ex.org/Person> .",
             f"<http://ex.org/p1> <{FOAF_NAME}> \"Ann\" .",
             f"<http://ex.org/p1> <{FOAF_NAME}> \"Ann\" .",
             f"<http://ex.org/p2> <{RDF_TYPE}> <http://ex.org/Person> .",
             f"<http://ex.org/p2> <{FOAF_NAME}> \"Bob\" .",
             "<http://ex.org/p2> <http://ex.org/email> \"b@x\" .",
             "<http://ex.org/p2> <http://ex.org/email> \"b@x\" .",
             "<http://ex.org/p2> <http://ex.org/email> \"bob@y\" ."]
    got, urls = _rdf2csvw_inferred(tmp_path, lines)
    assert got["Person.csv"] == (["subj", "name"], [
        ("http://ex.org/p1", "Ann"), ("http://ex.org/p2", "Bob")])
    assert got["Person_email.csv"] == (["Person", "email"], [
        ("http://ex.org/p2", "b@x"), ("http://ex.org/p2", "bob@y")])
    assert sorted(urls) == ["Person.csv", "Person_email.csv"]


def test_rdf2csvw_inferred_type_without_data_keeps_its_table(spark,
                                                             tmp_path):
    """A type whose subjects have no predicate besides rdf:type still gets
    a subj-only table and a descriptor entry."""
    lines = [f"<http://ex.org/a> <{RDF_TYPE}> <http://ex.org/Tag> .",
             f"<http://ex.org/b> <{RDF_TYPE}> <http://ex.org/Person> .",
             f"<http://ex.org/b> <{FOAF_NAME}> \"B\" ."]
    got, urls = _rdf2csvw_inferred(tmp_path, lines)
    assert got["Tag.csv"] == (["subj"], [("http://ex.org/a",)])
    assert got["Person.csv"] == (["subj", "name"], [("http://ex.org/b", "B")])
    assert sorted(urls) == ["Person.csv", "Tag.csv"]


def test_rdf2csvw_with_descriptor_graph_is_a_set(spark, tmp_path):
    """A repeated triple binds once on the descriptor-driven path too."""
    desc = {"@context": "http://www.w3.org/ns/csvw", "url": "people.csv",
            "tableSchema": {"aboutUrl": "http://ex/p/{id}", "columns": [
                {"name": "id", "titles": "id",
                 "propertyUrl": "http://ex/id"},
                {"name": "name", "titles": "name",
                 "propertyUrl": "http://ex/name"}]}}
    (tmp_path / "meta.json").write_text(json.dumps(desc), encoding="utf-8")
    (tmp_path / "g.nt").write_text("\n".join([
        '<http://ex/p/1> <http://ex/id> "1" .',
        '<http://ex/p/1> <http://ex/id> "1" .',
        '<http://ex/p/1> <http://ex/name> "Ann" .']) + "\n",
        encoding="utf-8")
    outdir = tmp_path / "out"
    assert main(["rdf2csvw", "-i", str(tmp_path / "g.nt"), "-o", str(outdir),
                 "-d", str(tmp_path / "meta.json")]) == 0
    got = (outdir / "people.csv").read_text().strip().splitlines()
    assert got == ["id,name", "1,Ann"]


@pytest.mark.parametrize("labeled", [False, True])
def test_rdf2csvw_inferred_names_are_unique_per_file(spark, tmp_path,
                                                     labeled):
    """Two types with one local name (or one label) write two tables, and
    their link tables two files; descriptor.json lists each file once."""
    lines = []
    for ns in ("http://a.org/", "http://b.org/"):
        t = f"{ns}Person" if not labeled else f"{ns}T"
        lines += [f"<{ns}s> <{RDF_TYPE}> <{t}> .",
                  f"<{ns}s> <{FOAF_NAME}> \"{ns}\" .",
                  f"<{ns}s> <http://ex.org/email> \"1\" .",
                  f"<{ns}s> <http://ex.org/email> \"2\" ."]
        if labeled:
            lines.append(f"<{t}> <{RDFS_LABEL}> \"Person\" .")
    got, urls = _rdf2csvw_inferred(tmp_path, lines)
    assert len(urls) == len(set(urls)) and set(urls) == set(got)
    got.pop("unknown_type.csv", None)  # the labels' own subjects
    assert len(got) == 4
    rows = sorted(r for f, (_h, rs) in got.items() if "email" not in f
                  for r in rs)
    assert rows == [("http://a.org/s", "http://a.org/"),
                    ("http://b.org/s", "http://b.org/")]
    assert sum(len(rs) for f, (_h, rs) in got.items() if "email" in f) == 4


def test_validate_clean(workdir, capsys):
    rc = main(["validate", "-i", str(workdir / "meta.json")])
    assert rc == 0
    assert "Validation succeeded" in capsys.readouterr().out


def test_validate_required_cell(spark, workdir, capsys):
    (workdir / "people.csv").write_text("id,name\n,Alice\n2,Bob\n",
                                        encoding="utf-8")
    rc = main(["validate", "-i", str(workdir / "meta.json")])
    err = capsys.readouterr().err
    assert rc == 1
    assert "required" in err
    assert "Validation failed" in err


def test_validate_structural_warning(workdir, capsys):
    bad = dict(DESCRIPTOR)
    bad["dialect"] = {"encoding": "koi8-r"}  # validation/dialect.ts domain
    (workdir / "bad.json").write_text(json.dumps(bad), encoding="utf-8")
    rc = main(["validate", "-i", str(workdir / "bad.json")])
    out = capsys.readouterr()
    assert "Validation failed" in out.err
    assert rc == 0  # warnings only → reference prints but succeeds


def test_streaming_trig_graph_blocks_roundtrip(spark, tmp_path):
    from csvw_rdf_convertor_spark.sources.turtle import to_turtle_lines
    rows = [
        ("http://ex/s", "http://ex/p", "v", "literal", "", "", ""),
        ("http://ex/s", "http://ex/p", "w", "literal", "", "",
         "http://ex/g"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj_lex string, obj_kind string, "
              "obj_dtype string, obj_lang string, graph string")
    header, lines = to_turtle_lines(df, {}, with_graphs=True)
    text = "\n".join([*header, *[r.line for r in lines.collect()]]) + "\n"
    p = tmp_path / "g.trig"
    p.write_text(text, encoding="utf-8")
    from csvw_rdf_convertor_spark.sources.parse import read_rdf
    got = {tuple(r) for r in read_rdf(spark, str(p)).collect()}
    assert got == set(rows)


FIXTURE_DIR = "/root/reference/packages/core/test/rdf2csvwtests"


def _fixture_sample():
    """First few reference conformance fixtures (skipping the adjudicated
    information-destroying reversals — tests/test_rdf2csvw_fixtures.py)."""
    if not os.path.isdir(FIXTURE_DIR):
        return []
    with open(os.path.join(FIXTURE_DIR, "manifest.json"),
              encoding="utf-8") as f:
        manifest = json.load(f)
    skip = {38, 39, 283, 305, 306, 307}
    return [e for e in manifest if int(e["id"]) not in skip][:5]


_SAMPLE = _fixture_sample()


# ids as a list: an ``ids`` callable is handed NOTSET for an empty sample,
# which fails collection of the whole module
@pytest.mark.skipif(not _SAMPLE, reason="reference fixtures absent")
@pytest.mark.parametrize("entry", _SAMPLE, ids=[str(e["id"]) for e in _SAMPLE])
def test_cli_rdf2csvw_reference_fixture(spark, entry, tmp_path):
    """The CLI end-to-end on the reference's OWN conformance corpus:
    rdf2csvw -i input.ttl -d csv-metadata.json writes CSVs that match the
    fixture's expected files (same row-set comparison as
    tests/test_rdf2csvw_fixtures.py / rdf2csvw.test.ts:109-176)."""
    import csv as _csv
    outdir = tmp_path / "out"
    rc = main(["rdf2csvw",
               "-i", os.path.join(FIXTURE_DIR, entry["action"]),
               "-d", os.path.join(FIXTURE_DIR, entry["metadata"]),
               "-o", str(outdir)])
    assert rc == 0

    def canon(rows):
        return sorted(tuple(sorted((k.strip(), (v or "").strip())
                                   for k, v in r.items())) for r in rows)

    for p in entry["result"]:
        name = p.split("/", 1)[1] if "/" in p else p
        with open(os.path.join(FIXTURE_DIR, p), newline="",
                  encoding="utf-8-sig") as f:
            want = list(_csv.DictReader(f))
        got_path = outdir / name
        assert got_path.exists(), f"missing output table {name}"
        with open(got_path, newline="", encoding="utf-8") as f:
            got = list(_csv.DictReader(f))
        assert canon(got) == canon(want), f"table {name}"
    assert (outdir / "descriptor.json").exists()


def test_common_prefixes_are_valid_iris():
    for pref, ns in COMMON_PREFIXES.items():
        assert ns.startswith("http"), pref
        assert ns.endswith(("#", "/")), pref


def test_pretty_turtle_honors_base(spark, workdir):
    """--turtle.base must reach the BUFFERED writer too, not just the
    streaming branch (it silently vanished with --no-turtle.streaming)."""
    out = str(workdir / "based.ttl")
    rc = main(["csvw2rdf", "-i", str(workdir / "meta.json"), "-o", out,
               "--minimal", "--no-turtle.streaming",
               "--turtle.base", "http://base.example/"])
    assert rc == 0
    assert "@base <http://base.example/> ." in (workdir / "based.ttl").read_text()
    assert _graph(spark, out) == EXPECTED


def test_write_single_csv_node_encoding(spark, tmp_path):
    """A dialect encoding given as a Node Buffer label ('utf16le') must
    write through Python's codec registry instead of raising LookupError."""
    from csvw_rdf_convertor_spark.cli import _write_single_csv
    from csvw_rdf_convertor_spark.spec import DialectSpec
    df = spark.createDataFrame([("1", "Álice")], "id string, name string")
    p = str(tmp_path / "enc.csv")
    _write_single_csv(df, p, DialectSpec(encoding="utf16le"))
    with open(p, "rb") as f:
        lines = f.read().decode("utf-16-le").splitlines()
    assert lines[0] == "id,name"
    assert lines[1] == "1,Álice"
