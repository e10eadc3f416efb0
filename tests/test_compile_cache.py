"""The csvw2rdf compile cache: a table conversion is compiled once per key
and replayed on each DataFrame. A replay must give exactly the triples of a
fresh build, keep its stage-break observation names unique, and keep the
table URL in the key whenever an expression reads it."""

from __future__ import annotations

import json

import pytest

from csvw_rdf_convertor_spark import cli
from csvw_rdf_convertor_spark.plans import csvw2rdf
from csvw_rdf_convertor_spark.sources.csv_source import file_order_row
from csvw_rdf_convertor_spark.spec import parse_descriptor

EX = "http://example.org/"
#: typed columns, so the mapping has codegen stage breaks
COLUMNS = [{"name": "id", "titles": "id", "datatype": "integer",
            "propertyUrl": EX + "ns#id"},
           {"name": "price", "titles": "price", "datatype": "decimal",
            "propertyUrl": EX + "ns#price"},
           {"name": "name", "titles": "name", "propertyUrl": EX + "ns#name"}]
ROWS = [("1", "2.50", "alpha"), ("2", "x", "beta"), ("3", "", "")]
CSV = "id,price,name\n" + "".join(",".join(r) + "\n" for r in ROWS)


def _schema(**overrides) -> dict:
    return {"aboutUrl": EX + "item/{id}",
            "columns": [{**c, **overrides.get(c["name"], {})} for c in COLUMNS]}


def _table(base: str, **schema):
    desc = {"@context": "http://www.w3.org/ns/csvw", "url": "items.csv",
            "tableSchema": schema or _schema()}
    return parse_descriptor(desc, base).tables[0]


@pytest.fixture
def frame(spark):
    """``ROWS``, numbered in their order as the CLI numbers a CSV scan."""
    df = spark.createDataFrame(ROWS, "id string, price string, name string")
    return df.withColumn(csvw2rdf.ROW, file_order_row(df))


def _triples(frame, table, minimal=True) -> set[tuple]:
    return {tuple(r) for r in csvw2rdf.table_to_triples(
        frame, table, minimal=minimal).collect()}


def test_same_schema_tables_of_one_group_convert_cold_and_warm(tmp_path):
    """Two tables of one TableGroup with one schema in different files
    (monthly files of one dataset) share a compiled program, replayed twice
    in one union: its stage-break names must not repeat."""
    for month in ("jan", "feb"):
        (tmp_path / f"{month}.csv").write_text(CSV, encoding="utf-8")
    (tmp_path / "meta.json").write_text(json.dumps({
        "@context": "http://www.w3.org/ns/csvw",
        "tables": [{"url": "jan.csv", "tableSchema": _schema()},
                   {"url": "feb.csv", "tableSchema": _schema()}]}),
        encoding="utf-8")
    argv = ["csvw2rdf", "-i", str(tmp_path / "meta.json"), "--minimal",
            "--format", "ntriples", "-o"]
    csvw2rdf._compile.cache_clear()
    outputs = []
    for run in ("cold", "warm"):
        out = tmp_path / f"{run}.nt"
        assert cli.main([*argv, str(out)]) == 0
        outputs.append(sorted(out.read_text("utf-8").splitlines()))
    assert csvw2rdf._compile.cache_info().currsize == 1
    # both files give the same absolute-IRI triples: each line twice
    assert outputs[0] == outputs[1]
    assert outputs[0][::2] == outputs[0][1::2] and outputs[0]


def test_url_free_spec_shares_one_entry_across_urls(frame, tmp_path):
    """The web service's spec shape (minimal mode, absolute templates)
    under two temp-dir URLs: one cache entry, and the triples of a build on
    a cleared cache."""
    first = _table(f"{tmp_path}/a/")
    second = _table(f"{tmp_path}/b/")
    assert first.base != second.base
    csvw2rdf._compile.cache_clear()
    got = _triples(frame, first)
    assert _triples(frame, second) == got
    info = csvw2rdf._compile.cache_info()
    assert (info.currsize, info.misses, info.hits) == (1, 1, 1)
    csvw2rdf._compile.cache_clear()
    assert _triples(frame, second) == got


@pytest.mark.parametrize("schema, minimal", [
    # no propertyUrl: the predicate is <url>#name
    (_schema(name={"propertyUrl": None}), True),
    # standard mode: row and table nodes, csvw:url
    (_schema(), False),
    # a relative aboutUrl resolves against the table URL
    ({**_schema(), "aboutUrl": "item/{id}"}, True),
], ids=["no-propertyUrl", "standard-mode", "relative-aboutUrl"])
def test_spec_that_reads_its_url_keeps_per_url_output(frame, tmp_path,
                                                      schema, minimal):
    schema = {**schema, "columns": [{k: v for k, v in c.items()
                                     if v is not None}
                                    for c in schema["columns"]]}
    first = _table(f"{tmp_path}/a/", **schema)
    second = _table(f"{tmp_path}/b/", **schema)
    csvw2rdf._compile.cache_clear()
    got_first = _triples(frame, first, minimal)
    got_second = _triples(frame, second, minimal)
    assert csvw2rdf._compile.cache_info().currsize == 2
    assert got_first != got_second
    assert any(f"{tmp_path}/b/" in term for t in got_second for term in t)
    csvw2rdf._compile.cache_clear()
    assert _triples(frame, second, minimal) == got_second


def test_concurrent_conversions_share_one_program(frame):
    """Threads converting one spec at once, on a cold cache and with the
    interpreter switching threads often, each get the triples of a serial
    build, and all of their stage-break names differ: the union of every
    thread's frame is analysable."""
    import sys
    import threading
    from functools import reduce

    table = _table("http://example.org/")
    csvw2rdf._compile.cache_clear()
    expected = _triples(frame, table)
    csvw2rdf._compile.cache_clear()
    results: list = []
    threads = [threading.Thread(target=lambda: results.append(
        csvw2rdf.table_to_triples(frame, table))) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and len(results) == 8
    union = reduce(lambda a, b: a.unionByName(b), results)
    rows = [tuple(r) for r in union.collect()]
    assert set(rows) == expected and len(rows) == 8 * len(expected)
