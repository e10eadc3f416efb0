"""Driver-side descriptor resolution (S2/S6/S8) — pure python, no Spark."""

from __future__ import annotations

import json

from csvw_rdf_convertor_spark.sources.resolve import (
    FetchCache,
    PathOverrides,
    locate_metadata,
    resolve_with_header,
)

META = {
    "url": "tree-ops.csv",
    "tableSchema": {"columns": [{"name": "GID"}], "aboutUrl": "#g-{GID}"},
}


def test_sidecar_metadata_discovery(tmp_path):
    csv = tmp_path / "tree-ops.csv"
    csv.write_text("GID\n1\n")
    (tmp_path / "tree-ops.csv-metadata.json").write_text(json.dumps(META))
    found = locate_metadata(str(csv))
    assert found and found.endswith("tree-ops.csv-metadata.json")
    g = resolve_with_header(str(csv))
    assert g.tables[0].columns[0].name == "GID"
    assert g.tables[0].columns[0].aboutUrl == "#g-{GID}"


def test_directory_default_metadata(tmp_path):
    csv = tmp_path / "data.csv"
    csv.write_text("a\n1\n")
    (tmp_path / "csv-metadata.json").write_text(json.dumps(META))
    assert locate_metadata(str(csv)).endswith("csv-metadata.json")


def test_empty_schema_fallback(tmp_path):
    csv = tmp_path / "lonely.csv"
    csv.write_text("a\n1\n")
    g = resolve_with_header(str(csv))
    assert g.tables[0].url == str(csv)
    assert [c.name for c in g.tables[0].columns] == ["a"]


def test_path_overrides_longest_prefix():
    o = PathOverrides({"http://remote/": "/local/",
                       "http://remote/deep/": "/cache/"})
    assert o.apply("http://remote/deep/x.json") == "/cache/x.json"
    assert o.apply("http://remote/x.json") == "/local/x.json"
    assert o.apply("http://other/x") == "http://other/x"
    o2 = PathOverrides(regex_rules=[(r"^https://ex\.org/(\w+)$", r"/fix/\1.json")])
    assert o2.apply("https://ex.org/abc") == "/fix/abc.json"


def test_fetch_cache_memoizes(tmp_path):
    f = tmp_path / "m.json"
    f.write_text(json.dumps(META))
    c = FetchCache()
    a = c.load_json(str(f))
    f.write_text("{}")           # cache must shield from the rewrite
    b = c.load_json(str(f))
    assert a is b and b["url"] == "tree-ops.csv"


# --- Link-header discovery (pure half of req-resolve.ts:19-59) ---------------

def _links():
    from csvw_rdf_convertor_spark.sources.resolve import parse_link_header
    return parse_link_header


def test_parse_link_header_reference_shape():
    # header shape from the CSVW spec / reference tests: quoted attributes
    from csvw_rdf_convertor_spark.sources.resolve import parse_link_header
    h = '<metadata.json>; rel="describedby"; type="application/csvm+json"'
    assert parse_link_header(h, "http://ex.org/data/tree-ops.csv") == \
        ["http://ex.org/data/metadata.json"]


def test_parse_link_header_last_one_wins_and_filters():
    from csvw_rdf_convertor_spark.sources.resolve import linked_context_url
    h = ('<a.json>; rel="describedby"; type="application/csvm+json", '
         '<style.css>; rel="stylesheet"; type="text/css", '
         '<b.json>; rel="describedby"; type="application/ld+json"')
    # MUST use the LAST qualifying Link (req-resolve.ts:23-27)
    assert linked_context_url({"Link": h, "Content-Type": "text/csv"},
                              "http://ex.org/t.csv") == "http://ex.org/b.json"
    # a ld+json response body IS the metadata — no redirect
    assert linked_context_url(
        {"Link": h, "Content-Type": "application/ld+json"},
        "http://ex.org/t.csv") is None
    # non-metadata types and other rels are ignored
    assert linked_context_url(
        {"Link": '<x.css>; rel="stylesheet"; type="text/css"'},
        "http://ex.org/t.csv") is None


def test_parse_link_header_unquoted_values():
    from csvw_rdf_convertor_spark.sources.resolve import parse_link_header
    # documented divergence: the reference's slice(1,-1) corrupts unquoted
    # values; this parser accepts both forms
    h = "<m.json>; rel=describedby; type=application/json"
    assert parse_link_header(h) == ["m.json"]


def test_locate_metadata_precedence(tmp_path):
    from csvw_rdf_convertor_spark.sources.resolve import locate_metadata
    csv = tmp_path / "t.csv"
    csv.write_text("a\n1\n")
    sidecar = tmp_path / "t.csv-metadata.json"
    sidecar.write_text("{}")
    # 1) Link header (when response headers are available) wins
    headers = {"Link": '<linked.json>; rel="describedby"; '
                       'type="application/csvm+json"'}
    assert locate_metadata(str(csv), headers=headers).endswith("linked.json")
    # 2) without headers: sidecar default
    assert locate_metadata(str(csv)) == str(sidecar)
    # 3) nothing found → None (empty-schema fallback downstream)
    sidecar.unlink()
    assert locate_metadata(str(csv)) is None
