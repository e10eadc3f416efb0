"""Descriptor JSON-LD normalization (descriptor_norm.py) — parity with the
reference's jsonld expand→compact round-trip (descriptor.ts:28-104)."""

from __future__ import annotations

import json

from csvw_rdf_convertor_spark.descriptor_norm import normalize_descriptor
from csvw_rdf_convertor_spark.spec import CSVW, parse_descriptor

COMPACT = {
    "@context": "http://www.w3.org/ns/csvw",
    "url": "nation.csv",
    "tableSchema": {
        "columns": [
            {"name": "n_name", "titles": "name",
             "datatype": "string"},
            {"name": "n_nationkey", "datatype": "integer"},
        ],
        "primaryKey": "n_nationkey",
    },
}


def _spec(d):
    return parse_descriptor(normalize_descriptor(d))


def test_compact_form_is_fixpoint():
    assert normalize_descriptor(COMPACT) == COMPACT


def test_full_iri_keys_normalize_to_compact():
    full = {
        "@context": "http://www.w3.org/ns/csvw",
        CSVW + "url": "nation.csv",
        CSVW + "tableSchema": {
            CSVW + "column": [
                {CSVW + "name": "n_name", CSVW + "title": "name",
                 CSVW + "datatype": "string"},
                {CSVW + "name": "n_nationkey", CSVW + "datatype": "integer"},
            ],
            CSVW + "primaryKey": "n_nationkey",
        },
    }
    assert normalize_descriptor(full) == COMPACT
    assert _spec(full) == _spec(COMPACT)


def test_csvw_prefixed_keys_and_value_wrappers():
    prefixed = {
        "@context": "http://www.w3.org/ns/csvw",
        "csvw:url": {"@value": "nation.csv"},
        "csvw:tableSchema": {
            "csvw:column": [
                {"csvw:name": {"@value": "n_name"},
                 "csvw:title": "name", "csvw:datatype": "string"},
                {"csvw:name": "n_nationkey", "csvw:datatype": "integer"},
            ],
            "csvw:primaryKey": "n_nationkey",
        },
    }
    assert normalize_descriptor(prefixed) == COMPACT


def test_singleton_array_collapse_but_set_terms_stay_arrays():
    d = {
        "url": ["nation.csv"],
        "tableSchema": {"columns": [{"name": ["a"]}]},
    }
    out = normalize_descriptor(d)
    assert out["url"] == "nation.csv"
    assert out["tableSchema"]["columns"] == [{"name": "a"}]  # @set term


def test_type_iris_shortened():
    d = {"@type": CSVW + "Table", "url": "x.csv",
         "dialect": {"@type": "csvw:Dialect"}}
    out = normalize_descriptor(d)
    assert out["@type"] == "Table"
    assert out["dialect"]["@type"] == "Dialect"


def test_external_props_preserved_verbatim():
    d = {**COMPACT, "dc:title": {"@value": "x", "@language": "en"},
         "schema:name": ["a", "b"]}
    out = normalize_descriptor(d)
    assert out["dc:title"] == {"@value": "x", "@language": "en"}
    assert out["schema:name"] == ["a", "b"]


# --- validation parity (descriptor.ts:110-190) ------------------------------

def test_nonstring_id_repaired_with_warning():
    issues = []
    d = {"@id": {"bogus": 1}, "url": "x.csv"}
    out = normalize_descriptor(d, issues=issues, url="http://ex/meta.json")
    assert out["@id"] == "http://ex/meta.json"
    assert any(i.level == "warning" and "Invalid @id" in i.message
               for i in issues)


def test_blank_node_id_and_type_are_errors():
    issues = []
    normalize_descriptor({"@id": "_:b0", "@type": "_:b1"}, issues=issues)
    msgs = [i.message for i in issues if i.level == "error"]
    assert "@id cannot be a blank node" in msgs
    assert "@type cannot be a blank node" in msgs


def test_invalid_type_is_error_valid_are_not():
    issues = []
    normalize_descriptor({"@type": "Tabble"}, issues=issues)
    assert any("Invalid @type" in i.message for i in issues)
    issues = []
    normalize_descriptor({"@type": "TableGroup",
                          "tables": [{"@type": "Table", "url": "x"}]},
                         issues=issues)
    assert not issues


def test_language_without_value_is_error():
    issues = []
    normalize_descriptor(
        {"url": "x", "notes": [{"@language": "en"}]}, issues=issues)
    assert any("@language property must not be used" in i.message
               for i in issues)


def test_invalid_keyword_property_is_error():
    issues = []
    normalize_descriptor({"url": "x", "@bogus": 1}, issues=issues)
    assert any("Invalid keyword property: @bogus" in i.message
               for i in issues)


def test_invalid_title_map_entry_dropped_with_warning():
    issues = []
    d = {"url": "x.csv", "tableSchema": {"columns": [
        {"name": "a", "titles": {"en": "fine", "cs": {"bad": 1}}}]}}
    out = normalize_descriptor(d, issues=issues)
    titles = out["tableSchema"]["columns"][0]["titles"]
    assert titles == {"en": "fine"}
    assert any("Invalid title" in i.message for i in issues)


def test_invalid_context_language_dropped_with_warning():
    issues = []
    d = {"@context": ["http://www.w3.org/ns/csvw",
                      {"@language": "notalanguagetag!!"}],
         "url": "x.csv"}
    out = normalize_descriptor(d, issues=issues)
    assert "@language" not in out["@context"][1]
    assert any("Invalid language tag" in i.message for i in issues)


# --- referenced sub-descriptors (descriptor.ts:197-247) ---------------------

def test_referenced_tableschema_inlined(tmp_path):
    schema = {"@context": "http://www.w3.org/ns/csvw",
              "csvw:column": [{"csvw:name": "a",
                               "csvw:datatype": "integer"}],
              "primaryKey": "a"}
    p = tmp_path / "schema.json"
    p.write_text(json.dumps(schema))
    d = {"url": "x.csv", "tableSchema": "schema.json"}

    def loader(url):
        return json.loads(open(url).read())

    out = normalize_descriptor(d, base=str(tmp_path), loader=loader)
    ts = out["tableSchema"]
    assert ts["columns"] == [{"name": "a", "datatype": "integer"}]
    assert ts["primaryKey"] == "a"
    assert ts["@id"] == "schema.json"
    # and the result parses
    spec = parse_descriptor(out)
    assert spec.tables[0].columns[0].name == "a"


def test_referenced_dialect_by_id_object(tmp_path):
    p = tmp_path / "dialect.json"
    p.write_text(json.dumps({"delimiter": ";", "header": False}))
    d = {"url": "x.csv", "tables": [
        {"url": "x.csv", "dialect": {"@id": "dialect.json"}}]}

    def loader(url):
        return json.loads(open(url).read())

    out = normalize_descriptor(d, base=str(tmp_path), loader=loader)
    dia = out["tables"][0]["dialect"]
    assert dia["delimiter"] == ";"
    assert dia["header"] is False


def test_resolve_descriptor_accepts_prefixed_metadata(tmp_path):
    """End-to-end: a csvw:-prefixed metadata file next to the CSV resolves."""
    from csvw_rdf_convertor_spark.sources.resolve import resolve_with_header

    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n")
    meta = tmp_path / "t.csv-metadata.json"
    meta.write_text(json.dumps({
        "@context": "http://www.w3.org/ns/csvw",
        "csvw:url": "t.csv",
        "csvw:tableSchema": {"csvw:column": [
            {"csvw:name": "a", "csvw:datatype": "integer"},
            {"csvw:name": "b"}]},
    }))
    spec = resolve_with_header(str(csv))
    names = [c.name for c in spec.tables[0].columns]
    assert names == ["a", "b"]
    assert spec.tables[0].columns[0].datatype.base == "integer"


def test_singleton_type_list_collapses():
    out = normalize_descriptor({"@type": [CSVW + "Table"], "url": "x.csv"})
    assert out["@type"] == "Table"
    out2 = normalize_descriptor({"@type": ["Table", "TableGroup"]})
    assert out2["@type"] == ["Table", "TableGroup"]


def test_context_base_applies_once():
    """The ``@context`` ``@base`` prefixes each table url (a plain string
    concatenation, as in the reference) on the first pass and leaves the
    normalized document, so normalizing it again changes nothing: the CLI
    writes normalized descriptors that may be read back."""
    ctx = ["http://www.w3.org/ns/csvw", {"@base": "http://ex/"}]
    for doc, urls in (({"@context": ctx, "url": "t.csv"}, ["http://ex/t.csv"]),
                      ({"@context": ctx, "tables": [{"url": "a.csv"},
                                                    {"url": "b.csv"}]},
                       ["http://ex/a.csv", "http://ex/b.csv"])):
        once = normalize_descriptor(doc)
        assert [t["url"] for t in once.get("tables", [once])] == urls
        assert normalize_descriptor(once) == once
