"""Descriptor validation (reference validation/*.ts analogues) — pure python."""

from __future__ import annotations

import json
import re

from csvw_rdf_convertor_spark import cli
from csvw_rdf_convertor_spark.descriptor_norm import normalize_descriptor
from csvw_rdf_convertor_spark.spec import parse_descriptor
from csvw_rdf_convertor_spark.validation import validate_group


def _issues(desc, fks=None):
    return validate_group(parse_descriptor(desc), fks)


def test_clean_descriptor_validates():
    assert _issues({
        "url": "t.csv",
        "tableSchema": {"columns": [{"name": "a", "datatype": "integer"}],
                        "primaryKey": "a"},
    }) == []


def test_missing_primary_key_column():
    out = _issues({"url": "t.csv",
                   "tableSchema": {"columns": [{"name": "a"}], "primaryKey": "zz"}})
    assert any(i.level == "error" and "zz" in i.message for i in out)


def test_unknown_datatype_and_bad_facets():
    out = _issues({"url": "t.csv", "tableSchema": {"columns": [
        {"name": "a", "datatype": "notatype"},
        {"name": "b", "datatype": {"base": "integer", "length": 3}},
        {"name": "c", "datatype": {"base": "string", "minimum": 1}},
        {"name": "d", "ordered": True},
    ]}})
    msgs = [i.message for i in out]
    assert any("unknown datatype" in m for m in msgs)
    assert any("length facets" in m for m in msgs)
    assert any("minimum/maximum" in m for m in msgs)
    assert any("ordered" in m for m in msgs)


def test_foreign_key_wiring():
    desc = {"tables": [
        {"url": "a.csv", "tableSchema": {"columns": [{"name": "id"}, {"name": "b_id"}]}},
        {"url": "b.csv", "tableSchema": {"columns": [{"name": "id"}]}},
    ]}
    ok = _issues(desc, [{"table": "a.csv", "columnReference": "b_id",
                         "reference": {"resource": "b.csv", "columnReference": "id"}}])
    assert ok == []
    bad = _issues(desc, [{"table": "a.csv", "columnReference": "nope",
                          "reference": {"resource": "c.csv", "columnReference": "id"}}])
    assert any("nope" in i.message for i in bad)
    assert any("c.csv" in i.message for i in bad)


# --- property-value validation: one walk in descriptor_norm -----------------

def _document_issues(doc):
    issues = []
    normalize_descriptor(doc, issues=issues)
    return issues


def _msgs(issues):
    return [(i.level, i.location) for i in issues]


def test_bad_dialect_fixture():
    """Fixture 1: dialect with out-of-domain options (validation/dialect.ts
    encoding whitelist :18-31, trim domain :38-50, unknown keys :52-68,
    negative skipRows :37, non-string line terminator :85-95)."""
    doc = {"url": "t.csv",
           "dialect": {"@type": "NotDialect", "encoding": "klingon",
                       "trim": "sideways", "skipRows": -1,
                       "lineTerminators": ["\n", 7],
                       "frobnicate": True}}
    issues = _document_issues(doc)
    locs = [loc for _lvl, loc in _msgs(issues)]
    assert ("error", "$.dialect.@type") in _msgs(issues)
    assert "$.dialect.encoding" in locs
    assert "$.dialect.trim" in locs
    assert "$.dialect.skipRows" in locs
    assert "$.dialect.frobnicate" in locs
    assert ("warning", "$.dialect.lineTerminators") in _msgs(issues)


def test_bad_transformation_fixture():
    """Fixture 2: transformation definition — behavioral not-executed
    warning plus allowed-keys/type checks (validation/template.ts:25-32)."""
    doc = {"url": "t.csv",
           "transformations": [{"url": "s.xsl", "targetFormat": "http://x",
                                "@type": "Transform", "script": "inline"}]}
    issues = _document_issues(doc)
    assert any("not executed" in i.message for i in issues)
    assert ("error", "$.transformations[0].@type") in _msgs(issues)
    assert any(i.location == "$.transformations[0].script" for i in issues)


def test_bad_inherited_properties_fixture():
    """Fixture 3: inherited-property value domains at every cascade level
    (validation/inherited-properties.ts:7-18,49-60)."""
    doc = {"tables": [
        {"url": "a.csv", "lang": "??bad??",
         "tableSchema": {"textDirection": "up",
                         "columns": [{"name": "c", "ordered": "yes",
                                      "aboutUrl": 42}]}}],
        "null": 7}
    issues = _document_issues(doc)
    locs = [loc for _lvl, loc in _msgs(issues)]
    col = "$.tables[0].tableSchema.columns[0]"
    assert "$.null" in locs                 # group level
    assert "$.tables[0].lang" in locs       # table level
    assert "$.tables[0].tableSchema.textDirection" in locs
    assert f"{col}.ordered" in locs
    assert f"{col}.aboutUrl" in locs
    assert all(i.level == "warning" for i in issues)


def test_inherited_property_on_dialect_is_placement_violation():
    """Placement rule: an inherited property on a Dialect object is an
    unknown key there (the reference's validateAllowedKeys)."""
    issues = _document_issues(
        {"url": "t.csv", "dialect": {"aboutUrl": "http://x/{id}"}})
    assert any(i.location == "$.dialect.aboutUrl" for i in issues)


def test_clean_descriptor_has_no_document_issues():
    doc = {"url": "t.csv",
           "dialect": {"delimiter": ";", "header": True, "trim": "start"},
           "tableSchema": {"lang": "cs", "textDirection": "ltr",
                           "columns": [{"name": "c", "required": True}]}}
    assert _document_issues(doc) == []


# --- invariant over the validate core (cli.validation_issues) ---------------

#: compact-form descriptor with a bad value for each property-value rule at
#: each level; no value changes shape in normalization unless it is invalid
BAD_VALUES = {
    "@context": ["http://www.w3.org/ns/csvw", {"@language": "en"}],
    "null": 7, "lang": "*", "textDirection": "rtl",
    "dialect": {"encoding": "klingon", "trim": "sideways", "skipRows": -1,
                "headerRowCount": "one", "lineTerminators": ["\n", 7],
                "delimiter": ";"},
    "tables": [{
        "url": "a.csv", "lang": "??bad??", "propertyUrl": 5,
        "tableDirection": "up",
        "dialect": {"header": "yes", "doubleQuote": 0, "quoteChar": 1},
        "tableSchema": {
            "textDirection": "up", "valueUrl": [1, 2], "default": 1,
            "required": "no",
            "columns": [
                {"name": "c", "titles": 5, "ordered": "yes", "aboutUrl": 42,
                 "lang": "*", "separator": 3, "virtual": "no",
                 "datatype": {"base": "bogus", "format": "[unclosed"}},
                {"name": "c d", "null": ["", 1],
                 "datatype": {"base": "integer",
                              "format": {"pattern": "abc"}}},
                {"name": "e", "suppressOutput": 1,
                 "datatype": {"base": "boolean", "format": "yes"}},
                {"name": "f", "datatype": "notatype", "lang": "cs",
                 "textDirection": "auto"},
                {"name": "g", "datatype": {"base": "decimal", "format": 5}},
                {"name": "h", "datatype": {"base": "double",
                                           "format": "x"}}]}}]}

_GONE = object()


def _leaves(obj, path="$"):
    """(``$.…`` path, value) of every value that is not an object or an
    array of objects."""
    if isinstance(obj, dict) and obj:
        for k, v in obj.items():
            yield from _leaves(v, f"{path}.{k}")
    elif (isinstance(obj, list) and obj
          and all(isinstance(x, dict) for x in obj)):
        for i, v in enumerate(obj):
            yield from _leaves(v, f"{path}[{i}]")
    else:
        yield path, obj


def test_validation_issues_name_each_changed_value_once(tmp_path):
    """Each value that normalization drops or coerces gets exactly one
    "Invalid value" warning at its path, and no issue names a value that
    the normalized document still holds."""
    meta = tmp_path / "meta.json"
    meta.write_text(json.dumps(BAD_VALUES))
    issues = cli.validation_issues(str(meta), None, None)
    doc = normalize_descriptor(BAD_VALUES)
    again = []
    assert normalize_descriptor(doc, issues=again) == doc   # idempotent
    assert not [i for i in again if i.message.startswith("Invalid value")]
    norm = dict(_leaves(doc))
    changed = [p for p, v in _leaves(BAD_VALUES)
               if norm.get(p, _GONE) != v]
    invalid = [i.location for i in issues
               if i.message.startswith("Invalid value for ")]
    assert sorted(invalid) == sorted(changed)
    held = {(p.rsplit(".", 1)[-1], repr(v)) for p, v in norm.items()}
    for i in issues:
        key = re.split(r"[./]", i.location)[-1]
        assert not any(k == key and i.message.endswith(f" {r}")
                       for k, r in held), i
