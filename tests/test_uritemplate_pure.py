"""URI-template compiler internals — pure-python unit tests (no Spark)."""

from __future__ import annotations

import re

from csvw_rdf_convertor_spark.functions.uritemplate import (
    inverse_template_regex,
    parse_template,
    variables,
)


def test_parse_template_segments():
    parts = parse_template("http://x/{a}/y{+b}#z{#c}")
    kinds = [(k, op) for k, op, _ in parts]
    assert kinds == [("lit", "http://x/"), ("expr", ""), ("lit", "/y"),
                     ("expr", "+"), ("lit", "#z"), ("expr", "#")]


def test_variables_with_modifiers():
    assert variables("{+base}/{id:3}/{list*}") == {"base", "id", "list"}
    assert variables("no-expr") == set()


def test_inverse_regex_simple_vs_reserved():
    rx = inverse_template_regex("http://x/{a}/tail")
    m = re.match(rx, "http://x/v1/tail")
    assert m and m.group("a") == "v1"
    # simple expansion must not swallow '/'
    assert not re.match(rx, "http://x/v1/v2/tail")
    rx2 = inverse_template_regex("{+all}")
    assert re.match(rx2, "http://x/v1/v2").group("all") == "http://x/v1/v2"


def test_inverse_regex_sanitizes_group_names():
    rx = inverse_template_regex("{weird-name}")
    m = re.match(rx, "abc")
    assert m and m.group("weird_name") == "abc"


def test_js_decode_uri_reserved_set():
    from csvw_rdf_convertor_spark.functions.uritemplate import js_decode_uri
    # %20 decodes, reserved escapes (#$&+,/:;=?@) stay encoded — JS decodeURI
    assert js_decode_uri("http://e/a%20b%2Fc?x=%3D") == "http://e/a b%2Fc?x=%3D"
    assert js_decode_uri("no-escapes") == "no-escapes"
    # malformed escape passes through instead of raising
    assert js_decode_uri("bad%zz") == "bad%zz"


def test_idn_to_unicode():
    from csvw_rdf_convertor_spark.functions.uritemplate import idn_to_unicode
    assert idn_to_unicode("xn--mnchen-3ya.example") == "münchen.example"
    assert idn_to_unicode("plain.example") == "plain.example"


def test_template_iris_value_full():
    from csvw_rdf_convertor_spark.functions.uritemplate import template_iris_value
    out = template_iris_value("http://xn--mnchen-3ya.example/a%20b?x=1%2F2")
    assert out == "http://münchen.example/a b?x=1%2F2"


def test_parse_template_varspec_modifiers():
    (_, op, specs), = [p for p in parse_template("{x:3,y*,z}") if p[0] == "expr"]
    assert op == ""
    assert [(s.name, s.maxlen, s.explode) for s in specs] == [
        ("x", 3, False), ("y", None, True), ("z", None, False)]


def test_compile_template_modifiers_and_ops(spark):
    from pyspark.sql import functions as F
    from csvw_rdf_convertor_spark.functions.uritemplate import compile_template
    df = spark.createDataFrame(
        [("semi cond", "BUILDING", None)], "a string, b string, c string")
    rec = {"a": F.col("a"), "b": F.col("b"), "c": F.col("c")}
    out = df.select(
        compile_template("urn:{b:4}/{a*}", rec).alias("pfx_explode"),
        compile_template("x{.a:4}", rec).alias("dot"),
        compile_template("/base{/b:5,a}", rec).alias("path"),
        compile_template("q{?a,b}", rec).alias("query"),
        compile_template("s{;b}", rec).alias("semi"),
        compile_template("n{?missing}", rec).alias("undef"),
        compile_template("m{#missing,b}", rec).alias("partial"),
    ).collect()[0]
    assert out.pfx_explode == "urn:BUIL/semi%20cond"
    assert out.dot == "x.semi"
    assert out.path == "/base/BUILD/semi%20cond"
    assert out.query == "q?a=semi%20cond&b=BUILDING"
    assert out.semi == "s;b=BUILDING"
    # all vars undefined -> no first char at all
    assert out.undef == "n"
    # undefined first var contributes neither value nor separator
    assert out.partial == "m#BUILDING"


def test_template_iris_value_passes_malformed_utf8_through():
    from csvw_rdf_convertor_spark.functions.uritemplate import template_iris_value
    # %XX runs that are not UTF-8: JS throws URIError; the IRI stays as-is
    assert template_iris_value("urn:%ab") == "urn:%ab"
    assert template_iris_value("http://ex.org/a%C3") == "http://ex.org/a%C3"
    # ... but a well-formed U+FFFD escape still decodes
    assert template_iris_value("urn:%EF%BF%BD") == "urn:\ufffd"
    # a kept reserved escape does not end a multibyte run early
    assert template_iris_value("urn:%C3%2F%A9") == "urn:%C3%2F%A9"
