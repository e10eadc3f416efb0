"""templateIris post-pass (convertor.ts:1235-1243) as JVM expressions:
``plans.csvw2rdf.apply_template_iris`` must equal the pure-Python
``template_iris_value`` IRI for IRI."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from csvw_rdf_convertor_spark.functions.terms import TRIPLE_DDL
from csvw_rdf_convertor_spark.functions.uritemplate import template_iris_value
from csvw_rdf_convertor_spark.plans.csvw2rdf import apply_template_iris
from csvw_rdf_convertor_spark.sources.local import local_frame

#: any text a Spark string can hold (no lone surrogates)
_TEXT = st.text(st.characters(exclude_categories=("Cs",)), max_size=4)


def _pct(data: bytes, upper: bool) -> str:
    return "".join(("%%%02X" if upper else "%%%02x") % b for b in data)


def _punycode(text: str) -> str:
    try:
        return text.encode("punycode").decode("ascii")
    except UnicodeError:
        return "a"


#: a stretch of IRI after the host: raw text, UTF-8 escape runs, escapes of
#: arbitrary bytes (mostly not UTF-8), the reserved escapes decodeURI keeps,
#: in both cases, and the shapes a decoder trips on
_PIECE = st.one_of(
    _TEXT,
    st.builds(lambda t, u: _pct(t.encode("utf-8"), u), _TEXT, st.booleans()),
    st.builds(_pct, st.binary(min_size=1, max_size=3), st.booleans()),
    st.builds(lambda c, u: _pct(c.encode(), u), st.sampled_from("#$&+,/:;=?@"),
              st.booleans()),
    st.sampled_from(["+", "%", "%%", "%zz", "%2", "%25", "%EF%BF%BD",
                     "\ufffd", "/", "?", "#"]))

#: host labels: plain, punycode under every prefix case, random text after
#: ``xn--`` (mostly not punycode), and known troublemakers — a punycode
#: label of an unassigned code point, a bare prefix, a non-ASCII label
_LABEL = st.one_of(
    st.text("abcdefghijklmnopqrstuvwxyz0123456789-", max_size=6),
    st.builds(lambda p, t: p + _punycode(t),
              st.sampled_from(["xn--", "XN--", "Xn--"]),
              st.text(st.characters(exclude_categories=("Cs",)),
                      min_size=1, max_size=5)),
    st.builds(lambda t: "xn--" + t,
              st.text("abcdefghijklmnopqrstuvwxyz0123456789-ABC", max_size=6)),
    st.sampled_from(["xn--zzb", "xn--", "", "xn--mnchen-3ya", "münchen",
                     "xn--é", "%41"]))

#: schemes, including none at all, and scheme characters on both sides of
#: Python's ``\w`` (letters, ``No`` numbers, '_' vs combining marks)
_SCHEME = st.one_of(
    st.sampled_from(["http://", "https://", "HTTP://", "urn:", "", "//",
                     "a+b.c-d://", "é://", "x\u0301://", "x²://", "x_y://",
                     "x٣://"]),
    st.builds(lambda a, b: a + b + "://", st.sampled_from("aZ"),
              st.text("az09+.-_é²\u0301٣:/", max_size=3)))

_IRI = st.builds(lambda s, labels, rest: s + ".".join(labels) + "".join(rest),
                 _SCHEME, st.lists(_LABEL, min_size=1, max_size=4),
                 st.lists(_PIECE, max_size=6))


# derandomized: the same examples on every run. A random run can draw a
# label of the known residue ``idn_hosts`` documents.
@settings(max_examples=60, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(iris=st.lists(_IRI, min_size=1, max_size=60))
def test_apply_template_iris_equals_python_oracle(spark, iris):
    rows = [(u, u, u, "iri", "", "", "") for u in iris]
    out = apply_template_iris(local_frame(spark, rows, TRIPLE_DDL))
    want = [(u if u.startswith("_:") else template_iris_value(u),
             template_iris_value(u), template_iris_value(u)) for u in iris]
    assert [tuple(r) for r in out.select("subj", "pred", "obj_lex").collect()] \
        == want


#: IRI → templateIris output, one per difference between Python's IDNA
#: codec and ``java.net.IDN`` that the JVM function closes, and the
#: decodeURI shapes URLDecoder alone gets wrong
PINNED = {
    # Python decodes only a lower-case ACE prefix; Java any case
    "http://XN--mnchen-3ya.example/": "http://XN--mnchen-3ya.example/",
    # a code point Unicode 3.2 leaves unassigned (U+08CD)
    "http://xn--zzb.example/": "http://\u08cd.example/",
    # one label fails: Python keeps the whole host, Java the one label
    "http://xn--mnchen-3ya.xn--zz.example/":
        "http://xn--mnchen-3ya.xn--zz.example/",
    # Python lower-cases the decoded U+10B9 with newer tables and fails
    "http://a.xn--xnd.example/": "http://a.xn--xnd.example/",
    "http://a.xn--mnchen-3ya.xn--zzb/x%C3%A9": "http://a.münchen.\u08cd/xé",
    "urn:a+b%20c%2B%2b%": "urn:a+b c%2B%2b%",
    "urn:%%zz%C3%A9%ab": "urn:%%zz%C3%A9%ab",
    "urn:%EF%BF%BD\ufffd": "urn:\ufffd\ufffd",
}


def test_apply_template_iris_pinned_cases(spark):
    rows = [(u, u, u, "iri", "", "", "") for u in PINNED]
    out = apply_template_iris(local_frame(spark, rows, TRIPLE_DDL))
    got = [r.obj_lex for r in out.select("obj_lex").collect()]
    assert got == list(PINNED.values())
    assert got == [template_iris_value(u) for u in PINNED]
