"""Web service parity tests — reference: packages/ws (openapi.yaml,
routes/{csvw2rdf,rdf2csvw,validate}.ts). A real localhost HTTP server in a
thread; requests via stdlib http.client; conversions share the CLI code
paths, so these tests exercise transport + option plumbing."""

from __future__ import annotations

import http.client
import io
import json
import logging
import threading
import zipfile
from concurrent.futures import ThreadPoolExecutor

import pytest

from csvw_rdf_convertor_spark import cli
from csvw_rdf_convertor_spark.ws import MAX_BODY_BYTES, make_server

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


@pytest.fixture(scope="module")
def server(spark):  # spark first: the handlers reuse the active session
    srv = make_server(port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address
    srv.shutdown()


def _post(addr, path, body: bytes, content_type: str):
    conn = http.client.HTTPConnection(*addr, timeout=300)
    conn.request("POST", path, body=body,
                 headers={"Content-Type": content_type})
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    return resp.status, resp.getheader("Content-Type"), data


def _post_json(addr, path, options, files=None):
    return _post(addr, path,
                 json.dumps({"options": options,
                             "files": files or {}}).encode("utf-8"),
                 "application/json")


def _parse(spark, text: str, ext: str):
    import os
    import tempfile
    from csvw_rdf_convertor_spark.sources.parse import read_rdf
    p = os.path.join(tempfile.mkdtemp(prefix="ws_rt_"), "doc." + ext)
    with open(p, "w", encoding="utf-8") as f:
        f.write(text)
    return {tuple(r) for r in read_rdf(spark, p).collect()}


def test_csvw2rdf_ntriples(spark, server):
    status, mime, data = _post_json(
        server, "/csvw2rdf",
        {"input": "meta.json", "format": "ntriples", "minimal": True},
        {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV})
    assert status == 200
    assert mime == "application/n-triples"   # mimeTypes parity
    assert _parse(spark, data.decode(), "nt") == EXPECTED


def test_warm_request_leaves_the_session_as_tuned(spark, server,
                                                  monkeypatch):
    """The CLI tunes a session the first time it sees it: a warm request
    sets no conf and leaves the process-wide log level alone."""
    from pyspark import SparkContext
    from pyspark.sql.conf import RuntimeConfig

    def request():
        status, _mime, _data = _post_json(
            server, "/csvw2rdf",
            {"input": "meta.json", "format": "ntriples", "minimal": True},
            {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV})
        assert status == 200

    request()
    calls = []
    for cls, name in ((RuntimeConfig, "set"), (SparkContext, "setLogLevel")):
        def recording(self, *args, _orig=getattr(cls, name), _name=name):
            calls.append((_name, args))
            return _orig(self, *args)
        monkeypatch.setattr(cls, name, recording)
    request()
    assert calls == []


def test_csvw2rdf_malformed_escape_passes_through(spark, server):
    """A ``{+link}`` IRI whose escapes are not UTF-8 survives the default
    templateIris pass: 200, and the IRI comes back unchanged."""
    link = "http://ex.org/def#link"
    descriptor = {
        "@context": "http://www.w3.org/ns/csvw",
        "url": "links.csv",
        "tableSchema": {
            "aboutUrl": "http://ex.org/r/{id}",
            "columns": [{"name": "id", "titles": "id"},
                        {"name": "link", "titles": "link",
                         "propertyUrl": link, "valueUrl": "{+link}"}]},
    }
    status, _mime, data = _post_json(
        server, "/csvw2rdf",
        {"input": "meta.json", "format": "ntriples", "minimal": True},
        {"meta.json": json.dumps(descriptor),
         "links.csv": "id,link\n1,http://ex.org/%ab\n"})
    assert status == 200
    assert {r[2] for r in _parse(spark, data.decode(), "nt")
            if r[1] == link} == {"http://ex.org/%ab"}


def test_csvw2rdf_turtle_default_format(spark, server):
    status, mime, data = _post_json(
        server, "/csvw2rdf",
        {"input": "meta.json", "minimal": True,
         "turtle": {"prefixes": {"foaf": "http://xmlns.com/foaf/0.1/"}}},
        {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV})
    assert status == 200
    assert mime == "application/turtle"
    assert b"foaf" in data
    assert _parse(spark, data.decode(), "ttl") == EXPECTED


def _post_multipart(addr, path, parts):
    """POST ``parts``, (name, filename or None, bytes content) triples, as
    one multipart/form-data body."""
    boundary = "XwsBoundaryX"
    buf = io.BytesIO()
    for name, filename, content in parts:
        disp = f'form-data; name="{name}"'
        if filename:
            disp += f'; filename="{filename}"'
        buf.write(f"--{boundary}\r\nContent-Disposition: {disp}\r\n\r\n"
                  .encode())
        buf.write(content + b"\r\n")
    buf.write(f"--{boundary}--\r\n".encode())
    return _post(addr, path, buf.getvalue(),
                 f"multipart/form-data; boundary={boundary}")


MULTIPART_OPTIONS = ("options", None, json.dumps(
    {"input": "meta.json", "format": "ntriples", "minimal": True}).encode())


def test_csvw2rdf_multipart(spark, server):
    status, mime, data = _post_multipart(server, "/csvw2rdf", [
        MULTIPART_OPTIONS,
        ("meta.json", "meta.json", json.dumps(DESCRIPTOR).encode()),
        ("people.csv", "people.csv", CSV.encode()),
    ])
    assert status == 200
    assert _parse(spark, data.decode(), "nt") == EXPECTED


def test_multipart_file_not_utf8_400(server):
    """A file part that is not UTF-8 is a malformed request (400), not a
    conversion-level validation failure (422)."""
    status, _mime, data = _post_multipart(server, "/csvw2rdf", [
        MULTIPART_OPTIONS,
        ("meta.json", "meta.json", json.dumps(DESCRIPTOR).encode()),
        ("people.csv", "people.csv", CSV.encode("utf-16")),
    ])
    assert status == 400, data
    assert b"people.csv" in data


def test_rdf2csvw_zip(server):
    nt = "\n".join(
        f'<{s}> <{p}> "{o}"' + (f"^^<{d}>" if d else "") + " ."
        for s, p, o, _k, d, _l, _g in sorted(EXPECTED))
    status, mime, data = _post_json(
        server, "/rdf2csvw",
        {"input": "input.nt", "descriptor": "meta.json"},
        {"input.nt": nt + "\n", "meta.json": json.dumps(DESCRIPTOR)})
    assert status == 200
    assert mime == "application/zip"
    z = zipfile.ZipFile(io.BytesIO(data))
    assert set(z.namelist()) == {"people.csv", "descriptor.json"}
    rows = z.read("people.csv").decode().strip().splitlines()
    assert rows[0].split(",") == ["id", "name"]
    assert sorted(rows[1:]) == ["1,Alice", "2,Bob"]


def test_validate_ndjson(server):
    bad_csv = "id,name\n,Alice\n"
    status, mime, data = _post_json(
        server, "/validate", {"input": "meta.json"},
        {"meta.json": json.dumps(DESCRIPTOR), "people.csv": bad_csv})
    assert status == 200
    assert mime == "application/x-ndjson"
    issues = [json.loads(line) for line in data.decode().splitlines()
              if line.strip()]
    assert any(i["type"] == "error" and "required" in i["message"]
               for i in issues)


def test_validate_clean_is_empty_stream(server):
    status, mime, data = _post_json(
        server, "/validate", {"input": "meta.json"},
        {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV})
    assert status == 200
    assert data.decode().strip() == ""


def test_validate_reports_each_descriptor_fault_once(server):
    bad = {"@context": "http://www.w3.org/ns/csvw",
           "null": 7,
           "tables": [{
               "url": "people.csv", "lang": "??bad??",
               "dialect": {"@type": "Table", "encoding": "klingon",
                           "frobnicate": True},
               "tableSchema": {"textDirection": "up", "columns": [
                   {"name": "id", "ordered": "yes", "aboutUrl": 42}]}}]}
    status, _mime, data = _post_json(
        server, "/validate", {"input": "meta.json"},
        {"meta.json": json.dumps(bad)})
    assert status == 200
    issues = [json.loads(line) for line in data.decode().splitlines()
              if line.strip()]
    col = "$.tables[0].tableSchema.columns[0]"
    assert sorted((i["type"], i["location"]) for i in issues) == sorted([
        ("warning", "$.null"),
        ("warning", "$.tables[0].lang"),
        ("error", "$.tables[0].dialect.@type"),
        ("warning", "$.tables[0].dialect.frobnicate"),
        ("warning", "$.tables[0].dialect.encoding"),
        ("warning", "$.tables[0].tableSchema.textDirection"),
        ("warning", f"{col}.ordered"),
        ("warning", f"{col}.aboutUrl"),
    ])


def test_remote_input_is_a_seam(server):
    status, _mime, data = _post_json(
        server, "/csvw2rdf", {"input": "https://example.com/meta.json"})
    assert status == 422
    assert b"network" in data


def test_unknown_route_404(server):
    status, _mime, _data = _post_json(server, "/nope", {"input": "x"})
    assert status == 404


def test_bad_body_400(server):
    status, _m, _d = _post(server, "/csvw2rdf", b"[]", "application/json")
    assert status == 400


#: JSON bodies whose maps are not objects of strings, or whose string
#: options are not strings; each once answered 500 or 422 from inside a
#: handler
MALFORMED_BODIES = {
    **{f"{name}-not-string": {
        "options": {"input": "meta.json", name: value},
        "files": {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV}}
       for name, value in (("descriptor", 5), ("baseIri", 5),
                           ("format", ["ntriples"]))},
    "file-text-not-string": {"options": {"input": "meta.json"},
                             "files": {"meta.json": 5}},
    "files-not-object": {"options": {"input": "meta.json"},
                         "files": ["meta.json"]},
    "pathOverrides-not-object": {
        "options": {"input": "meta.json", "pathOverrides": ["a"]},
        "files": {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV}},
    "turtle-prefixes-not-strings": {
        "options": {"input": "meta.json", "turtle": {"prefixes": {"ex": 1}}},
        "files": {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV}},
    # names with no file name in them once failed after mkdtemp: a 500
    # that left the request's workdir behind
    **{f"upload-name-{what}": {
        "options": {"input": "meta.json"},
        "files": {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV,
                  name: CSV}}
       for what, name in (("empty", ""), ("dot", "."), ("dotdot", ".."),
                          ("dir", "a/"), ("nul", "a\0b"))},
}


def _workdirs() -> set[str]:
    import glob
    import os
    import tempfile
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "csvw_ws_*")))


@pytest.mark.parametrize("shape", list(MALFORMED_BODIES))
def test_malformed_body_shape_400(server, shape):
    before = _workdirs()
    status, _m, data = _post(server, "/csvw2rdf",
                             json.dumps(MALFORMED_BODIES[shape]).encode(),
                             "application/json")
    assert status == 400, data
    assert _workdirs() <= before  # rejected before any workdir is made


def test_rdf2csvw_server_local_descriptor(server, tmp_path):
    """options.descriptor naming a server-local file must drive the
    conversion (it was silently ignored unless uploaded — inference ran
    instead, a wrong-but-200 response)."""
    nt = "\n".join(
        f'<{s}> <{p}> "{o}"' + (f"^^<{d}>" if d else "") + " ."
        for s, p, o, _k, d, _l, _g in sorted(EXPECTED))
    desc_path = tmp_path / "meta.json"
    desc_path.write_text(json.dumps(DESCRIPTOR), encoding="utf-8")
    status, mime, data = _post_json(
        server, "/rdf2csvw",
        {"input": "input.nt", "descriptor": str(desc_path)},
        {"input.nt": nt + "\n"})
    assert status == 200
    z = zipfile.ZipFile(io.BytesIO(data))
    # descriptor-driven output: the table is people.csv with the
    # descriptor's column titles (inference would name it from the graph)
    assert "people.csv" in z.namelist()
    rows = z.read("people.csv").decode().strip().splitlines()
    assert rows[0].split(",") == ["id", "name"]


def test_rdf2csvw_missing_descriptor_422(server):
    status, _mime, _data = _post_json(
        server, "/rdf2csvw",
        {"input": "input.nt", "descriptor": "/nonexistent/meta.json"},
        {"input.nt": '<http://s> <http://p> "v" .\n'})
    assert status == 422


def test_request_workdirs_are_cleaned_up(server):
    before = _workdirs()
    status, _m, _d = _post_json(
        server, "/validate", {"input": "meta.json"},
        {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV})
    assert status == 200
    assert _workdirs() <= before  # per-request tempdir removed


def _post_length(addr, length: str):
    """POST /csvw2rdf announcing ``length`` as Content-Length, sending no
    body; a server that waits for the body times out the client."""
    conn = http.client.HTTPConnection(*addr, timeout=30)
    conn.putrequest("POST", "/csvw2rdf")
    conn.putheader("Content-Type", "application/json")
    conn.putheader("Content-Length", length)
    conn.endheaders()
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    return resp.status, data


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_malformed_content_length_400(server, length):
    status, data = _post_length(server, length)
    assert status == 400
    assert b"Content-Length" in data


def test_oversized_body_413(server):
    status, _data = _post_length(server, str(MAX_BODY_BYTES + 1))
    assert status == 413


def test_server_error_is_logged_with_its_cause(server, monkeypatch, caplog):
    def boom(argv):
        raise RuntimeError("boom")
    monkeypatch.setattr(cli, "main", boom)
    with caplog.at_level(logging.ERROR, logger="csvw_rdf_convertor_spark.ws"):
        status, _mime, data = _post_json(
            server, "/csvw2rdf", {"input": "meta.json"},
            {"meta.json": json.dumps(DESCRIPTOR), "people.csv": CSV})
    assert status == 500
    assert json.loads(data) == {"error": "Internal Server Error",
                                "detail": "boom"}
    logged = [r for r in caplog.records if r.exc_info]
    assert logged and "/csvw2rdf" in logged[0].getMessage()
    assert isinstance(logged[0].exc_info[1], RuntimeError)


def test_concurrent_csvw2rdf_equals_serial(server):
    """Request threads share one SparkSession and the plan builder: four
    distinct tables converted at once must each give exactly the triples
    they give alone."""
    bodies = [
        ({"input": "meta.json", "format": "ntriples", "minimal": True},
         {"meta.json": json.dumps(DESCRIPTOR),
          "people.csv": "id,name\n" + "".join(
              f"{k * 10 + i},p{k}-{i}\n" for i in range(1 + k))})
        for k in range(4)]

    def lines(opts_files):
        status, _mime, data = _post_json(server, "/csvw2rdf", *opts_files)
        assert status == 200
        return sorted(data.decode().splitlines())

    serial = [lines(b) for b in bodies]
    with ThreadPoolExecutor(max_workers=len(bodies)) as pool:
        concurrent = [f.result(timeout=300)
                      for f in [pool.submit(lines, b) for b in bodies]]
    assert concurrent == serial
    assert len({tuple(x) for x in serial}) == len(bodies)
