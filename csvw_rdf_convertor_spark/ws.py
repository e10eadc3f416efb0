"""Web service — parity twin of the reference's ``ws`` package.

Reference surface (ws/openapi.yaml + ws/src/app/routes/*.ts):

- ``POST /csvw2rdf``  — options {input, pathOverrides, minimal,
  templateIris, baseIri, format, turtle.prefixes} + uploaded files;
  responds with the serialized RDF document under the format's MIME type
  (routes/csvw2rdf.ts:132-183; 422 on validation errors, 500 otherwise).
- ``POST /rdf2csvw``  — options {input, pathOverrides, useVocabMetadata,
  baseIri}; responds ``application/zip`` of the CSV tables +
  ``descriptor.json`` (openapi.yaml /rdf2csvw).
- ``POST /validate``  — options {input, pathOverrides, baseIri}; responds
  ``application/x-ndjson``, one JSON issue object per line
  (routes/validate.ts, openapi.yaml /validate).

stdlib ``http.server`` instead of Fastify; conversions run through the same
code paths as the CLI (``cli.main`` / ``cli.validation_issues``), so every
option behaves identically across surfaces. Two request encodings:

- ``application/json``: ``{"options": {...}, "files": {"name": "text"}}``
  (inline file map — the test-friendly encoding);
- ``multipart/form-data``: an ``options`` JSON field plus file parts, the
  reference's own encoding (parsed with the stdlib email parser).

``input`` names an uploaded file or a server-local path; remote http(s)
inputs raise — outbound network stays the production seam, exactly like
``sources/resolve.FetchCache``. The server binds localhost by design: it
is a thin driver-side front door to a SparkSession, not a data-plane
component (at 100 TB the data never moves through HTTP — jobs are
submitted via spark-submit, jobs/kg_construct.py).
"""

from __future__ import annotations

import io
import json
import logging
import os
import re
import shutil
import tempfile
import zipfile
from email.parser import BytesParser
from email.policy import HTTP as _HTTP_POLICY
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from . import cli

log = logging.getLogger(__name__)

#: largest request body read; a longer ``Content-Length`` answers 413
#: before any of the body is read
MAX_BODY_BYTES = 64 << 20

#: MIME type per serialization (loaders/rdf-serialization.ts mimeTypes)
MIME_TYPES = {
    "jsonld": "application/ld+json",
    "nquads": "application/n-quads",
    "ntriples": "application/n-triples",
    "rdfxml": "application/rdf+xml",
    "trig": "application/trig",
    "turtle": "application/turtle",
}

_EXT = {"jsonld": "jsonld", "nquads": "nq", "ntriples": "nt",
        "rdfxml": "rdf", "trig": "trig", "turtle": "ttl"}


class RequestError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


def _content_length(value: str | None) -> int:
    """Validated ``Content-Length`` (absent → 0): ASCII digits only, so a
    negative length, which would make ``rfile.read`` block until the client
    hangs up, answers 400 like any other malformed one."""
    value = (value or "0").strip()
    if not (value.isascii() and value.isdigit()):
        raise RequestError(400, f"invalid Content-Length {value!r}")
    length = int(value)
    if length > MAX_BODY_BYTES:
        raise RequestError(413, f"body of {length} bytes exceeds the "
                                f"{MAX_BODY_BYTES}-byte limit")
    return length


def _json(data: bytes, what: str):
    try:
        return json.loads(data.decode("utf-8"))
    except ValueError as exc:
        raise RequestError(400, f"invalid JSON {what}: {exc}") from exc


def _parse_body(content_type: str, body: bytes) -> tuple[dict, dict]:
    """→ (options, files{name: text})."""
    if content_type.startswith("application/json"):
        doc = _json(body, "body")
        opts = doc.get("options") if isinstance(doc, dict) else None
        if not isinstance(opts, dict):
            raise RequestError(400, "body must carry an 'options' object")
        return _checked(opts, doc.get("files") or {})
    if content_type.startswith("multipart/form-data"):
        msg = BytesParser(policy=_HTTP_POLICY).parsebytes(
            b"Content-Type: " + content_type.encode("latin-1")
            + b"\r\nMIME-Version: 1.0\r\n\r\n" + body)
        opts, files = None, {}
        for part in msg.iter_parts():
            name = part.get_param("name", header="content-disposition")
            payload = part.get_payload(decode=True) or b""
            if name == "options":
                opts = _json(payload, "options part")
            elif name:
                name = part.get_filename() or name
                try:
                    files[name] = payload.decode("utf-8")
                except UnicodeDecodeError as exc:
                    raise RequestError(
                        400, f"file part {name!r} is not UTF-8: {exc}") from exc
        if not isinstance(opts, dict):
            raise RequestError(400, "multipart body missing 'options' part")
        return _checked(opts, files)
    raise RequestError(415, f"unsupported content type {content_type!r}")


def _checked(opts: dict, files) -> tuple[dict, dict]:
    """(options, files) once every option the handlers read as a string is
    one and every map an object of strings: a body of another shape answers
    400 here, not a 500 from deep inside a handler."""
    for name in ("descriptor", "baseIri", "format"):
        if opts.get(name) is not None and not isinstance(opts[name], str):
            raise RequestError(400, f"options.{name} must be a string")
    turtle = opts.get("turtle") or {}
    if not isinstance(turtle, dict):
        raise RequestError(400, "options.turtle must be an object")
    for value, what in ((files, "'files'"),
                        (opts.get("pathOverrides") or {},
                         "options.pathOverrides"),
                        (turtle.get("prefixes") or {},
                         "options.turtle.prefixes")):
        if not (isinstance(value, dict)
                and all(isinstance(v, str) for v in value.values())):
            raise RequestError(400, f"{what} must be an object of strings")
    # each upload is written to workdir/basename(name): a name with no file
    # name in it would fail that write after mkdtemp, a 500 that leaks the
    # workdir
    for name in files:
        if os.path.basename(name) in ("", ".", "..") or "\0" in name:
            raise RequestError(400, f"upload name {name!r} is not a file name")
    return opts, files


def _check_local(files: dict, val: str, what: str) -> None:
    """Reject a path option that is neither an uploaded file nor an
    existing server-local file (remote URLs are the network seam)."""
    if val in files or os.path.basename(val) in files:
        return
    if re.match(r"^https?://", val):
        raise RequestError(
            422, f"remote {what} requires outbound network — a production "
                 "seam (sources/resolve.FetchCache); upload the file or "
                 "give a server-local path")
    if not os.path.exists(val):
        raise RequestError(422, f"{what} {val!r} is neither an uploaded "
                                "file nor an existing server path")


def _resolve_path(workdir: str, files: dict, val: str) -> str:
    """Uploaded name → its materialized tempdir path; else the (already
    validated) server-local path unchanged."""
    if val in files or os.path.basename(val) in files:
        return os.path.join(workdir, os.path.basename(val))
    return val


def _materialize(options: dict, files: dict) -> tuple[str, str]:
    """Write uploaded files into a tempdir; return (workdir, input path).
    Local server paths pass through; remote URLs raise (network seam).
    All request validation happens BEFORE mkdtemp so rejected requests
    never leak a workdir; callers remove the workdir in a finally."""
    inp = options.get("input")
    if not isinstance(inp, str) or not inp:
        raise RequestError(400, "options.input is required")
    _check_local(files, inp, "input")
    if options.get("descriptor"):
        _check_local(files, options["descriptor"], "descriptor")
    workdir = tempfile.mkdtemp(prefix="csvw_ws_")
    for name, text in files.items():
        safe = os.path.basename(name)
        with open(os.path.join(workdir, safe), "w", encoding="utf-8") as f:
            f.write(text)
    return workdir, _resolve_path(workdir, files, inp)


def _override_argv(options: dict) -> list[str]:
    out = []
    po = options.get("pathOverrides") or {}
    if po:
        out.append("--pathOverrides")
        for k, v in po.items():
            out += [k, v]
    if options.get("baseIri"):
        out += ["--baseIri", options["baseIri"]]
    return out


def handle_csvw2rdf(options: dict, files: dict) -> tuple[str, bytes]:
    """→ (mime type, document bytes). Runs the CLI's conversion path."""
    workdir, inp = _materialize(options, files)
    try:
        fmt = options.get("format") or "turtle"
        if fmt not in MIME_TYPES:
            raise RequestError(400, f"unknown format {fmt!r}")
        out = os.path.join(workdir, "out." + _EXT[fmt])
        argv = ["csvw2rdf", "-i", inp, "-o", out, "--format", fmt]
        if options.get("minimal"):
            argv.append("--minimal")
        if options.get("templateIris") is False:  # ws default: true
            argv.append("--no-templateIris")
        prefixes = (options.get("turtle") or {}).get("prefixes") or {}
        if prefixes:
            argv.append("--turtle.prefix")
            for p, iri in prefixes.items():
                argv += [p + ":", iri]
        argv += _override_argv(options)
        cli.main(argv)
        with open(out, "rb") as f:
            return MIME_TYPES[fmt], f.read()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def handle_rdf2csvw(options: dict, files: dict) -> tuple[str, bytes]:
    """→ ('application/zip', archive of CSV tables + descriptor.json)."""
    workdir, inp = _materialize(options, files)
    try:
        outdir = os.path.join(workdir, "out")
        argv = ["rdf2csvw", "-i", inp, "-o", outdir]
        if options.get("useVocabMetadata") is False:
            argv.append("--no-useVocabMetadata")
        if options.get("descriptor"):
            # uploaded file or server-local path — same contract as input
            # (_materialize already validated it; never silently ignored)
            argv += ["-d", _resolve_path(workdir, files,
                                         options["descriptor"])]
        argv += _override_argv(options)
        cli.main(argv)
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            for name in sorted(os.listdir(outdir)):
                z.write(os.path.join(outdir, name), name)
        return "application/zip", buf.getvalue()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def handle_validate(options: dict, files: dict) -> tuple[str, bytes]:
    """→ ('application/x-ndjson', one JSON object per issue per line)."""
    from .sources.resolve import PathOverrides
    workdir, inp = _materialize(options, files)
    try:
        issues = cli.validation_issues(
            inp, options.get("baseIri"),
            PathOverrides(dict(options.get("pathOverrides") or {})))
        lines = [json.dumps({"type": i.level, "table": i.table,
                             "location": i.location, "message": i.message},
                            ensure_ascii=False)
                 for i in issues]
        return ("application/x-ndjson",
                ("\n".join(lines) + "\n").encode("utf-8"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


ROUTES = {
    "/csvw2rdf": handle_csvw2rdf,
    "/rdf2csvw": handle_rdf2csvw,
    "/validate": handle_validate,
}


class Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet by default; -v via server attr
        if getattr(self.server, "verbose", False):
            super().log_message(*a)

    def do_POST(self):  # noqa: N802 (http.server API)
        path = self.path.split("?", 1)[0]
        route = ROUTES.get(path)
        if route is None:
            return self._send(404, "application/json",
                              b'{"error": "not found"}')
        try:
            length = _content_length(self.headers.get("Content-Length"))
            body = self.rfile.read(length)
            options, files = _parse_body(
                self.headers.get("Content-Type", ""), body)
            mime, payload = route(options, files)
            self._send(200, mime, payload)
        except RequestError as exc:
            self._send(exc.status, "application/json",
                       json.dumps({"error": str(exc)}).encode("utf-8"))
        except SystemExit as exc:  # argparse rejection inside cli.main
            self._send(400, "application/json",
                       json.dumps({"error": str(exc)}).encode("utf-8"))
        except (ValueError, NotImplementedError) as exc:
            # conversion-level validation failure (route csvw2rdf.ts:166)
            self._send(422, "application/json",
                       json.dumps({"error": str(exc)}).encode("utf-8"))
        except Exception as exc:  # noqa: BLE001 — route csvw2rdf.ts:169
            log.exception("POST %s failed", path)
            self._send(500, "application/json",
                       json.dumps({"error": "Internal Server Error",
                                   "detail": str(exc)}).encode("utf-8"))

    def _send(self, status: int, mime: str, payload: bytes) -> None:
        self.send_response(status)
        self.send_header("Content-Type", mime)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)


def make_server(port: int = 0, host: str = "127.0.0.1",
                verbose: bool = False) -> ThreadingHTTPServer:
    srv = ThreadingHTTPServer((host, port), Handler)
    srv.verbose = verbose
    return srv


def main(argv: list[str] | None = None) -> int:
    import argparse
    ap = argparse.ArgumentParser(
        prog="csvw-rdf-convertor-ws",
        description="CSVW ⇄ RDF conversion web service (localhost)")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args(argv)
    srv = make_server(args.port, args.host, args.verbose)
    print(f"listening on http://{args.host}:{srv.server_address[1]} "
          f"(POST /csvw2rdf /rdf2csvw /validate)")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    import sys
    sys.exit(main())
