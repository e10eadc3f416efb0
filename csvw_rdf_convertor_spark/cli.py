"""Command-line interface — parity twin of the reference's CLI package.

Reference surface (cli/src/lib/cli.ts + commands/):

- ``csvw2rdf`` / ``c2r``  (commands/csvw2rdf/command.ts:34-116, handler.ts)
- ``rdf2csvw`` / ``r2c``  (commands/rdf2csvw/command.ts:16-78, handler.ts)
- ``validate``            (commands/validate/command.ts:10-29, handler.ts)
- common options ``--input --baseIri --pathOverrides --logLevel``
  (common.ts:11-52)

argparse instead of yargs. The reference's ``--interactive`` prompt flow
(@inquirer) is a terminal-UX layer over the same options — every effective
setting it produces is reachable via flags here, so it is out of engine
scope. Network-dependent options stay loud seams (``--turtle.prefixLookup``
queries prefix.cc — loaders/prefix-lookup.ts:17-100).

Runs wherever a SparkSession runs::

    python -m csvw_rdf_convertor_spark.cli csvw2rdf -i meta.json -o out.ttl
    spark-submit --py-files csvw_rdf_convertor_spark.zip run_cli.py ...

Scale notes: the line-oriented formats (nt/nq, and turtle/trig in the
default ``--turtle.streaming`` mode) serialize DISTRIBUTED and stream to the
output file one partition at a time (``toLocalIterator`` — never a whole-
graph ``collect``); ``--distributed-output DIR`` skips the driver entirely
and writes Spark text/csv part files (the 100 TB path). The pretty writers
(``--no-turtle.streaming``, jsonld) buffer the graph driver-side by design,
exactly like the reference's non-streaming serializers.
"""

from __future__ import annotations

import argparse
import csv as _csv
import io
import json
import os
import re
import sys

#: RDFa 1.1 Core Initial Context (https://www.w3.org/2011/rdfa-context/
#: rdfa-1.1) — public W3C content; the reference embeds the same table as
#: ``commonPrefixes`` (core/src/lib/utils/prefix.ts:13-62) and uses it as the
#: default Turtle/TriG prefix set (csvw2rdf/command.ts:74-75).
COMMON_PREFIXES: dict[str, str] = {
    "as": "https://www.w3.org/ns/activitystreams#",
    "cc": "http://creativecommons.org/ns#",
    "csvw": "http://www.w3.org/ns/csvw#",
    "dc": "http://purl.org/dc/terms/",
    "dc11": "http://purl.org/dc/elements/1.1/",
    "dcat": "http://www.w3.org/ns/dcat#",
    "dcterms": "http://purl.org/dc/terms/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "grddl": "http://www.w3.org/2003/g/data-view#",
    "ldp": "http://www.w3.org/ns/ldp#",
    "oa": "http://www.w3.org/ns/oa#",
    "org": "http://www.w3.org/ns/org#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "prov": "http://www.w3.org/ns/prov#",
    "qb": "http://purl.org/linked-data/cube#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfa": "http://www.w3.org/ns/rdfa#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "schema": "http://schema.org/",
    "sd": "http://www.w3.org/ns/sparql-service-description#",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "skosxl": "http://www.w3.org/2008/05/skos-xl#",
    "sosa": "http://www.w3.org/ns/sosa/",
    "ssn": "http://www.w3.org/ns/ssn/",
    "time": "http://www.w3.org/2006/time#",
    "vcard": "http://www.w3.org/2006/vcard/ns#",
    "void": "http://rdfs.org/ns/void#",
    "wdr": "http://www.w3.org/2007/05/powder#",
    "xhv": "http://www.w3.org/1999/xhtml/vocab#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}

_URL_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


#: the session ``_session`` last tuned; the web service's requests share it
_tuned = None


def _session():
    """Active session, or a local one, tuned the first time it is seen (same
    runtime confs as ``__spark_entry__._tune``: codegen method splitting so
    the wide cell pipeline stays compiled, pinned UTC for timestamp lexical
    forms). Tuning is 15 py4j commands and resets the process-wide log
    level, so a web-service request does not repeat it."""
    global _tuned
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession() or (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", "local[*]"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .getOrCreate())
    if spark is not _tuned:
        spark.conf.set("spark.sql.codegen.methodSplitThreshold", "256")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.sparkContext.setLogLevel("ERROR")
        _tuned = spark
    return spark


def infer_format(output: str | None) -> str | None:
    """Infer RDF serialization from the output file extension
    (csvw2rdf/command.ts:122-143)."""
    if not output:
        return None
    ext = output.rsplit(".", 1)[-1].lower()
    return {"json": "jsonld", "jsonld": "jsonld", "nq": "nquads",
            "nt": "ntriples", "xml": "rdfxml", "rdf": "rdfxml",
            "trig": "trig", "ttl": "turtle"}.get(ext)


def _pairs(values: list[str] | None, what: str) -> list[tuple[str, str]]:
    """yargs-style pair coercion (common.ts:37-46): flat ``k v k v ...``."""
    values = values or []
    if len(values) % 2:
        raise SystemExit(f"Missing value for {what} \"{values[-1]}\"")
    return list(zip(values[0::2], values[1::2]))


def _prefix_pairs(values: list[str] | None) -> dict[str, str]:
    """``--turtle.prefix pref1: iri1 ...`` (csvw2rdf/command.ts:76-85:
    the prefix token's trailing ':' is stripped)."""
    return {p[:-1] if p.endswith(":") else p: iri
            for p, iri in _pairs(values, "turtle.prefix")}


def _overrides(args) -> "PathOverrides":
    from .sources.resolve import PathOverrides
    return PathOverrides(dict(_pairs(args.pathOverrides, "path override")))


def _resolve_local(url: str, base_dir: str) -> str:
    """Resolve a table/descriptor url against the descriptor directory
    (file-system flavor of the reference's URL resolution)."""
    if os.path.isabs(url) or _URL_RE.match(url):
        return url
    return os.path.join(base_dir, url)


def _read_descriptor_text(inp: str | None) -> str:
    """Descriptor JSON from ``--input`` or stdin (csvw2rdf/handler.ts:46-48)."""
    if inp:
        with open(inp, encoding="utf-8") as f:
            return f.read()
    return sys.stdin.read()


def _open_output(output: str | None):
    return open(output, "w", encoding="utf-8") if output else sys.stdout


def _stream_lines(lines_df, out, header: list[str] | None = None) -> int:
    """Stream a DataFrame of serialized statement lines to a file handle,
    one partition at a time — bounded driver memory at any graph size."""
    n = 0
    for h in header or []:
        out.write(h + "\n")
    for row in lines_df.toLocalIterator():
        out.write(row[0] + "\n")
        n += 1
    return n


# --------------------------------------------------------------------------
# csvw2rdf
# --------------------------------------------------------------------------

def _file_numbered(df, table):
    """``df`` with the reference's rowNum (convertor.ts:360-370), the
    sequential file order, as ``ROW``, numbered by the scan itself at any
    split count; unchanged when the table numbers its rows by an
    ``order_by`` column (multi-file datasets set one, spec.with_order)."""
    from .plans.csvw2rdf import ROW
    from .sources.csv_source import file_order_row
    if table.order_by:
        return df
    return df.withColumn(ROW, file_order_row(df))


def cmd_csvw2rdf(args) -> int:
    from .plans.csvw2rdf import (apply_template_iris, group_to_triples,
                                 needs_row_numbers)
    from .sources.csv_source import read_csv
    from .sources.parse import serialize_rdf
    from .sources.resolve import FetchCache, resolve_with_header

    fmt = args.format or infer_format(args.output) or "turtle"
    if args.turtle_prefix_lookup:
        raise NotImplementedError(
            "--turtle.prefixLookup queries the prefix.cc web service "
            "(loaders/prefix-lookup.ts:17-100) — network is a production "
            "seam; pass --turtle.prefix pairs instead")

    spark = _session()
    cache = FetchCache(_overrides(args))

    if args.input and re.search(r"\.csv([?#].*)?$", args.input):
        # csvUrlToRdf path (handler.ts:40-44): locate metadata next to the
        # CSV (sidecar → well-known → header-derived empty schema)
        group = resolve_with_header(args.input, cache=cache,
                                    base=args.baseIri or "")
        base_dir = os.path.dirname(os.path.abspath(args.input))
    else:
        from .descriptor_norm import normalize_descriptor
        from .spec import parse_descriptor
        raw = json.loads(_read_descriptor_text(args.input))
        base_dir = (os.path.dirname(os.path.abspath(args.input))
                    if args.input else os.getcwd())
        base = args.baseIri or base_dir
        norm = normalize_descriptor(raw, base=base, loader=cache.load_json,
                                    url=args.input or "")
        group = parse_descriptor(norm, base)

    minimal = bool(args.minimal)
    dfs = {}
    for t in group.tables:
        if t.suppressOutput:
            continue
        url = cache.overrides.apply(t.url)
        df = read_csv(spark, _resolve_local(url, base_dir), t)
        # numbered only when the conversion reads row numbers: on a scan
        # of several splits, numbering costs a count job
        dfs[t.url] = (_file_numbered(df, t) if needs_row_numbers(t, minimal)
                      else df)
    triples = group_to_triples(dfs, group, minimal=minimal)
    if args.templateIris:  # reference CLI default: true (command.ts:55-59)
        triples = apply_template_iris(triples)

    prefixes = dict(COMMON_PREFIXES)
    prefixes.update(_prefix_pairs(args.turtle_prefix))

    if args.distributed_output:
        return _write_distributed(triples, fmt, args.distributed_output,
                                  prefixes, base=args.turtle_base or "")
    out = _open_output(args.output)
    try:
        if fmt in ("nquads", "ntriples"):
            _stream_lines(serialize_rdf(
                triples, "nq" if fmt == "nquads" else "nt"), out)
        elif fmt in ("turtle", "trig") and args.turtle_streaming:
            # reference default: N3 StreamWriter (defaultOptions,
            # command.ts:219-223) — line-per-statement, distributed here
            from .sources.turtle import to_turtle_lines
            header, lines = to_turtle_lines(
                triples, prefixes, with_graphs=(fmt == "trig"))
            if args.turtle_base:
                header = header + [f"@base <{args.turtle_base}> ."]
            _stream_lines(lines, out, header)
        else:
            # --turtle.base reaches the buffered writers too (they emit an
            # @base directive / xml:base), not just the streaming branch
            doc = serialize_rdf(
                triples, {"turtle": "ttl", "trig": "trig", "jsonld": "jsonld",
                          "rdfxml": "rdfxml"}[fmt],
                prefixes if fmt not in ("jsonld", "rdfxml") else
                (_prefix_pairs(args.turtle_prefix) or None),
                base=args.turtle_base or "")
            out.write(doc if doc.endswith("\n") else doc + "\n")
    finally:
        if out is not sys.stdout:
            out.close()
    return 0


def _write_distributed(triples, fmt: str, path: str,
                       prefixes: dict[str, str], base: str = "") -> int:
    """The 100 TB output path: Spark text part files, no driver funnel."""
    from .sources.local import local_frame
    from .sources.parse import serialize_rdf
    from .sources.turtle import to_turtle_lines
    if fmt in ("nquads", "ntriples"):
        serialize_rdf(triples, "nq" if fmt == "nquads" else "nt") \
            .write.mode("overwrite").text(path)
    elif fmt in ("turtle", "trig"):
        header, lines = to_turtle_lines(triples, prefixes,
                                        with_graphs=(fmt == "trig"))
        if base:  # --turtle.base applies to the distributed header too
            header = header + [f"@base <{base}> ."]
        local_frame(triples.sparkSession, [(h,) for h in header], "line string") \
            .coalesce(1).write.mode("overwrite").text(f"{path}/_prefixes")
        lines.write.mode("overwrite").text(f"{path}/statements")
    else:
        raise SystemExit(f"--distributed-output supports line formats, "
                         f"not {fmt!r} (pretty writers are whole-graph)")
    return 0


# --------------------------------------------------------------------------
# rdf2csvw
# --------------------------------------------------------------------------

def _write_single_csv(df, path: str, dialect=None) -> None:
    """One CSV file per table, streamed partition-at-a-time (the reference
    writes one file per table; for part-file output use
    ``--distributed-output``)."""
    from .spec import DialectSpec
    d = dialect or DialectSpec()
    with open(path, "w", encoding=d.codec, newline="") as f:
        kw = dict(delimiter=d.delimiter, quotechar=d.quoteChar or '"',
                  lineterminator=(d.lineTerminators[0]
                                  if d.lineTerminators else "\n"))
        if d.doubleQuote:
            w = _csv.writer(f, doublequote=True, **kw)
        else:
            w = _csv.writer(f, doublequote=False, escapechar="\\", **kw)
        if d.header_row_count > 0:
            w.writerow(df.columns)
        for row in df.toLocalIterator():
            w.writerow(["" if v is None else v for v in row])


def _inferred_descriptor(tables) -> dict:
    """Synthesize a CSVW descriptor for inferred tables — the analogue of
    the descriptor the reference's schema inferrer materializes and
    handler.ts:118-121 writes as ``descriptor.json``."""
    out = []
    for t in tables:
        cols = [{"name": p.name, "titles": p.name, "propertyUrl": p.pred}
                for p in t.patterns]
        entry = {"url": t.file,
                 "tableSchema": {"columns": [{"name": "subj",
                                              "titles": "subj"}] + cols}}
        if t.type_iri != "unknown_type":
            entry["rdfs:comment"] = f"rows typed {t.type_iri}"
        out.append(entry)
        for link in t.links:
            out.append({"url": link.file,
                        "tableSchema": {"columns": [
                            {"name": t.name, "titles": t.name},
                            {"name": link.column, "titles": link.column,
                             "propertyUrl": link.pred}]}})
    return {"@context": "http://www.w3.org/ns/csvw", "tables": out}


def cmd_rdf2csvw(args) -> int:
    from .sources.parse import read_rdf

    if not args.input:
        raise SystemExit(
            "rdf2csvw requires --input (the reference's stdin branch is its "
            "Node stream windowing mode — windowSize is obviated here by "
            "full-relation joins, SURVEY.md §2.4)")
    if args.windowSize is not None:
        print("note: --windowSize ignored — full-relation distributed joins "
              "subsume the reference's stream windowing (SURVEY.md §2.4)",
              file=sys.stderr)

    spark = _session()
    from .sources.resolve import FetchCache
    cache = FetchCache(_overrides(args))
    triples = read_rdf(spark, args.input, base=args.baseIri or "")
    outdir = args.outDir or os.getcwd()
    os.makedirs(outdir, exist_ok=True)

    if args.descriptor:
        from .descriptor_norm import normalize_descriptor
        from .plans.rdf2csvw import table_file_name
        from .plans.rdf2csvw_run import convert_parsed, table_output_name
        from .spec import parse_descriptor
        with open(args.descriptor, encoding="utf-8") as f:
            raw = json.load(f)
        # base here governs descriptor SEMANTICS (template IRI expansion —
        # it must match how the input graph's IRIs were minted, default
        # none, same as the conformance harness); referenced
        # tableSchema/dialect files still LOAD relative to the descriptor
        desc_dir = os.path.dirname(os.path.abspath(args.descriptor))

        def loader(url: str):
            return cache.load_json(_resolve_local(url, desc_dir))

        base = args.baseIri or ""
        # normalize+parse ONCE; the same group drives the conversion, the
        # dialect map, and the descriptor.json output (no second pass that
        # could diverge via loader side effects)
        norm = normalize_descriptor(raw, base=base, loader=loader)
        group = parse_descriptor(norm, base)
        tables = convert_parsed(triples, group)
        dialects = {table_output_name(t.url): t.dialect
                    for t in group.tables}
        descriptor_out = norm
        for name, df in tables.items():
            _write_single_csv(df, os.path.join(outdir, table_file_name(name)),
                              dialects.get(name))
    else:
        from .plans.rdf2csvw import infer_tables, reconstruct_tables
        inferred = infer_tables(triples,
                                use_vocab_metadata=args.useVocabMetadata)
        tables = reconstruct_tables(triples, inferred)
        descriptor_out = _inferred_descriptor(inferred)
        files = {o.name: o.file for t in inferred for o in (t, *t.links)}
        for name, df in tables.items():
            _write_single_csv(df, os.path.join(outdir, files[name]))

    with open(os.path.join(outdir, "descriptor.json"), "w",
              encoding="utf-8") as f:
        json.dump(descriptor_out, f, indent=2, ensure_ascii=False)
        f.write("\n")
    return 0


# --------------------------------------------------------------------------
# validate
# --------------------------------------------------------------------------

def validation_issues(inp: str | None, base_iri: str | None,
                      overrides) -> "list":
    """Descriptor + data validation core (validate/handler.ts:21-64):
    property-value issues from normalization (one walk), spec-level issues
    from the parsed group, then distributed row-level checks (required
    cells) when the CSVs resolve. Shared by the CLI command and the web
    service (ws.py)."""
    from .descriptor_norm import normalize_descriptor
    from .spec import parse_descriptor
    from .validation import Issue, validate_group

    from .sources.resolve import FetchCache, locate_metadata
    cache = FetchCache(overrides)

    if inp and re.search(r"\.csv([?#].*)?$", inp):
        meta = locate_metadata(inp, cache)
        if meta is None:
            raw: dict = {"url": inp, "tableSchema": {"columns": []}}
            base_dir = os.path.dirname(os.path.abspath(inp))
        else:
            with open(meta, encoding="utf-8") as f:
                raw = json.load(f)
            base_dir = os.path.dirname(os.path.abspath(meta))
    else:
        raw = json.loads(_read_descriptor_text(inp))
        base_dir = (os.path.dirname(os.path.abspath(inp))
                    if inp else os.getcwd())

    base = base_iri or base_dir
    issues: list[Issue] = []
    norm = normalize_descriptor(raw, base=base, loader=cache.load_json,
                                issues=issues, url=inp or "")
    group = None
    try:
        group = parse_descriptor(norm, base)
    except (ValueError, KeyError) as exc:  # hard spec errors raise in parse_*
        issues.append(Issue("error", "", "$", str(exc)))
    if group is not None:
        issues.extend(validate_group(group))
        # the required-cell check runs distributed, for each table that
        # has a required column and whose CSV resolves
        from .plans.csvw2rdf import issues as data_issues
        from .plans.csvw2rdf import required_columns
        from .sources.csv_source import read_csv
        spark = None
        for t in group.tables:
            path = _resolve_local(cache.overrides.apply(t.url), base_dir)
            if not (required_columns(t) and os.path.exists(path)):
                continue
            spark = spark or _session()
            # issues are located by row number, as csvw2rdf numbers rows
            df = _file_numbered(read_csv(spark, path, t), t)
            for r in data_issues(df, t).collect():
                issues.append(Issue("error", r.table, f"row {r.row}",
                                    f"{r.column}: {r.message}"))
    return issues


def cmd_validate(args) -> int:
    issues = validation_issues(args.input, args.baseIri, _overrides(args))
    for i in issues:
        stream = sys.stderr if i.level == "error" else sys.stdout
        where = " ".join(x for x in (i.table, i.location) if x)
        print(f"{i.level}: {where + ': ' if where else ''}{i.message}",
              file=stream)
    if issues:
        print(f"Validation failed with {len(issues)} issues found.",
              file=sys.stderr)
        return 1 if any(i.level == "error" for i in issues) else 0
    print("Validation succeeded with no issues found.")
    return 0


# --------------------------------------------------------------------------
# parser
# --------------------------------------------------------------------------

def _common(p: argparse.ArgumentParser) -> None:
    p.add_argument("-i", "--input", help="Input file or URL "
                   "(default: read descriptor JSON from stdin)")
    p.add_argument("--baseIri", help="Base IRI for loading resources")
    p.add_argument("--pathOverrides", nargs="*", metavar="P",
                   help="Path overrides: path1 value1 path2 value2 ...")
    p.add_argument("--logLevel", choices=("error", "warn", "debug"),
                   default="warn")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="csvw-rdf-convertor",
        description="CSVW ⇄ RDF convertor (PySpark engine)")
    sub = ap.add_subparsers(dest="command", required=True)

    c2r = sub.add_parser("csvw2rdf", aliases=["c2r"],
                         help="Convert CSVW to RDF")
    _common(c2r)
    c2r.add_argument("-o", "--output",
                     help="Output file (default: stdout)")
    c2r.add_argument("--format", choices=("nquads", "ntriples", "turtle",
                                          "trig", "jsonld", "rdfxml"),
                     help="Output RDF serialization (default: inferred from "
                          "the output extension, else turtle). rdfxml is "
                          "beyond the reference CLI, whose N3 writer "
                          "silently emits Turtle for .rdf outputs")
    c2r.add_argument("--minimal", action="store_true",
                     help="Use minimal conversion mode")
    c2r.add_argument("--templateIris", action=argparse.BooleanOptionalAction,
                     default=True,
                     help="Use template IRIs instead of percent-encoded URIs")
    c2r.add_argument("--turtle.base", dest="turtle_base",
                     help="Base IRI for turtle/TriG output")
    c2r.add_argument("--turtle.prefix", dest="turtle_prefix", nargs="*",
                     metavar="P",
                     help="Prefixes: pref1: iri1 pref2: iri2 ... "
                          "(default: RDFa Core Initial Context)")
    c2r.add_argument("--turtle.prefixLookup", dest="turtle_prefix_lookup",
                     action="store_true",
                     help="(network seam — raises; pass --turtle.prefix)")
    c2r.add_argument("--turtle.streaming", dest="turtle_streaming",
                     action=argparse.BooleanOptionalAction, default=True,
                     help="Stream turtle/TriG line-per-statement (default); "
                          "--no-turtle.streaming buffers and pretty-prints")
    c2r.add_argument("--distributed-output", metavar="DIR",
                     help="Write Spark part files to DIR instead of one "
                          "driver-streamed file (the at-scale path)")
    c2r.set_defaults(func=cmd_csvw2rdf)

    r2c = sub.add_parser("rdf2csvw", aliases=["r2c"],
                         help="Convert RDF to CSVW")
    _common(r2c)
    r2c.add_argument("-o", "--outDir", help="Output directory (default: cwd)")
    r2c.add_argument("-d", "--descriptor",
                     help="CSVW descriptor to drive the conversion "
                          "(default: infer the schema from the data)")
    r2c.add_argument("--windowSize", type=int,
                     help="(ignored — stream windowing is obviated by "
                          "full-relation joins, SURVEY.md §2.4)")
    r2c.add_argument("--useVocabMetadata",
                     action=argparse.BooleanOptionalAction, default=True,
                     help="Use vocabulary labels (rdfs:label/skos:prefLabel) "
                          "to name inferred tables")
    r2c.set_defaults(func=cmd_rdf2csvw)

    val = sub.add_parser("validate", help="Validate CSVW")
    _common(val)
    val.set_defaults(func=cmd_validate)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
