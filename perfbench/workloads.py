"""The benchmark workloads: inputs the benchmark generated go in, committed
output comes out.

Each workload generates its inputs from the seed (``generate``), runs one
timed operation (``op``) and checks that operation's output against counts
derived from the generator and, for recorded seeds, against an
order-independent digest of the output (``check``). ``traced`` runs
operations with spans around every call into the program's layers and each
layer's output forced (persist + count), so execution time lands on the
layer that produced it.
"""

from __future__ import annotations

import csv
import hashlib
import http.client
import io
import json
import os
import shutil
import sys
import threading
import time
import zipfile
from dataclasses import dataclass

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

#: full-scale input sizes; ``--scale`` multiplies them (self-tests run tiny)
SIZES = {
    "kg_transcripts": {"convs": 600},
    "ws_requests": {"bodies": 8, "rows": 200, "subjects": 200},
}


@dataclass
class OpResult:
    triples: int       # produced or consumed by the operation
    out_bytes: int     # bytes committed to the sink / returned to the client
    output: object     # what ``check`` inspects


class CheckFailed(Exception):
    pass


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))


def spark_digest(df) -> tuple[int, str]:
    """Order-independent digest of a DataFrame's rows → (rows, Σ xxhash64)."""
    from pyspark.sql import functions as F
    r = df.agg(F.count("*").alias("n"),
               F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")
               ).first()
    return r.n, str(r.h or 0)


def line_digest(lines) -> int:
    """Order-independent digest of byte lines (Σ blake2b mod 2^64)."""
    return sum(int.from_bytes(hashlib.blake2b(x, digest_size=8).digest(), "big")
               for x in lines) % (1 << 64)


def persist_count(df) -> int:
    """Force ``df`` into the cache with one job; its consumers then read it
    from there. → its rows."""
    return df.persist().count()


def forced(counts: dict | None = None, key: str = ""):
    """A force for :meth:`Tracer.patched`: caches the DataFrame (one job)
    and, given ``counts``, adds its rows to ``counts[key]``."""
    def force(df):
        n = persist_count(df)
        if counts is not None:
            counts[key] = counts.get(key, 0) + n
        return df
    return force


class Workload:
    name = ""
    #: operations after the first that are checked but not timed
    warmup = 0
    #: operations timed after those, however long they take
    min_warm = 2

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = {k: v if k == "bodies" else max(8, int(v * scale))
                     for k, v in SIZES[self.name].items()}
        self.digest_key = f"{seed}:" + ",".join(
            f"{k}={v}" for k, v in sorted(self.size.items()))
        self.inputs = os.path.join(work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)
        self.digests: dict[str, str] = {}
        self._n = 0

    def generate(self) -> None:
        raise NotImplementedError

    def start(self) -> None:
        """Anything the operations need besides the inputs (a server)."""

    def stop(self) -> None:
        pass

    def op(self) -> OpResult:
        raise NotImplementedError

    def check(self, res: OpResult) -> None:
        raise NotImplementedError

    def cleanup(self, res: OpResult) -> None:
        pass

    def traced(self, tracer) -> tuple[list[OpResult], dict]:
        """Operations under ``tracer``, one root span each → (results,
        layer counts summed over them)."""
        raise NotImplementedError

    def check_digest(self, got: str, part: str = "") -> None:
        """Compare with the digest recorded for this seed and size (and
        ``part`` of the inputs), if any."""
        key = self.digest_key + part
        with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as f:
            want = json.load(f).get(self.name, {}).get(key)
        if want is not None and want != got:
            raise CheckFailed(f"digest {got} != recorded {want}")
        self.digests[key] = got


# ==========================================================================
# kg_transcripts
# ==========================================================================

N_BUCKETS = 8


class KgTranscripts(Workload):
    """transcripts parquet → kg.pipeline.run (resume=False) → bucketed
    parquet triples + manifest."""
    name = "kg_transcripts"

    def generate(self):
        self.path = os.path.join(self.inputs, "transcripts.parquet")
        self.expected = gen.write_transcripts(self.path, self.seed,
                                              self.size["convs"])

    def _run(self, out):
        from csvw_rdf_convertor_spark.kg import pipeline
        return pipeline.run(self.spark.read.parquet(self.path), out,
                            dictionary=gen.kg_dictionary(),
                            n_buckets=N_BUCKETS, resume=False)

    def op(self):
        self._n += 1
        out = os.path.join(self.work, "out", f"kg-{self._n}")
        m = self._run(out)
        return OpResult(m.triples, dir_bytes(out), (out, m))

    def cleanup(self, res):
        shutil.rmtree(res.output[0], ignore_errors=True)

    def check(self, res):
        out, m = res.output
        got = {"turns": m.turns, "mentions": m.mentions, "links": m.links,
               "triples": m.triples}
        if got != self.expected:
            raise CheckFailed(f"manifest {got} != expected {self.expected}")
        n, h = spark_digest(self.spark.read.parquet(os.path.join(out, "triples")))
        if n != self.expected["triples"]:
            raise CheckFailed(f"sink holds {n} triples, manifest {m.triples}")
        self.check_digest(h)

    def traced(self, tracer):
        from pyspark.sql import functions as F

        from csvw_rdf_convertor_spark.kg import cc, linking, mentions, pipeline
        counts: dict = {}

        def force_input(turn_triples):
            # run() feeds every stage from one bucket repartition + cache:
            # force it in its own span before the first stage consumes it
            def call(todo, *a, **kw):
                with tracer.span("kg.pipeline.input.exec"):
                    counts["kg.mentions.python_rows_in"] = todo.count()
                return turn_triples(todo, *a, **kw)
            return call

        patches = [
            (pipeline, "turn_triples", "kg.pipeline.turn_triples",
             forced(counts, "plans.csvw2rdf.triples_out")),
            (mentions, "detect_mentions", "kg.mentions",
             forced(counts, "kg.mentions.mentions_out")),
            (linking, "alias_table", "kg.linking.alias_table", None),
            (linking, "link", "kg.linking",
             forced(counts, "kg.linking.links_out")),
            (cc, "link_graph_edges", "kg.cc.link_graph_edges",
             forced(counts, "kg.cc.edges")),
            (cc, "connected_components", "kg.cc.connected_components",
             forced()),
            (cc, "canonical_mapping", "kg.cc.canonical_mapping", forced()),
            (pipeline, "mention_triples", "kg.pipeline.mention_triples",
             forced()),
        ]
        self._n += 1
        out = os.path.join(self.work, "out", f"kg-{self._n}")
        with tracer.patched(patches):
            # outside the turn_triples span; restored with the patches
            pipeline.turn_triples = force_input(pipeline.turn_triples)
            with tracer.span("op", root=True):
                with tracer.span("kg.pipeline.run"):
                    m = self._run(out)
        self.spark.catalog.clearCache()
        # mentions without dictionary candidates: what link()'s fuzzy
        # branch would take (none on this corpus; a change there shows)
        transcripts = self.spark.read.parquet(self.path)
        counts["kg.linking.unmatched"] = mentions.detect_mentions(
            transcripts, gen.kg_dictionary()).where(
                F.size("candidates") == 0).count()
        counts.update(codegen_probe(pipeline.turn_triples(transcripts)))
        return [OpResult(m.triples, dir_bytes(out), (out, m))], counts


# ==========================================================================
# ws_requests
# ==========================================================================

class WsRequests(Workload):
    """Closed loop, one client, one request in flight, against
    ``ws.make_server`` in a thread of this process. An operation is one
    ``POST /csvw2rdf`` with an inline CSVW, N-Triples back; the distinct
    bodies are sent in turn. The traced operation adds a ``POST /rdf2csvw``
    with an inline N-Triples graph (a zip of the inferred CSV tables and
    their descriptor back). The server speaks HTTP/1.0, so each request
    opens its own connection."""
    name = "ws_requests"
    #: the JIT warms the request path up over the first requests
    warmup = 2
    min_warm = 4

    def generate(self):
        rows, subjects = self.size["rows"], self.size["subjects"]
        self.bodies = [gen.csvw2rdf_body(self.seed * 1009 + i, rows, i * rows)
                       for i in range(self.size["bodies"])]
        self.graphs = [gen.rdf2csvw_body(self.seed * 1013 + i, subjects,
                                         i * subjects)
                       for i in range(self.size["bodies"])]
        #: (route, start, end) of every request, wall clock
        self.requests: list[tuple[str, float, float]] = []

    def start(self):
        from csvw_rdf_convertor_spark import ws
        self.server = ws.make_server(0)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       daemon=True)
        self.thread.start()

    def stop(self):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)

    def _post(self, route: str, body: bytes) -> tuple[int, bytes]:
        t0 = time.time()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", route, body=body,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            payload = resp.read()
        finally:
            conn.close()
        self.requests.append((route, t0, time.time()))
        return resp.status, payload

    def op(self):
        i = self._n % len(self.bodies)
        self._n += 1
        nt = self._post("/csvw2rdf", self.bodies[i][0])
        return OpResult(self.bodies[i][1], len(nt[1]), (i, nt, None))

    def check(self, res):
        i, (status, payload), tables = res.output
        if status != 200:
            raise CheckFailed(f"csvw2rdf: HTTP {status}: {payload[:300]!r}")
        lines = payload.splitlines()
        if len(lines) != self.bodies[i][1] or not all(x.endswith(b" .") for x in lines):
            raise CheckFailed(f"{len(lines)} N-Triples lines, expected {self.bodies[i][1]}")
        self.check_digest(f"{line_digest(lines):016x}", f":{i}")
        if tables is None:
            return
        zstatus, zipped = tables
        if zstatus != 200:
            raise CheckFailed(f"rdf2csvw: HTTP {zstatus}: {zipped[:300]!r}")
        got = zip_tables(zipped)
        want = self.graphs[i][1]
        if set(got) != {*want, "descriptor.json"}:
            raise CheckFailed(f"rdf2csvw files {sorted(got)}, expected {sorted(want)}")
        # the generator knows every row, so the check is exact
        for name, rows in want.items():
            if sorted(got[name]) != rows:
                raise CheckFailed(f"rdf2csvw {name}: {len(got[name])} rows "
                                  f"differ from the {len(rows)} generated")

    def traced(self, tracer):
        from csvw_rdf_convertor_spark import cli, descriptor_norm, spec, ws
        from csvw_rdf_convertor_spark.functions import ntriples
        from csvw_rdf_convertor_spark.plans import csvw2rdf, rdf2csvw
        from csvw_rdf_convertor_spark.sources import csv_source
        counts: dict = {}

        def force_csv(df):
            persist_count(df)
            # the tasks of every stage over read_csv's output
            counts["sources.read_csv.tasks"] = df.rdd.getNumPartitions()
            return df

        def force_triples(df):
            # the request's own plan, compiled while its input file exists
            with tracer.span("guard.codegen"):
                counts.update(codegen_probe(df))
            return forced(counts, "plans.csvw2rdf.triples_out")(df)

        def force_tables(tables):
            for df in tables.values():
                counts["plans.rdf2csvw.rows_out"] = (
                    counts.get("plans.rdf2csvw.rows_out", 0) + persist_count(df))
            return tables

        patches = [
            (ws, "handle_csvw2rdf", "ws.handle_csvw2rdf", None),
            (ws, "handle_rdf2csvw", "ws.handle_rdf2csvw", None),
            (cli, "main", "cli.main", None),
            # the CLI's rdf2csvw sink: each table collected to the driver
            # and written as one CSV file
            (cli, "_write_single_csv", "cli.write_csv", None),
            (descriptor_norm, "normalize_descriptor", "spec", None),
            (spec, "parse_descriptor", "spec", None),
            (csv_source, "read_csv", "sources.read_csv", force_csv),
            (csvw2rdf, "table_to_triples", "plans.csvw2rdf", force_triples),
            (ntriples, "to_ntriples_lines", "functions.ntriples.serialize",
             forced()),
            (ntriples, "parse_ntriples", "functions.ntriples.parse",
             forced(counts, "functions.ntriples.parse_rows")),
            (rdf2csvw, "infer_tables", "plans.rdf2csvw.infer", None),
            (rdf2csvw, "reconstruct_tables", "plans.rdf2csvw.reconstruct",
             force_tables),
        ]
        routes = dict(ws.ROUTES)
        try:
            with tracer.patched(patches):
                ws.ROUTES.update({"/csvw2rdf": ws.handle_csvw2rdf,
                                  "/rdf2csvw": ws.handle_rdf2csvw})
                with tracer.span("op", root=True):
                    res = self.op()
                # the graph leg is no part of the untraced operation: a
                # root of its own, left out of trace_overhead_s
                with tracer.span("leg.rdf2csvw", root=True):
                    tables = self._post("/rdf2csvw",
                                        self.graphs[res.output[0]][0])
        finally:
            ws.ROUTES.update(routes)
        res.output = (*res.output[:2], tables)
        self.spark.catalog.clearCache()
        counts["functions.ntriples.bytes_out"] = res.out_bytes
        counts["functions.ntriples.parse_rejected_lines"] = (
            self.graphs[res.output[0]][2]
            - counts.pop("functions.ntriples.parse_rows", 0))
        return [res], counts


def zip_tables(zipped: bytes) -> dict[str, list[tuple[str, ...]]]:
    """The CSV files of an rdf2csvw response → their data rows (and the
    descriptor, unparsed)."""
    out = {}
    with zipfile.ZipFile(io.BytesIO(zipped)) as z:
        for name in z.namelist():
            text = z.read(name).decode("utf-8")
            out[name] = ([] if name == "descriptor.json" else
                         [tuple(r) for r in csv.reader(io.StringIO(text, newline=""))][1:])
    return out


# ==========================================================================
# plan and codegen guard
# ==========================================================================

def codegen_probe(df) -> dict:
    """Compile guard for the csvw2rdf plan ``df``.

    ``codegen_fallbacks``: runs it with whole-stage codegen fallback
    disabled; 1 when a stage fails to compile (in a normal run it would
    silently run interpreted, several times slower), else 0.
    ``max_method_bytes``: the largest generated method's bytecode size; past
    8000 bytes the JVM JIT leaves a method interpreted
    (DontCompileHugeMethods) even though it compiled."""
    spark = df.sparkSession
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        df.write.format("noop").mode("overwrite").save()
        fallbacks = 0
    except Exception as exc:  # noqa: BLE001 — any compile failure counts
        print(f"codegen probe: {str(exc)[:300]}", file=sys.stderr)
        fallbacks = 1
    finally:
        spark.conf.set(key, prev)
    # a plan AQE has not run yet holds no codegen stages: compile a
    # non-adaptive one
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    seq = spark._jvm.org.apache.spark.sql.execution.debug.package \
        .codegenStringSeq(plan)
    sizes = [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())]
    return {"plans.csvw2rdf.codegen_fallbacks": fallbacks,
            "plans.csvw2rdf.max_method_bytes": max(sizes or [0])}


WORKLOADS = {w.name: w for w in (KgTranscripts, WsRequests)}
