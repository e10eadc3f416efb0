"""Benchmark of the CSVW ⇄ RDF / transcripts → KG converter.

    python3 perfbench/run.py --workload kg_transcripts --seed 1 --seconds 1 --trace 0

Run from the root of a checkout; the program is imported from there. One
run = one workload in a fresh process (so a fresh JVM): set up (start the
Spark session, generate the inputs from ``--seed``), then run operations
for ``--seconds`` seconds, checking every operation's output. The last line
of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run afterwards makes traced operations and reports the per-layer ones.
Everything else goes to standard error. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402
import workloads as wls  # noqa: E402

#: expected.json records the output digests of both; a claim made on the
#: default seed is re-checked on the holdout
DEFAULT_SEED = 1
HOLDOUT_SEED = 2
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
SHUFFLE_PARTITIONS = CORES
SETUP_REPEATS = 3        # input generation is repeated; setup_s takes the median

E2E_UNITS = {
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "output_bytes_per_triple": "B",
}

#: wall-clock figures of the run; on a shared host they move by 20-70%
#: from run to run, so they are reported with the traced run, unbounded
WALL = ("run.wall_s", "run.first_run_s", "run.triples_per_s")

#: per-layer time metrics → span names whose self time they sum (per op)
SPAN_TIMES = {
    "sources.read_csv.exec_s": ("sources.read_csv", "sources.read_csv.exec"),
    "spec.parse_s": ("spec",),
    "plans.csvw2rdf.build_s": ("plans.csvw2rdf",),
    "plans.csvw2rdf.exec_s": ("plans.csvw2rdf.exec",
                              "kg.pipeline.turn_triples.exec"),
    "functions.ntriples.serialize_exec_s": (
        "functions.ntriples.serialize", "functions.ntriples.serialize.exec"),
    "functions.ntriples.parse_exec_s": (
        "functions.ntriples.parse", "functions.ntriples.parse.exec"),
    "plans.rdf2csvw.infer_s": ("plans.rdf2csvw.infer",),
    "plans.rdf2csvw.reconstruct_exec_s": ("plans.rdf2csvw.reconstruct",
                                          "plans.rdf2csvw.reconstruct.exec"),
    "kg.mentions.exec_s": ("kg.mentions", "kg.mentions.exec"),
    "kg.linking.exec_s": ("kg.linking", "kg.linking.exec",
                          "kg.linking.alias_table"),
    "kg.cc.exec_s": ("kg.cc.link_graph_edges", "kg.cc.link_graph_edges.exec",
                     "kg.cc.connected_components",
                     "kg.cc.connected_components.exec",
                     "kg.cc.canonical_mapping", "kg.cc.canonical_mapping.exec"),
    "kg.pipeline.input_s": ("kg.pipeline.input.exec",),
    "kg.pipeline.turn_triples.exec_s": ("kg.pipeline.turn_triples",
                                        "kg.pipeline.turn_triples.exec"),
    "kg.pipeline.mention_triples.exec_s": ("kg.pipeline.mention_triples",
                                           "kg.pipeline.mention_triples.exec"),
    "ws.handler_s": ("ws.handle_csvw2rdf", "ws.handle_rdf2csvw"),
    "cli.main_s": ("cli.main",),
    "cli.write_csv_s": ("cli.write_csv",),
}

CC_CALLS = ("kg.cc.link_graph_edges", "kg.cc.connected_components",
            "kg.cc.canonical_mapping")

#: per-layer engine counters of the traced operation → (job groups =
#: span names, counter) (per op). Job counts leave out the ``.exec`` groups:
#: those jobs are the benchmark's forcing, not the layer's own round trips.
GROUP_COUNTERS = {
    "kg.linking.shuffle_write_bytes": (SPAN_TIMES["kg.linking.exec_s"],
                                       "shuffle_write_bytes"),
    "kg.cc.jobs": (CC_CALLS, "jobs"),
    "kg.pipeline.shuffle_write_bytes": (("kg.pipeline.run",
                                         "kg.pipeline.input.exec"),
                                        "shuffle_write_bytes"),
    "plans.rdf2csvw.infer_jobs": (("plans.rdf2csvw.infer",), "jobs"),
    "plans.rdf2csvw.shuffle_write_bytes": (
        ("plans.rdf2csvw.infer", *SPAN_TIMES["plans.rdf2csvw.reconstruct_exec_s"]),
        "shuffle_write_bytes"),
}

#: counts the workloads report from their traced operation
COUNTS = (
    "sources.read_csv.tasks",
    "plans.csvw2rdf.triples_out", "plans.csvw2rdf.codegen_fallbacks",
    "plans.csvw2rdf.max_method_bytes", "functions.ntriples.bytes_out",
    "functions.ntriples.parse_rejected_lines", "plans.rdf2csvw.rows_out",
    "kg.mentions.python_rows_in", "kg.mentions.mentions_out",
    "kg.linking.links_out", "kg.linking.unmatched", "kg.cc.edges",
)

#: the sink and manifest of kg.pipeline.run: the Spark jobs it runs in its
#: own job group, and the rest of its self time
KG_RUN = ("kg.pipeline.write_s", "kg.pipeline.unspanned_s")

#: Spark's counters for the last untraced operation, which no forcing or
#: span changed
ENGINE = ("engine.jobs", "engine.tasks", "engine.tasks_failed",
          "engine.shuffle_write_bytes", "engine.spill_bytes", "engine.gc_s",
          "engine.cpu_utilization", "engine.exchanges")

#: the untraced warm requests
WS = ("ws.driver_ms_per_request", "ws.spark_jobs_per_request",
      "ws.request_p50_ms", "ws.request_p90_ms", "ws.requests_per_s")

GUARD = "guard."         # spans of the plan guard, outside the accounting

RUN = ("trace_overhead_s", "trace_coverage", "failed_frac")


def _unit(name: str) -> str:
    if name.endswith(("_bytes", "bytes_out")):
        return "B"
    if name == "run.triples_per_s":
        return "triples/s"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith(("_ms", "_ms_per_request")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name in ("engine.cpu_utilization", "trace_coverage", "failed_frac"):
        return "ratio"
    return "count"


LAYER_UNITS = {n: _unit(n) for n in (*WALL, *SPAN_TIMES, *GROUP_COUNTERS,
                                     *COUNTS, *KG_RUN, *ENGINE, *WS, *RUN)}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

def start_session(work: str, name: str, event_log: str | None):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName(f"perfbench-{name}")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", HEAP)
         # fixed heap: resident memory depends on the work, not on when the
         # collector chose to grow the heap
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                 f"-XX:-UseDynamicNumberOfCompilerThreads "
                 f"-Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", os.path.join(work, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.codegen.methodSplitThreshold", "256"))
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext
    return SparkContext._gateway.proc


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and every process below it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    below = tr.descendants(proc.pid)[1:]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()     # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in below:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, 9)
                deadline = time.time() + 10
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def machine_facts(spark, work: str) -> dict:
    jvm = spark._jvm.java.lang.System
    local = os.path.join(work, "local")
    fs = "?"
    with open("/proc/mounts", encoding="utf-8") as f:
        best = ""
        for line in f:
            parts = line.split()
            if local.startswith(parts[1]) and len(parts[1]) > len(best):
                best, fs = parts[1], parts[2]
    return {"nproc": os.cpu_count(), "cores": CORES, "heap": HEAP,
            "spark": spark.version, "java": jvm.getProperty("java.version"),
            "python": sys.version.split()[0], "local_dir_fs": fs,
            "local_dir_tmpfs": fs == "tmpfs"}


# --------------------------------------------------------------------------
# measurement
# --------------------------------------------------------------------------

class Ops:
    """Outcome of the timed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.first_s: float | None = None
        #: (seconds, triples, bytes, CPU seconds) of each timed operation
        self.samples: list[tuple[float, int, int, float]] = []
        #: (start, end) of each timed operation, wall clock
        self.windows: list[tuple[float, float]] = []

    def run_one(self, wl, sample: bool = True) -> None:
        self.attempted += 1
        first = self.attempted == 1
        c0 = _tree_cpu()
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            res = wl.op()
            dt = time.perf_counter() - t0
            w1 = time.time()
            cpu = _tree_cpu() - c0
        except Exception:  # noqa: BLE001 — a failed operation is counted
            self.failed += 1
            log(f"operation {self.attempted} failed:\n{traceback.format_exc()}")
            return
        log(f"operation {self.attempted}: {dt:.3f} s, {cpu:.3f} CPU s")
        if not self.checked(wl, res):
            return
        if first:
            self.first_s = dt
        elif sample:
            self.samples.append((dt, res.triples, res.out_bytes, cpu))
            self.windows.append((w0, w1))

    def checked(self, wl, res) -> bool:
        """Check one operation's output, counting it failed when wrong."""
        try:
            wl.check(res)
            return True
        except wls.CheckFailed as exc:
            log(f"operation {self.attempted}: wrong output: {exc}")
        except Exception:  # noqa: BLE001 — unreadable output is wrong output
            log(f"operation {self.attempted}: check failed:\n"
                f"{traceback.format_exc()}")
        finally:
            wl.cleanup(res)
        self.failed += 1
        return False


def _tree_cpu() -> float:
    """CPU seconds of this process, the JVM and every process below it."""
    jvm = jvm_process().pid
    return tr.cpu_seconds([os.getpid(), *tr.descendants(jvm)], jvm)


def measure(wl, seconds: float) -> Ops:
    ops = Ops()
    ops.run_one(wl)
    for _ in range(wl.warmup):
        ops.run_one(wl, sample=False)
    deadline = time.perf_counter() + seconds
    while len(ops.samples) < wl.min_warm or time.perf_counter() < deadline:
        ops.run_one(wl)
        if ops.attempted > 10 * wl.min_warm and not ops.samples:
            break       # every operation fails: stop, the result says so
    return ops


def end_to_end(ops: Ops, setup_s: float, peak_rss: int) -> dict:
    s = ops.samples or [(0.0, 1, 0, 0.0)]
    return {
        "cpu_s": statistics.median(c for _t, _n, _b, c in s),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "output_bytes_per_triple": statistics.median(b / n for _t, n, b, _c in s),
    }


def wall(ops: Ops) -> dict:
    s = ops.samples or [(0.0, 1, 0, 0.0)]
    return {
        "run.wall_s": statistics.median(t for t, _n, _b, _c in s),
        "run.first_run_s": ops.first_s or 0.0,
        "run.triples_per_s": statistics.median(n / t if t else 0.0
                                               for t, n, _b, _c in s),
    }


def _self_times(spans) -> dict[int, float]:
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    return {s.id: (s.end - s.start) - tr.union_length(
                [(max(k.start, s.start), min(k.end, s.end))
                 for k in kids.get(s.id, []) if k.end > k.start])
            for s in spans}


def per_layer(tracer, engine, counts: dict, ops: Ops, n_traced: int,
              requests) -> dict:
    spans = tracer.spans
    self_t = _self_times(spans)
    ops_s = [s for s in spans if s.parent is None and s.name == "op"]
    guard_s = sum(s.end - s.start for s in spans if s.name.startswith(GUARD)
                  and any(r.start <= s.start <= r.end for r in ops_s))
    traced_s = sum(r.end - r.start for r in ops_s) - guard_s
    n = max(1, n_traced)
    out = wall(ops)
    for metric, names in SPAN_TIMES.items():
        out[metric] = sum(self_t[s.id] for s in spans if s.name in names) / n
    for metric, (groups, counter) in GROUP_COUNTERS.items():
        jobs, stages, _x = engine.select(set(groups))
        out[metric] = (len(jobs) if counter == "jobs"
                       else sum(getattr(c, counter) for c in stages)) / n
    for metric in COUNTS:
        out[metric] = counts.get(metric, 0) / n
    run_jobs = []
    for s in spans:
        if s.name == "kg.pipeline.run":
            jobs, _st, _x = engine.select({s.name}, s.start, s.end)
            run_jobs += [(j["start"], j["end"]) for j in jobs]
    out["kg.pipeline.write_s"] = tr.union_length(run_jobs) / n
    out["kg.pipeline.unspanned_s"] = (sum(
        self_t[s.id] for s in spans if s.name == "kg.pipeline.run") / n
        - out["kg.pipeline.write_s"])
    out.update(engine_counters(engine, ops.windows[-1] if ops.windows else None))
    out.update(request_figures(engine, requests, ops.windows))
    out["trace_overhead_s"] = traced_s / n - out["run.wall_s"]
    out["trace_coverage"] = tr.coverage(spans, engine.jobs, GUARD)
    out["failed_frac"] = ops.failed / max(1, ops.attempted)
    return out


def engine_counters(engine, window) -> dict:
    """Spark's counters for the untraced operation that ran in ``window``."""
    if window is None:
        return {k: 0.0 for k in ENGINE}
    jobs, stages, exchanges = engine.select(None, *window)
    out = {"engine.jobs": len(jobs), "engine.exchanges": exchanges}
    for key in ("tasks", "tasks_failed", "shuffle_write_bytes", "spill_bytes",
                "gc_s"):
        out[f"engine.{key}"] = sum(getattr(c, key) for c in stages)
    out["engine.cpu_utilization"] = (sum(c.cpu_s for c in stages)
                                     / ((window[1] - window[0]) * CORES))
    return out


def request_figures(engine, requests, windows) -> dict:
    """Latency and Spark jobs of the untraced warm requests."""
    warm = [(t0, t1) for _route, t0, t1 in requests
            if windows and windows[0][0] <= t0 and t1 <= windows[-1][1]]
    if not warm:
        return {k: 0.0 for k in WS}
    times, idle, jobs_n = [], [], []
    for t0, t1 in warm:
        jobs, _st, _x = engine.select(None, t0, t1)
        times.append(t1 - t0)
        idle.append((t1 - t0) - tr.union_length(
            [(max(j["start"], t0), min(j["end"], t1)) for j in jobs]))
        jobs_n.append(len(jobs))
    times.sort()
    return {
        "ws.driver_ms_per_request": 1000 * statistics.median(idle),
        "ws.spark_jobs_per_request": statistics.median(jobs_n),
        "ws.request_p50_ms": 1000 * statistics.median(times),
        "ws.request_p90_ms": 1000 * times[min(len(times) - 1,
                                              int(0.9 * len(times)))],
        "ws.requests_per_s": len(times) / sum(times),
    }


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wls.WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the input sizes (self-tests run tiny)")
    return ap.parse_args(argv)


def run(args, work: str) -> dict:
    event_log = os.path.join(work, "events") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    t0 = time.perf_counter()
    spark = start_session(work, args.workload, event_log)
    session_s = time.perf_counter() - t0
    try:
        facts = machine_facts(spark, work)
        log("machine " + json.dumps(facts))
        wl = wls.WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
        wl.start()
        setup_s = session_s + statistics.median(gen_s)
        try:
            with tr.RssSampler(jvm_process().pid) as rss:
                ops = measure(wl, args.seconds)
            log(f"digests {args.workload} {json.dumps(wl.digests)}")
            log(f"{args.workload}: {ops.attempted} operations, "
                f"{ops.failed} failed, {len(ops.samples)} timed after the first")
            if not args.trace:
                return _result(ops, end_to_end(ops, setup_s, rss.peak))
            tracer = tr.Tracer(spark.sparkContext, uuid.uuid4().hex[:12])
            results, counts = wl.traced(tracer)
            n_traced = len(results)
            for res in results:
                ops.attempted += 1
                ops.checked(wl, res)
        finally:
            wl.stop()
    finally:
        stop_session(spark)
    engine = tr.read_event_log(event_log)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{args.workload}.spans.jsonl"))
    with open(os.path.join(out_dir, f"{args.workload}.machine.json"), "w",
              encoding="utf-8") as f:
        json.dump(facts, f)
    metrics = per_layer(tracer, engine, counts, ops, n_traced,
                        getattr(wl, "requests", []))
    return _result(ops, metrics, LAYER_UNITS)


def _result(ops: Ops, metrics: dict, units: dict = E2E_UNITS) -> dict:
    return {"correct": ops.failed == 0 and ops.attempted > 0,
            "attempted": ops.attempted, "failed": ops.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import csvw_rdf_convertor_spark as program
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"the program is not in this checkout ({ROOT})")

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays under the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"   # no /tmp/hsperfdata
    tempfile.tempdir = None
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):   # others may still run there
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
