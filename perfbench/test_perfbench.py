"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The end-to-end cases start one Spark JVM per workload and mode at a tiny
input scale (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import gen
import run
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return spec, ({m["name"]: m["unit"] for m in spec["end_to_end"]},
                  {m["name"]: m["unit"] for m in spec["per_layer"]})


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (tmp_path / "a.parquet", tmp_path / "b.parquet",
               tmp_path / "c.parquet")
    assert gen.write_transcripts(str(a), 7, 50) == gen.write_transcripts(str(b), 7, 50)
    gen.write_transcripts(str(c), 8, 50)
    assert a.read_bytes() == b.read_bytes() != c.read_bytes()
    assert gen.csvw2rdf_body(7, 50) == gen.csvw2rdf_body(7, 50) != gen.csvw2rdf_body(8, 50)
    assert gen.rdf2csvw_body(7, 50) == gen.rdf2csvw_body(7, 50) != gen.rdf2csvw_body(8, 50)


def test_graph_has_every_table_and_round_trips_escapes():
    text, tables = gen.rdf_graph(7, 8)
    assert sorted(tables) == sorted(
        [f"{t}.csv" for t in gen.GRAPH_TYPES]
        + [f"{t}_{p}.csv" for t, props in gen.GRAPH_TYPES.items()
           for p, _k, multi in props if multi])
    assert all(tables.values())
    assert text.count("\n") == sum(1 for _ in text.splitlines())
    assert '\\"quoted\\"' in text and "\\\\slash" in text


def test_coverage_leaves_wrapper_self_time_uncovered():
    S = tracing.Span
    spans = [S(0, "op", 0.0, 10.0, None, "r"),
             S(1, "kg.pipeline.run", 0.0, 10.0, 0, "r"),
             S(2, "kg.mentions", 1.0, 3.0, 1, "r"),
             S(3, "kg.mentions.exec", 3.0, 5.0, 1, "r"),
             S(4, "guard.codegen", 3.5, 4.5, 3, "r")]
    jobs = [{"group": "kg.pipeline.run", "start": 6.0, "end": 8.0},
            {"group": "other", "start": 8.0, "end": 9.0}]
    # covered: 1-5 (leaf spans) + 6-8 (the wrapper's own jobs), guard out
    assert tracing.coverage(spans, jobs, "guard.") == pytest.approx(5.0 / 9.0)


def test_declared_metrics_match_the_runner():
    spec, (e2e, layer) = _declared()
    assert e2e == run.E2E_UNITS
    assert layer == run.LAYER_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.wls.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.wls.WORKLOADS))
def test_tiny_run_passes_checks_and_prints_declared_metrics(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace),
         "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    _spec, (e2e, layer) = _declared()
    declared = layer if trace else e2e
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ws_requests",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
