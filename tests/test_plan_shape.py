"""Plan-shape regression guards: the properties .explain() must keep showing
(docs/SCALE.md). If one of these fails, a change regressed the physical plan
even if results are still correct."""

from __future__ import annotations

import contextlib
import json

import pytest
from pyspark.sql import functions as F

from csvw_rdf_convertor_spark.kg import cc, linking
from csvw_rdf_convertor_spark.kg.synth import alias_dictionary
from csvw_rdf_convertor_spark.plans import csvw2rdf, rdf2csvw
from csvw_rdf_convertor_spark.plans.rdf2csvw_run import triples_df
from csvw_rdf_convertor_spark.spec import XSD, parse_descriptor

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mapping_plan_is_shuffle_free(spark):
    """The CSVW mapping (no row numbering needed) must stay a pure narrow
    projection: zero Exchange operators."""
    import __spark_entry__ as e
    from csvw_rdf_convertor_spark.kg.pipeline import turn_triples
    tr = e._transcripts_from_events(spark, SF)
    # turn_triples over a frame that already has turn_idx: only the
    # row_number window of the events derivation may shuffle — the mapping
    # itself adds nothing on top
    plan = _plan(turn_triples(tr))
    assert plan.count("Exchange") <= 1  # the events->transcripts window only


def test_q1_pushdown_and_pruning(spark):
    import __spark_entry__ as e
    plan = _plan(e.queries()["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: no l_orderkey/l_partkey in the scan schema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in read_schema and "l_orderkey" not in read_schema


def test_q3_broadcasts_dimension(spark):
    import __spark_entry__ as e
    plan = _plan(e.queries()["q3_top_orders"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_anti_join_shape(spark):
    import __spark_entry__ as e
    plan = _plan(e.queries()["j5_fk_anti_join"](spark, SF))
    assert "LeftAnti" in plan


def test_minhash_pairs_join_is_on_band_keys(spark):
    from csvw_rdf_convertor_spark.ops import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.minhash_near_duplicates(docs))
    # the only join key is the uniform (band, band_key) pair
    assert "band_key" in plan and "CartesianProduct" not in plan


def test_ivf_assign_has_no_corpus_exchange(spark):
    """Cell assignment must be a narrow fold over the broadcast centroid
    array — no per-vector window, no Exchange partitioned by vec_id
    (VERDICT r02 fix #5)."""
    from csvw_rdf_convertor_spark.ops import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    _cents, assigned = similarity.ivf_assign(emb, n_cells=8)
    plan = _plan(assigned)
    assert "Window" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "vec_id" not in ln, f"corpus shuffled by vec_id: {ln}"
    # the centroid side reaches the corpus via a broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bench_mapping_fingerprint_is_narrow(spark):
    """bench.py's headline mapping plans must keep exactly one shuffle (the
    deliberate input-model repartition), stay inside whole-stage codegen,
    and never go cartesian — the fingerprint bench.py also emits per round
    (ROADMAP #10)."""
    import bench
    fps = bench.plan_fingerprints(spark, SF, 4)
    assert fps["regression"] is False, fps
    for name in ("csvw2rdf_lineitem", "ntriples_serialize"):
        assert fps[name]["shuffle_exchanges"] == 1, (name, fps[name])
        assert fps[name]["wholestage_codegen"], (name, fps[name])
        assert not fps[name]["cartesian"], (name, fps[name])


def test_mapping_stage_actually_compiles(spark):
    """The fused mapping stage must COMPILE — a janino 64 KB/method overflow
    makes Spark silently run the whole stage interpreted (measured 5-10×
    slower; the only symptom is a WARN). fallback=false turns that silent
    demotion into a loud failure. Guards the stage-1a2 parse-intermediate
    staging in plans/csvw2rdf.py."""
    import bench
    from csvw_rdf_convertor_spark.functions.ntriples import to_ntriples_lines
    from csvw_rdf_convertor_spark.plans.csvw2rdf import table_to_triples
    from csvw_rdf_convertor_spark.spec import parse_descriptor
    li = bench._lineitem_mapping_input(spark, SF, 4)
    df = table_to_triples(li, parse_descriptor(bench.LINEITEM_DESC).tables[0])
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert df.count() > 0
        assert to_ntriples_lines(df).count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_turn_mapping_stage_actually_compiles(spark):
    """Same loud-compile guard for the transcripts turn mapping (the KG
    pipeline's hot path)."""
    from csvw_rdf_convertor_spark.kg.pipeline import turn_triples
    from csvw_rdf_convertor_spark.kg.synth import synth_transcripts
    tr = synth_transcripts(spark, n_convs=10, max_len=10)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert turn_triples(tr).count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_minhash_band_exchange_carries_ids_only(spark):
    """The 16× band fan-out must not duplicate shingle/signature arrays
    through the shuffle (VERDICT r01 'what's wrong' #3): every Exchange that
    partitions on band keys ships only (id, band, band_key)."""
    from csvw_rdf_convertor_spark.ops import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.minhash_near_duplicates(docs))
    band_rows = [ln for ln in plan.splitlines()
                 if "band_key#" in ln and ("Project" in ln or "Generate" in ln)]
    assert band_rows, "expected band projections in the plan"
    for ln in band_rows:
        assert "sh#" not in ln and " sig#" not in ln, f"array leaked into band row: {ln}"
    # shingles still flow into the exact-Jaccard verify via the join-back
    assert "array_intersect" in plan


def test_single_valued_pivot_reconstruction_one_exchange(spark):
    """match_patterns(assume_single_valued=True) on a 10-column table is ONE
    conditional aggregation — exactly one shuffle Exchange (on subj), not K
    join shuffles (VERDICT r4 #5)."""
    from pyspark.sql import functions as F

    from csvw_rdf_convertor_spark.plans.rdf2csvw import (TriplePattern,
                                                         match_patterns)
    rows = [(f"urn:s#{i}", f"urn:p#{j}", f"v{i}{j}", "literal")
            for i in range(4) for j in range(10)]
    t = (spark.createDataFrame(
        rows, "subj string, pred string, obj_lex string, obj_kind string")
        .withColumn("obj_dtype", F.lit("")).withColumn("obj_lang", F.lit(""))
        .withColumn("graph", F.lit("")))
    pats = [TriplePattern(f"c{j}", f"urn:p#{j}") for j in range(10)]
    out = match_patterns(t, pats, assume_single_valued=True)
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    # values identical to the join-chain path on single-valued data
    chain = match_patterns(t, pats)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, chain.collect()))
    # reconstruct_tables builds a typed table the same way, over its
    # subjects' triples: the scoping semi-join's two exchanges on subj, which
    # the aggregation reuses, and no third one for a seed of its subjects
    types = [(f"urn:s#{i}", rdf2csvw.RDF_TYPE, "urn:T#thing", "iri")
             for i in range(4)]
    typed = (spark.createDataFrame(
        rows + types,
        "subj string, pred string, obj_lex string, obj_kind string")
        .withColumn("obj_dtype", F.lit("")).withColumn("obj_lang", F.lit(""))
        .withColumn("graph", F.lit("")))
    thing = rdf2csvw.reconstruct_tables(typed)["thing"]
    plan = _plan(thing)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert sorted(map(tuple, thing.collect())) == \
        sorted(map(tuple, out.collect()))


#: HotSpot's DontCompileHugeMethods limit: a method with more bytecode than
#: this is never JIT-compiled and runs interpreted, several times slower,
#: although whole-stage codegen compiled it without complaint
JIT_HUGE_METHOD_BYTES = 8000


#: the ws-shaped column mix: integer aboutUrl keys, decimal, integer,
#: boolean, dateTime, a short string and free text
MIXED_COLS = [("k1", "integer"), ("k2", "integer"), ("price", "decimal"),
              ("qty", "integer"), ("active", "boolean"),
              ("updated", "datetime"), ("code", "string"),
              ("note", "string")]


#: three rows of ``MIXED_COLS``: valid, valid with quoting and non-ASCII
#: text, and invalid lexical forms and empty cells
MIXED_CSV = (",".join(n for n, _dt in MIXED_COLS) + "\n"
             "0,1,12.50,3,true,2024-05-01T10:00:00,AX-0001,alpha beta\n"
             "0,2,0.99,-7,0,2019-12-31T23:59:59,BZ-0420,\"a,b\" café 東京\n"
             "1,3,12.3.4,n/a,maybe,yesterday,,\n")


def _mixed_descriptor(cols) -> dict:
    return {
        "@context": "http://www.w3.org/ns/csvw",
        "url": "items.csv",
        "tableSchema": {
            "aboutUrl": "http://example.org/item/{k1}/{k2}",
            "columns": [{"name": n, "titles": n, "datatype": dt,
                         "propertyUrl": f"http://example.org/ns#{n}"}
                        for n, dt in cols]},
    }


def _mixed_table(cols, base: str):
    return parse_descriptor(_mixed_descriptor(cols), base).tables[0]


def _max_method_bytes(spark, df) -> int:
    """Bytecode size of the largest method whole-stage codegen generates
    for ``df``. An adaptive plan holds no codegen stages before it runs, so
    this compiles a non-adaptive one."""
    key = "spark.sql.adaptive.enabled"
    aqe = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(key, aqe)
    seq = spark._jvm.org.apache.spark.sql.execution.debug.package \
        .codegenStringSeq(plan)
    sizes = [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())]
    assert sizes, "no whole-stage codegen stage"
    return max(sizes)


def test_mixed_type_mapping_stays_under_jit_method_limit(spark, tmp_path):
    """The largest generated method of an 8-column mixed-type table's
    mapping (the shape of a typical web-service request) must stay
    JIT-compilable, and its triples come out of one Generate.

    Measured: the largest method is 7,632 B, in a typed-parse segment, and
    the explode stage's is 2,457 B. Without the typed-segment ``observe()``
    breaks the mapping fuses into one 13,603 B method; without stage 3.5's
    staged lexical and invalid columns the explode stage's is 9,080 B. A
    Generate barrier per triple array (9 Generates) made the explode stage
    1,762 B at the cost of 8 more eagerly analysed selects per request."""
    from csvw_rdf_convertor_spark.plans.csvw2rdf import table_to_triples
    from csvw_rdf_convertor_spark.sources.csv_source import read_csv
    (tmp_path / "items.csv").write_text(MIXED_CSV, encoding="utf-8")
    table = _mixed_table(MIXED_COLS, f"{tmp_path}/")
    df = table_to_triples(read_csv(spark, str(tmp_path / "items.csv"), table),
                          table, minimal=True)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate ") == 1, plan
    assert _max_method_bytes(spark, df) < JIT_HUGE_METHOD_BYTES


def test_csvw2rdf_request_plans_no_python(spark, tmp_path, monkeypatch):
    """A default ``csvw2rdf`` conversion (templateIris on, as the web service
    runs it) of the 8-column table plans no Python: the N-Triples line frame
    the CLI streams has no Python evaluation node, each of which starts the
    Python daemon and a worker per task. Its largest generated method,
    serialization included, stays JIT-compilable."""
    from csvw_rdf_convertor_spark import cli
    (tmp_path / "items.csv").write_text(MIXED_CSV, encoding="utf-8")
    (tmp_path / "meta.json").write_text(
        json.dumps(_mixed_descriptor(MIXED_COLS)), encoding="utf-8")
    frames = []
    stream = cli._stream_lines
    monkeypatch.setattr(cli, "_stream_lines",
                        lambda df, *a: frames.append(df) or stream(df, *a))
    assert cli.main(["csvw2rdf", "-i", str(tmp_path / "meta.json"),
                     "-o", str(tmp_path / "out.nt"), "--format", "ntriples",
                     "--minimal"]) == 0
    (lines,) = frames
    plan = lines._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, \
        plan
    assert _max_method_bytes(spark, lines) < JIT_HUGE_METHOD_BYTES


#: the package modules that run Python over rows, each vectorized by design
#: (Arrow batches, pandas string ops): LDML number patterns, mention
#: detection, the multimodal feature hook and the transcripts stream's
#: stateful operator
PYTHON_ROW_MODULES = {"functions/ldml.py", "kg/mentions.py",
                      "ops/multimodal.py", "streaming/transcripts_stream.py"}


def test_python_row_code_stays_in_its_modules():
    """A pandas UDF or ``*InPandas`` call starts Python workers on every
    plan that uses it; a new one (on the csvw2rdf path above all) must be
    argued for here first."""
    import re
    from pathlib import Path

    import csvw_rdf_convertor_spark
    root = Path(csvw_rdf_convertor_spark.__file__).parent
    found = {p.relative_to(root).as_posix() for p in sorted(root.rglob("*.py"))
             if re.search(r"pandas_udf|mapInPandas|applyInPandas",
                          p.read_text("utf-8"))}
    assert found == PYTHON_ROW_MODULES


def test_core_does_not_import_ops():
    """The converter, the web service and the kg pipeline must not depend
    on the training-data operators: no module outside ``ops/`` imports
    ``ops`` or anything under it, at module level or inside a function."""
    import ast
    from pathlib import Path

    import csvw_rdf_convertor_spark
    root = Path(csvw_rdf_convertor_spark.__file__).parent
    ops = f"{root.name}.ops"
    found = set()
    for p in sorted(root.rglob("*.py")):
        rel = p.relative_to(root)
        if rel.parts[0] == "ops":
            continue
        package = [root.name, *rel.parent.parts]
        for node in ast.walk(ast.parse(p.read_text("utf-8"))):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = ".".join(package[:len(package) - node.level + 1]
                                if node.level else [])
                module = ".".join(filter(None, (base, node.module)))
                targets = [module, *(f"{module}.{a.name}" for a in node.names)]
            else:
                continue
            if any(t == ops or t.startswith(ops + ".") for t in targets):
                found.add(rel.as_posix())
    assert not found, found


def test_mapping_build_py4j_calls_grow_linearly_with_width(spark,
                                                           py4j_commands):
    """Building the mapping plan must cost O(columns) py4j calls: each call
    is a Python↔JVM round trip, and a 200-row request is mostly plan build.
    Naming every existing column at each per-column stage makes the count
    quadratic (×3.0 from 16 to 32 columns)."""
    from csvw_rdf_convertor_spark.plans.csvw2rdf import table_to_triples
    builds = {}
    for tiles in (1, 2, 4):
        cols = [(f"{n}_{t}" if t else n, dt)
                for t in range(tiles) for n, dt in MIXED_COLS]
        table = _mixed_table(cols, "http://example.org/")
        # empty and string-typed, like a CSV scan: building runs no job
        df = spark.createDataFrame(
            [], ", ".join(f"{n} string" for n, _dt in cols))
        builds[len(cols)] = (df, table)

    def build(n):
        df, table = builds[n]
        table_to_triples(df, table, minimal=True)

    build(8)  # warm-up: first-use class loading and caches
    c16 = py4j_commands(build, 16)
    c32 = py4j_commands(build, 32)
    assert c32 <= 2.2 * c16, (c16, c32)


#: py4j commands one build of the 8-column mixed table sent when every
#: conversion built its Columns afresh, counted as below
PRE_CACHE_BUILD_COMMANDS = 9_446
#: a warm request of that table sent 4,111 commands (7,131 with PySpark's
#: call-site capture on, as in this test session) when every conversion
#: built its Columns afresh, and about 330 when it replays them
WARM_REQUEST_COMMANDS = 500


#: a web-service request for the 8-column mixed table, the shape of the
#: benchmark's: minimal mode, N-Triples back
MIXED_WS_BODY = {
    "options": {"input": "meta.json", "format": "ntriples", "minimal": True},
    "files": {"meta.json": json.dumps(_mixed_descriptor(MIXED_COLS)),
              "items.csv": MIXED_CSV}}


@contextlib.contextmanager
def _ws_poster():
    """A web service in a thread; yields ``post()``, which sends it
    ``MIXED_WS_BODY`` on ``/csvw2rdf`` and checks the answer is a 200."""
    import http.client
    import threading

    from csvw_rdf_convertor_spark import ws
    body = json.dumps(MIXED_WS_BODY).encode("utf-8")
    srv = ws.make_server()
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def post():
        conn = http.client.HTTPConnection(*srv.server_address, timeout=300)
        conn.request("POST", "/csvw2rdf", body,
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        payload = resp.read()
        conn.close()
        assert resp.status == 200, payload

    try:
        yield post
    finally:
        srv.shutdown()
        srv.server_close()


def test_warm_request_py4j_budget(spark, py4j_commands):
    """A web-service request for a spec the process has converted before
    replays the conversion's compiled Columns instead of building them
    again, and a cache miss costs no more than a build did without one."""
    with _ws_poster() as post:
        post()  # cold: compiles the conversion
        warm = py4j_commands(post)
    assert warm <= WARM_REQUEST_COMMANDS, warm

    table = _mixed_table(MIXED_COLS, "http://example.org/")
    df = spark.createDataFrame(
        [], ", ".join(f"{n} string" for n, _dt in MIXED_COLS))
    csvw2rdf._compile.cache_clear()
    miss = py4j_commands(csvw2rdf.table_to_triples, df, table, minimal=True)
    assert miss <= PRE_CACHE_BUILD_COMMANDS, miss


def test_warm_request_runs_one_spark_job(spark, monkeypatch):
    """A warm ``POST /csvw2rdf`` of a headered CSV runs one Spark job, with
    neither an ``Exchange`` nor a ``Window`` in its plan: the header skip is
    a narrow filter, so scan, mapping and serialization stay in the input's
    own split. Skipping the header with a row-number window cost a
    single-partition exchange and an adaptive shuffle stage: 2 jobs."""
    from csvw_rdf_convertor_spark import cli
    sc = spark.sparkContext
    group = "test_plan_shape:warm_request"
    frames = []
    main, stream = cli.main, cli._stream_lines

    def grouped(argv):  # the request thread's jobs, under the test's group
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return main(argv)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    with _ws_poster() as post:
        post()  # cold
        monkeypatch.setattr(cli, "main", grouped)
        monkeypatch.setattr(cli, "_stream_lines",
                            lambda df, *a: frames.append(df) or stream(df, *a))
        post()
    # job starts reach the status store through the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    (lines,) = frames
    plan = lines._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan, plan





_TRIPLE = ("http://example.org/s", "http://example.org/p", "1", "literal",
           XSD + "integer", "", "")


def _one_column(spark, **extra):
    """Two string rows and their one-column table (no required column)."""
    table = parse_descriptor({"url": "http://example.org/t.csv",
                              "tableSchema": {"columns": [{"name": "a"}]},
                              **extra}).tables[0]
    return spark.range(2).selectExpr("cast(id as string) as a"), table


#: each package function that builds a frame from driver-side rows
DRIVER_FRAMES = {
    "cc.canonical_mapping":
        lambda spark: cc.canonical_mapping(spark, alias_dictionary()),
    "linking.alias_table":
        lambda spark: linking.alias_table(spark, alias_dictionary()),
    "rdf2csvw.merged_column_datatypes":
        lambda spark: rdf2csvw.merged_column_datatypes(
            triples_df(spark, [_TRIPLE])),
    "rdf2csvw_run.triples_df": lambda spark: triples_df(spark, [_TRIPLE]),
    "csvw2rdf.issues":
        lambda spark: csvw2rdf.issues(*_one_column(spark)),
    "csvw2rdf.table_to_triples[suppressed]":
        lambda spark: csvw2rdf.table_to_triples(
            *_one_column(spark, suppressOutput=True)),
}


@pytest.mark.parametrize("builder", list(DRIVER_FRAMES))
def test_driver_built_frames_are_local_relations(spark, builder):
    """A frame built from driver-side rows must be a JVM ``LocalRelation``,
    not a ``LogicalRDD`` over pickled Python rows: each action on the latter
    starts one Python worker task per default-parallelism slice, each with
    a fixed cost, even for zero rows."""
    df = DRIVER_FRAMES[builder](spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan, plan
