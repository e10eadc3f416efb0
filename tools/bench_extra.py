"""Round-6 optimization measurement harness (bench.py is FROZEN — extra
measurements live here, guide §1.4: noop-sink isolation, per-stage splits,
job counts).

Modes (all run on a fresh taskset-pinned 2-core JVM unless noted, the same
protocol as bench.py's headline):

    python tools/bench_extra.py plans <outdir>     # explain("formatted") for
                                                   # the headline queries
    taskset -c 0-1 python tools/bench_extra.py kg        # KG per-stage split
    taskset -c 0-1 python tools/bench_extra.py minhash   # minhash per-stage
    taskset -c 0-1 python tools/bench_extra.py small     # small headline rows

Nothing here is used by bench.py; numbers are cited in OPTIMIZATION_r06.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark(cpus: int = 2):
    import bench
    local_dir = tempfile.mkdtemp(prefix="bx_", dir="/dev/shm") \
        if os.path.isdir("/dev/shm") else None
    os.environ.setdefault("SPARK_GRAFT_MEM", f"{4 * cpus}g")
    spark = bench.build_spark(cpus, local_dir)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(fn, warm: int = 1, reps: int = 3) -> float:
    for _ in range(warm):
        fn()
    out = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        out.append(time.time() - t0)
    return round(statistics.median(out), 3)


def _headline_dfs(spark, cpus: int = 2):
    """The exact DataFrames bench.py times (same builders, same inputs)."""
    import bench
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csvw_rdf_convertor_spark.functions.ntriples import to_ntriples_lines
    from csvw_rdf_convertor_spark.ops import dedup, similarity
    from csvw_rdf_convertor_spark.ops import text as text_ops
    from csvw_rdf_convertor_spark.plans.csvw2rdf import table_to_triples
    from csvw_rdf_convertor_spark.spec import parse_descriptor

    def rp(name):
        return spark.read.parquet(f"{SF_DIR}/{name}.parquet").repartition(cpus)

    li = bench._lineitem_mapping_input(spark, SF_DIR, cpus)
    tbl = parse_descriptor(bench.LINEITEM_DESC).tables[0]
    lineitem, orders, customer = rp("lineitem"), rp("orders"), rp("customer")
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    docs = rp("documents")
    emb = rp("embeddings")
    queries = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
               .where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return {
        "csvw2rdf_lineitem": table_to_triples(li, tbl),
        "ntriples_serialize": to_ntriples_lines(table_to_triples(li, tbl)),
        "q1_pricing_summary": (
            lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(d("l_quantity")).alias("sum_qty"),
                 F.count("*").alias("count_order"))),
        "q3_join_topk": (
            lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(customer.where(F.col("c_mktsegment") == "BUILDING")),
                  orders.o_custkey == F.col("c_custkey"))
            .groupBy("o_orderkey")
            .agg(F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                               - d("l_discount"))).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)),
        "w1_rownum_topk": (
            orders.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)),
        "text_profile": text_ops.document_profile(docs),
        "dedup_exact": dedup.exact_duplicates(docs),
        "dedup_minhash_pairs": dedup.minhash_near_duplicates(docs, threshold=0.6),
        "sim_topk_bruteforce": similarity.brute_force_topk(emb, queries, k=5),
    }


def mode_plans(outdir: str, suffix: str) -> None:
    os.makedirs(outdir, exist_ok=True)
    spark = _spark(2)
    for name, df in _headline_dfs(spark).items():
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
    spark.stop()
    print(json.dumps({"wrote": outdir, "suffix": suffix}))


def mode_kg() -> None:
    """Per-stage decomposition of pipeline.run at bench parity (sf factor →
    n_convs, max_len=400, n_buckets=8, resume=False), pinned 2 cores."""
    from pyspark.sql import functions as F

    import bench
    from csvw_rdf_convertor_spark.functions.terms import TRIPLE_COLS
    from csvw_rdf_convertor_spark.kg import cc, linking, pipeline
    from csvw_rdf_convertor_spark.kg import mentions as mentions_mod
    from csvw_rdf_convertor_spark.kg.synth import alias_dictionary, synth_transcripts

    spark = _spark(2)
    sc = spark.sparkContext
    sf = bench._sf_of(SF_DIR)
    n_convs = max(int(1_000_000 * sf), 50)
    cpus, n_buckets = 2, 8
    tr = synth_transcripts(spark, n_convs=n_convs, max_len=400).repartition(cpus)

    out: dict = {"n_convs": n_convs, "stages": {}}
    t = out["stages"]

    def stamp(name, fn):
        t0 = time.time()
        r = fn()
        t[name] = round(time.time() - t0, 3)
        return r

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(None) or []) \
            if hasattr(sc.statusTracker(), "getJobIdsForGroup") else -1

    # end-to-end first (cold + warm), exactly as bench times it
    e2e = []
    for _ in range(3):
        d = tempfile.mkdtemp(prefix="kg_bx_")
        t0 = time.time()
        m = pipeline.run(tr, d, n_buckets=n_buckets, resume=False)
        e2e.append(round(time.time() - t0, 3))
        shutil.rmtree(d, ignore_errors=True)
    out["end2end_cold_then_warm"] = e2e
    out["triples"] = m.triples

    # stage split (warm JVM now)
    dictionary = alias_dictionary()
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    todo = tr.withColumn("bucket", bucket).repartition(n_buckets, "bucket").cache()
    stamp("synth+repartition+cache", lambda: todo.count())
    out["n_turns"] = todo.count()

    turns = pipeline.turn_triples(todo, passthrough=("bucket",))
    stamp("turn_triples_noop", lambda: _noop(turns))

    ments = mentions_mod.detect_mentions(todo, dictionary).persist()
    stamp("detect_mentions_count", lambda: ments.count())
    aliases = linking.alias_table(spark, dictionary)
    t0 = time.time()
    linked = linking.link(ments, aliases).withColumn("bucket", bucket).persist()
    t["link_build(isEmpty probe)"] = round(time.time() - t0, 3)
    stamp("link_materialize", lambda: linked.count())
    canon = stamp("cc", lambda: cc.canonical_mapping(spark, dictionary))
    m_triples = pipeline.mention_triples(linked, canon, passthrough=["bucket"])
    stamp("mention_triples_noop", lambda: _noop(m_triples))

    all_triples = (turns.select("bucket", *TRIPLE_COLS)
                   .unionByName(m_triples.select("bucket", *TRIPLE_COLS)
                                .repartition(n_buckets, "bucket")))
    d = tempfile.mkdtemp(prefix="kg_bx_w_")
    stamp("write_parquet", lambda: (
        all_triples.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(f"{d}/triples")))

    tagged = (todo.select("bucket", F.lit("turn").alias("kind"))
              .unionByName(ments.withColumn("bucket", bucket)
                           .select("bucket", F.lit("mention").alias("kind")))
              .unionByName(linked.select("bucket", F.lit("link").alias("kind"))))
    counts = (tagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("kind") == "turn", 1).otherwise(0)).alias("n_turns"),
        F.sum(F.when(F.col("kind") == "mention", 1).otherwise(0)).alias("n_mentions"),
        F.sum(F.when(F.col("kind") == "link", 1).otherwise(0)).alias("n_links")))
    triple_counts = (spark.read.parquet(f"{d}/triples")
                     .groupBy("bucket").agg(F.count("*").alias("n_triples")))
    manifest = (counts.join(triple_counts, "bucket", "left").na.fill(0)
                .withColumn("finished_at", F.current_timestamp()))
    stamp("manifest_write", lambda: manifest.write.mode("append")
          .parquet(f"{d}/manifest"))
    stamp("manifest_readback", lambda: spark.read.parquet(f"{d}/manifest").collect())
    shutil.rmtree(d, ignore_errors=True)
    out["sum_stages"] = round(sum(t.values()), 2)
    print(json.dumps(out, indent=1))
    spark.stop()


def mode_minhash() -> None:
    """Stage isolation for dedup_minhash_pairs (noop sink, guide §1.4)."""
    from pyspark.sql import functions as F

    from csvw_rdf_convertor_spark.ops import dedup
    from csvw_rdf_convertor_spark.ops.minhash import (
        lsh_bands, shingle_pairs, signature_from_pairs, with_word_shingles)

    spark = _spark(2)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(2)
    out = {}
    base0 = with_word_shingles(
        docs.select(F.col("doc_id").alias("id"), "text"), ["id"])
    out["shingles_noop"] = timed(lambda: _noop(base0))
    prs = base0.withColumn("pr", shingle_pairs(F.col("sh"), "xxhash64")).drop("sh")
    out["pairs_noop"] = timed(lambda: _noop(prs))
    sig = prs.withColumn("sig", signature_from_pairs(F.col("pr"), 64)).drop("pr")
    out["sig_noop"] = timed(lambda: _noop(sig))
    bands = lsh_bands(sig, "sig", 16, 4, ["id"], "xxhash64")
    out["bands_noop"] = timed(lambda: _noop(bands))
    full = dedup.minhash_near_duplicates(docs, threshold=0.6)
    out["full_noop"] = timed(lambda: _noop(full))
    out["full_count"] = timed(lambda: full.count())
    print(json.dumps(out, indent=1))
    spark.stop()


def mode_small() -> None:
    """The small headline rows, isolated with the noop sink."""
    spark = _spark(2)
    dfs = _headline_dfs(spark)
    out = {}
    for name in ("q1_pricing_summary", "q3_join_topk", "w1_rownum_topk",
                 "text_profile", "dedup_exact", "sim_topk_bruteforce"):
        out[name + "_noop"] = timed(lambda df=dfs[name]: _noop(df))
    print(json.dumps(out, indent=1))
    spark.stop()


def mode_mapping() -> None:
    """Mapping + ntriples with noop sink (count() can prune)."""
    spark = _spark(2)
    dfs = _headline_dfs(spark)
    out = {}
    for name in ("csvw2rdf_lineitem", "ntriples_serialize"):
        out[name + "_noop"] = timed(lambda df=dfs[name]: _noop(df))
        out[name + "_count"] = timed(lambda df=dfs[name]: df.count())
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "plans"
    if mode == "plans":
        mode_plans(sys.argv[2] if len(sys.argv) > 2 else "plans/r06",
                   sys.argv[3] if len(sys.argv) > 3 else "before")
    elif mode == "kg":
        mode_kg()
    elif mode == "minhash":
        mode_minhash()
    elif mode == "small":
        mode_small()
    elif mode == "mapping":
        mode_mapping()
    else:
        raise SystemExit(f"unknown mode {mode!r}")
