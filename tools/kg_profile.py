"""Per-stage wall-clock profile of the KG pipeline at one parallelism level —
where does the non-scaling time live? Mirrors pipeline.run's exact stage
structure but times each action separately.

    taskset -c 0-7 python tools/kg_profile.py 8 750000
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main():
    cpus = int(sys.argv[1])
    n_convs = int(sys.argv[2]) if len(sys.argv) > 2 else 750_000
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from pyspark.sql import SparkSession, functions as F
    from csvw_rdf_convertor_spark.functions.terms import TRIPLE_COLS
    from csvw_rdf_convertor_spark.kg import cc, linking, pipeline
    from csvw_rdf_convertor_spark.kg import mentions as mentions_mod
    from csvw_rdf_convertor_spark.kg.synth import alias_dictionary, synth_transcripts

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName(f"kg-profile-{cpus}")
             .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.codegen.methodSplitThreshold", "256")
             .config("spark.driver.memory", "32g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    tr = (synth_transcripts(spark, n_convs=n_convs, max_len=600)
          .repartition(cpus * 4).cache())
    n = tr.count()
    out: dict = {"cpus": cpus, "turns": n, "stages": {}}
    t: dict = out["stages"]
    dictionary = alias_dictionary()
    n_buckets = 64
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")

    def stamp(name, fn):
        t0 = time.time()
        r = fn()
        t[name] = round(time.time() - t0, 2)
        return r

    todo = tr.withColumn("bucket", bucket).repartition(n_buckets, "bucket").cache()
    stamp("repartition+cache", lambda: todo.count())

    turns = pipeline.turn_triples(todo, passthrough=("bucket",))
    stamp("turn_triples_noop", lambda: turns.write.format("noop")
          .mode("overwrite").save())

    ments = mentions_mod.detect_mentions(todo, dictionary).persist()
    stamp("detect_mentions", lambda: ments.count())
    aliases = linking.alias_table(spark, dictionary)
    linked = linking.link(ments, aliases).withColumn("bucket", bucket).persist()
    stamp("link", lambda: linked.count())
    canon = stamp("cc", lambda: cc.canonical_mapping(spark, dictionary))
    m_triples = pipeline.mention_triples(linked, canon, passthrough=["bucket"])
    stamp("mention_triples_noop", lambda: m_triples.write.format("noop")
          .mode("overwrite").save())

    all_triples = (turns.select("bucket", *TRIPLE_COLS)
                   .unionByName(m_triples.select("bucket", *TRIPLE_COLS)
                                .repartition(n_buckets, "bucket")))
    d = tempfile.mkdtemp(prefix="kg_prof_")
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
    stamp("manifest", lambda: manifest.write.mode("append")
          .parquet(f"{d}/manifest"))

    # size of what was written (MB) — is the write disk-bound?
    total = sum(p.stat().st_size for p in __import__("pathlib")
                .Path(d).rglob("*") if p.is_file())
    out["written_mb"] = round(total / 1e6, 1)
    shutil.rmtree(d, ignore_errors=True)
    out["sum_stages"] = round(sum(t.values()), 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
