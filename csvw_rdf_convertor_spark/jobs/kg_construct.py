"""transcripts → knowledge-graph construction job (the north-rule launch path).

Run on a cluster::

    python tools/package_pyfiles.py            # → dist/csvw_rdf_convertor_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/csvw_rdf_convertor_spark.zip \\
        jobs/kg_construct.py \\
        --input warehouse.kg.transcripts --input-format iceberg \\
        --output s3://bucket/kg --n-buckets 4096

The job builds NO master/executor config of its own — sizing (N vs 4N
executors, memory, AQE) belongs to ``spark-submit`` flags / cluster defaults.
That includes write parallelism: ``--n-buckets 4096`` above sets how finely
a run commits and resumes, not how many tasks write. The bucket shuffles
hash into ``spark.sql.shuffle.partitions`` (or
``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) partitions,
which AQE merges up to ``spark.sql.adaptive.advisoryPartitionSizeInBytes``;
a bucket never spans two write tasks.
It only sets the confs the engine itself requires to be correct and fast
(UTC session TZ for timestamp-lexical determinism; codegen method split so
the wide cell pipeline stays compiled — see ``plans/csvw2rdf.py``).

Input: a table of multi-turn transcripts with columns
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` — an Iceberg table in production (``--input-format
iceberg`` reads through the session catalog configured on the cluster), a
parquet path in this sandbox, or ``--synth N`` for a deterministic
generated corpus (tests/smoke).

Output layout and the resume/exactly-once contract are ``kg.pipeline.run``'s
(partitioned triples + a manifest of finished buckets). The parquet triple
sink is zstd; an Iceberg sink takes its codec from the table property
``write.parquet.compression-codec`` (zstd by default), not from this code.
The job prints ONE JSON line of the run's totals on stdout —
schedulable/parsable.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession


def _build_session(app_name: str) -> SparkSession:
    spark = SparkSession.builder.appName(app_name).getOrCreate()
    # engine-required runtime confs only (cluster sizing stays in spark-submit)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.codegen.methodSplitThreshold", "256")
    return spark


def _read_transcripts(spark: SparkSession, args) -> DataFrame:
    if args.synth:
        from ..kg.synth import synth_transcripts
        return synth_transcripts(spark, n_convs=args.synth, seed=args.seed)
    if args.input_format == "iceberg":
        # catalog-qualified identifier; the Iceberg catalog is cluster config
        # (spark-submit --conf spark.sql.catalog.* ...), not job code
        return spark.read.table(args.input)
    return spark.read.parquet(args.input)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts table (path or identifier)")
    src.add_argument("--synth", type=int, metavar="N_CONVS",
                     help="generate a deterministic synthetic corpus instead")
    ap.add_argument("--input-format", choices=("parquet", "iceberg"),
                    default="parquet")
    ap.add_argument("--output", required=True, help="KG output root")
    ap.add_argument("--n-buckets", type=int, default=8,
                    help="conv_id hash buckets = commit/resume granularity "
                         "only; write parallelism comes from "
                         "spark.sql.shuffle.partitions (or AQE's "
                         "initialPartitionNum) and the advisory partition "
                         "size. One bucket is written by one task, so keep "
                         "a bucket's triples within what one task can write")
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore an existing manifest (full rebuild)")
    ap.add_argument("--write-nt", action="store_true",
                    help="also materialize N-Triples text")
    ap.add_argument("--seed", type=int, default=42, help="--synth seed")
    args = ap.parse_args(argv)

    spark = _build_session("kg-construct")
    from ..kg import pipeline  # after session: import cost on executors only

    transcripts = _read_transcripts(spark, args)
    metrics = pipeline.run(transcripts, args.output,
                           n_buckets=args.n_buckets,
                           resume=not args.no_resume,
                           write_nt=args.write_nt)
    print(json.dumps({
        "job": "kg_construct",
        "buckets_done": metrics.buckets_done,
        "buckets_skipped": metrics.buckets_skipped,
        "turns": metrics.turns,
        "mentions": metrics.mentions,
        "links": metrics.links,
        "triples": metrics.triples,
        "wall_s": round(metrics.wall_s, 3),
        "triples_per_sec": round(metrics.triples / metrics.wall_s, 1)
        if metrics.wall_s else None,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
