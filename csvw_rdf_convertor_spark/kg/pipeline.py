"""End-to-end transcripts→KG pipeline: mapping → mentions → linking →
canonicalization → materialize, resumable from per-partition checkpoints.

The turn/conversation triples are produced by the SAME CSVW mapping engine
used for tables (plans/csvw2rdf.py) — the transcripts table is just another
CSVW-style table whose descriptor uses URI templates over (conv_id,
turn_idx) and virtual membership columns (SURVEY.md §7.1.4; FIXTURES.md F4).

Scale contract (north rule):
- partitioning: output + checkpoints keyed by ``bucket =
  pmod(xxhash64(conv_id), n_buckets)`` — conversations never straddle
  buckets, so a resumed run is exactly-once per conversation. ``n_buckets``
  sets commit and resume granularity only. The bucket shuffles name no
  partition count, so they hash into ``spark.sql.shuffle.partitions`` (or
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) partitions,
  at most ``n_buckets`` of them non-empty, and AQE merges neighbours up to
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: that sets the write
  parallelism. Coalescing merges whole partitions and never splits one, so
  each bucket lies in one write task at any scale (one file per bucket per
  side). With AQE or its coalescing off, the write runs one task per
  shuffle partition, mostly empty ones when buckets are fewer;
- row numbering is per-conv (turn_idx is data, not a global sort) — the
  whole mapping stage is narrow, no shuffle;
- hot-conversation skew: algebraic aggregations (linking support counts)
  rely on map-side partial aggregation — the built-in two-stage combine
  that splits hot keys across input partitions (an explicit salt layer
  measured 4.5× slower, see linking.link_exact);
  joins lean on AQE skew-split; the LSH band joins use uniform hash keys;
- canonicalization: computed from the alias dictionary on the driver
  (``cc.canonical_mapping``, no Spark job) and broadcast into the mention
  triples;
- resumability: after a run's triples commit, a manifest parquet records
  (bucket, finished_at) per bucket it ran; a rerun drops completed buckets
  before any work (and plans nothing if none is left), so a killed run
  resumes with no duplicate triples. Run totals come from one
  ``Observation`` on the triple write; per-bucket counts from one
  ``groupBy("bucket")`` over the sink;
- in production the sinks are partitioned Iceberg tables (snapshot commits
  give the same atomicity); in this sandbox they are partitioned parquet
  behind the same writer seam, the triples in zstd, the codec an Iceberg
  table writes by default (``write.parquet.compression-codec``), so the
  stand-in stores what production would per triple.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.ntriples import to_ntriples_lines
from ..functions.terms import TRIPLE_COLS, skolem, triple
from ..plans.csvw2rdf import table_to_triples
from ..sources.local import local_frame
from ..spec import RDF, XSD, parse_descriptor
from . import cc, linking
from . import mentions as mentions_mod
from .synth import alias_dictionary

KG = "https://kg.example.org/ns#"

#: CSVW-style descriptor for the transcripts table — the "mapping program".
TRANSCRIPTS_DESCRIPTOR = {
    "url": "urn:transcripts",
    "tableSchema": {
        "aboutUrl": "urn:conv:{conv_id}#turn-{turn_idx}",
        "columns": [
            # suppressed physical column: template-visible, emits no triple
            {"name": "conv_id", "suppressOutput": True},
            {"name": "role", "propertyUrl": KG + "role"},
            {"name": "text", "propertyUrl": KG + "text", "datatype": "string"},
            {"name": "tool", "propertyUrl": KG + "tool", "null": [""]},
            {"name": "ts", "propertyUrl": KG + "ts",
             "datatype": {"base": "dateTime"}},
            {"name": "turn_idx", "propertyUrl": KG + "turnIndex",
             "datatype": "integer"},
            # virtual: turn —kg:inConversation→ conv node
            {"name": "in_conv", "virtual": True,
             "propertyUrl": KG + "inConversation", "valueUrl": "urn:conv:{conv_id}"},
            # virtual: conv typing (repeated per turn; the triples DF is a set)
            {"name": "conv_type", "virtual": True, "aboutUrl": "urn:conv:{conv_id}",
             "propertyUrl": "rdf:type", "valueUrl": KG + "Conversation"},
            {"name": "turn_type", "virtual": True,
             "propertyUrl": "rdf:type", "valueUrl": KG + "Turn"},
        ],
    },
}


def transcripts_table_spec():
    return parse_descriptor(TRANSCRIPTS_DESCRIPTOR).tables[0]


def turn_triples(transcripts: DataFrame,
                 passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Per-turn triples via the csvw2rdf engine. The cell pipeline consumes
    string lexicals: ts is pre-rendered ISO-8601 UTC (deterministic — the
    session TZ is pinned to UTC). ``passthrough`` columns (e.g. the
    partition bucket) ride through the mapping unchanged."""
    df = transcripts.select(
        *passthrough,
        F.col("conv_id"),
        F.col("turn_idx").cast("string").alias("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.coalesce(F.col("tool"), F.lit("")).alias("tool"),
        F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")).alias("ts"),
    )
    # turn_idx is data-provided ordering — the mapping adds no shuffle
    return table_to_triples(df, transcripts_table_spec(), minimal=True,
                            passthrough=passthrough)


def _mention_triple_array(mention_col, entity_col, score4_col, turn_iri, m_node):
    """``score4_col`` is the ALREADY-rendered 4-decimal score string — the
    caller stages it (with the skolem and turn IRI) as a real column so the
    5-way fan-out references attributes (r6 staging, see mention_triples)."""
    return F.array(
        triple(turn_iri, F.lit(KG + "mentions"), m_node, F.lit("bnode")),
        triple(m_node, F.lit(RDF + "type"), F.lit(KG + "Mention"),
               F.lit("iri")),
        triple(m_node, F.lit(KG + "surfaceForm"), mention_col,
               F.lit("literal")),
        triple(m_node, F.lit(KG + "linkedTo"), entity_col, F.lit("iri")),
        triple(m_node, F.lit(KG + "linkScore"), score4_col, F.lit("literal"),
               F.lit(XSD + "double")),
    )


def mention_triples(linked: DataFrame, canon: DataFrame,
                    passthrough: list[str] = ()) -> DataFrame:
    """Triples for linked mentions with canonicalized entity ids.

    mention node = deterministic skolem of (conv, turn, match ordinal) (T9).
    ``canon`` (node → canonical, from ``cc.canonical_mapping``) is small →
    broadcast left join + coalesce. ``passthrough`` columns (e.g. the
    partition bucket) are carried through the explode.
    """
    # stage the multiply-referenced terms as REAL columns before the 5-way
    # triple fan-out: the mention skolem (sha2) and turn IRI are referenced
    # by every struct in the array, and inside the Generate's fused
    # expression each reference re-evaluates (r6: ~1.3× on this stage;
    # same staging rule as plans/csvw2rdf.py stage 3). CollapseProject
    # keeps the projection: the producers are non-cheap and multi-referenced.
    resolved = (linked.join(F.broadcast(canon),
                            linked.entity_id == canon.node, "left")
                .select(*passthrough, "mention", "link_score",
                        F.concat(F.lit("urn:conv:"), F.col("conv_id"),
                                 F.lit("#turn-"),
                                 F.col("turn_idx").cast("string")).alias("_turn_iri"),
                        skolem("mention", F.col("conv_id"), F.col("turn_idx"),
                               F.col("match_i")).alias("_m_node"),
                        F.coalesce("canonical", "entity_id").alias("entity_final"),
                        F.format_number(F.col("link_score"), 4).alias("_score4")))
    arr = _mention_triple_array(F.col("mention"), F.col("entity_final"),
                                F.col("_score4"), F.col("_turn_iri"),
                                F.col("_m_node"))
    cols = [F.col(c) for c in passthrough] + [F.explode(arr).alias("t")]
    return resolved.select(*cols).select(*passthrough, "t.*")


@dataclass
class RunMetrics:
    buckets_done: int
    buckets_skipped: int
    turns: int
    mentions: int
    links: int
    triples: int
    wall_s: float


def run(transcripts: DataFrame, out_dir: str, *,
        dictionary: list[tuple[str, str, list[str]]] | None = None,
        n_buckets: int = 8, resume: bool = True,
        write_nt: bool = False) -> RunMetrics:
    """Materialize the KG for every bucket not yet in the manifest.

    Layout under ``out_dir``:
      triples/   zstd parquet partitioned by bucket (prod: Iceberg table)
      ntriples/  optional N-Triples text
      manifest/  parquet (bucket, finished_at), one row per bucket a run
                 committed — the resume checkpoint, nothing else
    """
    t0 = time.time()
    spark = transcripts.sparkSession
    dictionary = dictionary or alias_dictionary()
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")

    done: set[int] = set()
    manifest_path = f"{out_dir}/manifest"
    # no manifest = fresh run; a corrupt one fails the read, never redoes
    # every bucket. Asked of the file system, not by catching PATH_NOT_FOUND:
    # after an Observation, Spark logs each failed read as a listener error.
    path = spark._jvm.org.apache.hadoop.fs.Path(manifest_path)
    if resume and path.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()).exists(path):
        done = {r.bucket for r in
                spark.read.parquet(manifest_path).select("bucket").collect()}
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return RunMetrics(0, len(done), 0, 0, 0, 0, time.time() - t0)

    # Repartition the SMALL transcript rows by bucket BEFORE the mapping
    # fans them out into ~10× more triple rows: the narrow mapping preserves
    # partitioning, so the write needs no triples-wide shuffle at all — the
    # engine's single biggest memory-bandwidth term at high core counts
    # (round-2 scaling fix). No partition count: AQE coalesces the shuffle
    # to its advisory size (a 38k-triple run writes in 1 task, not 8), and
    # since it only merges whole hash partitions each bucket still lies in
    # one task, which is what exactly-once resume needs.
    pending = transcripts.withColumn("bucket", bucket)
    if done:
        pending = pending.where(~F.col("bucket").isin(*done))

    # -- stage 1: CSVW-style mapping (narrow) + mention detection (narrow) ---
    turns = turn_triples(pending.repartition("bucket"),
                         passthrough=("bucket",))
    # Detection reads the input's own splits, not the bucket partitions:
    # it is narrow and needs no bucket co-location (linking regroups by
    # conv_id, and the mention triples are repartitioned by bucket before
    # the write), and every Python worker task has a fixed cost whatever it
    # does (sources/local.py), so detection starts one task per input split
    # and no more. At scale its parallelism follows the input splits.
    # persist: link_exact joins the mentions with an aggregate of
    # themselves, so without it detection, the run's only Python work, runs
    # twice per input split (4 calls on 2 splits; 6 with link()'s probe)
    ments = mentions_mod.detect_mentions(pending, dictionary).persist()
    aliases = linking.alias_table(spark, dictionary)
    linked = linking.link(ments, aliases).withColumn("bucket", bucket)
    canon = cc.canonical_mapping(spark, dictionary)
    m_triples = mention_triples(linked, canon, passthrough=["bucket"])

    # mention triples are orders of magnitude fewer than turn triples —
    # repartitioning ONLY them keeps the bucket-partitioned write while
    # shuffling mention-scale bytes instead of corpus-scale triples. Both
    # sides hash the same column into the same partition count, so the
    # union is partition-aligned and AQE coalesces the two alike.
    all_triples = (turns.select("bucket", *TRIPLE_COLS)
                   .unionByName(m_triples.select("bucket", *TRIPLE_COLS)
                                .repartition("bucket")))
    # run totals from the write itself, O(1) aggregates per row (per-bucket
    # counts would cost one aggregate per bucket on every row): each turn
    # has one rdf:type kg:Turn, each linked mention one kg:Mention
    typed = F.col("pred") == RDF + "type"
    totals = Observation("kg_run")
    observed = all_triples.observe(
        totals, F.count(F.lit(1)).alias("triples"),
        F.count_if(typed & (F.col("obj_lex") == KG + "Turn")).alias("turns"),
        F.count_if(typed & (F.col("obj_lex") == KG + "Mention")
                   ).alias("mentions"),
        F.count_if(F.col("pred") == KG + "linkedTo").alias("links"))
    # dynamic partition overwrite = idempotent per-bucket commit (the parquet
    # stand-in for an Iceberg partition-overwrite snapshot): a re-run of a
    # bucket replaces its files instead of appending duplicates.
    # zstd at its default level, Iceberg's default parquet codec, set on
    # this write only, never on the caller's session: the 38,395 triples of
    # a 600-conversation run take 7.83 B/triple against 11.76 in snappy,
    # Spark's default (−33%), for 0.33 s of write CPU against 0.32 and the
    # same 0.115 s full scan (4-core host, medians of 20 alternating
    # writes). Higher levels and a sort within each bucket were measured
    # and not adopted (CLAUDE.md, "Parquet sinks are zstd").
    (observed.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .option("compression", "zstd")
     .partitionBy("bucket").parquet(f"{out_dir}/triples"))
    ments.unpersist()
    if write_nt:
        # the lines come from the bucket files this run just committed, a
        # partition-pruned scan (the schema given, so no footer-read job),
        # not a second plan of mapping, linking and both bucket shuffles:
        # a warm 600-conversation synth run (38,551 triples, 8 buckets,
        # 4-core host) starts 11 Spark jobs instead of 17, median wall
        # 2.66 → 2.29 s over 15 runs each, identical lines.
        # Same dynamic partition overwrite as the parquet sink — a resumed/
        # retried run REPLACES a bucket's NT files instead of appending
        # duplicates (exactly-once per bucket holds for both sinks)
        committed = (spark.read.schema(all_triples.schema)
                     .parquet(f"{out_dir}/triples")
                     .where(F.col("bucket").isin(*todo)))
        (to_ntriples_lines(committed, keep=["bucket"])
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").text(f"{out_dir}/ntriples"))

    # -- stage 2: the checkpoint, after the sinks commit (one file per run) --
    (local_frame(spark, [(b,) for b in todo], "bucket int")
     .withColumn("finished_at", F.current_timestamp())
     .coalesce(1).write.mode("append").parquet(manifest_path))
    n = totals.get
    return RunMetrics(len(todo), len(done), n["turns"], n["mentions"],
                      n["links"], n["triples"], time.time() - t0)
