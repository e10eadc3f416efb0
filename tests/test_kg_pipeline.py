"""Transcripts→KG pipeline tests (north rule): per-turn text equality under
stable (conv_id, turn_idx) ordering, mention detection/linking correctness,
connected-components canonicalization, and kill/resume exactly-once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csvw_rdf_convertor_spark.kg import cc, linking, pipeline
from csvw_rdf_convertor_spark.kg import mentions as mentions_mod
from csvw_rdf_convertor_spark.kg.synth import alias_dictionary, synth_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, n_convs=40, max_len=60).cache()


def test_synth_deterministic_and_skewed(spark, transcripts):
    again = synth_transcripts(spark, n_convs=40, max_len=60)
    assert transcripts.exceptAll(again).count() == 0
    assert again.exceptAll(transcripts).count() == 0
    per_conv = transcripts.groupBy("conv_id").count().collect()
    sizes = {r.conv_id: r["count"] for r in per_conv}
    assert sizes["conv-0"] == 60          # hot conversation
    assert min(sizes.values()) >= 2


def test_per_turn_text_equality_invariant(spark, transcripts):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — kg:text triples must reproduce the input
    text exactly, keyed by the turn IRI."""
    triples = pipeline.turn_triples(transcripts)
    texts = (triples.where(F.col("pred") == pipeline.KG + "text")
             .select(
                 F.regexp_extract("subj", r"urn:conv:([^#]+)#turn-(\d+)", 1).alias("conv_id"),
                 F.regexp_extract("subj", r"urn:conv:([^#]+)#turn-(\d+)", 2)
                  .cast("int").alias("turn_idx"),
                 F.col("obj_lex").alias("text_out")))
    joined = transcripts.join(texts, ["conv_id", "turn_idx"], "full")
    mismatches = joined.where(
        F.col("text").isNull() | F.col("text_out").isNull()
        | (F.col("text") != F.col("text_out"))).count()
    assert mismatches == 0


def test_turn_triples_shapes(spark, transcripts):
    triples = pipeline.turn_triples(transcripts).cache()
    n_turns = transcripts.count()
    # every turn: role, text, ts, turnIndex, inConversation, rdf:type Turn
    for pred, expected in [
        (pipeline.KG + "role", n_turns),
        (pipeline.KG + "text", n_turns),
        (pipeline.KG + "ts", n_turns),
        (pipeline.KG + "turnIndex", n_turns),
        (pipeline.KG + "inConversation", n_turns),
    ]:
        assert triples.where(F.col("pred") == pred).count() == expected, pred
    # tool triples only for tool turns (null-suppressed otherwise, P3)
    n_tool = transcripts.where(F.col("tool").isNotNull()).count()
    assert triples.where(F.col("pred") == pipeline.KG + "tool").count() == n_tool
    # conversation typing: one distinct triple per conversation
    n_convs = transcripts.select("conv_id").distinct().count()
    conv_types = (triples.where((F.col("pred").endswith("type"))
                                & (F.col("obj_lex") == pipeline.KG + "Conversation"))
                  .distinct().count())
    assert conv_types == n_convs


def test_mention_detection_finds_planted_aliases(spark, transcripts):
    ments = mentions_mod.detect_mentions(transcripts, alias_dictionary()).cache()
    assert ments.count() >= transcripts.count()  # ≥1 mention planted per turn
    # every mention has ≥1 candidate (all surface forms come from the dict)
    assert ments.where(F.size("candidates") == 0).count() == 0
    # spot-check one row
    row = transcripts.where(F.col("text").contains("Paris")).first()
    if row:
        hit = ments.where((F.col("conv_id") == row.conv_id)
                          & (F.col("turn_idx") == row.turn_idx)
                          & F.col("mention_norm").contains("paris")).count()
        assert hit >= 1


def test_linking_resolves_every_mention(spark, transcripts):
    d = alias_dictionary()
    ments = mentions_mod.detect_mentions(transcripts, d)
    linked = linking.link(ments, linking.alias_table(spark, d)).cache()
    assert linked.count() == ments.count()
    assert linked.where(F.col("entity_id").isNull()).count() == 0
    assert linked.where((F.col("link_score") <= 0) | (F.col("link_score") > 1)).count() == 0


def test_fuzzy_linking_matches_typos(spark):
    d = alias_dictionary()
    unmatched = spark.createDataFrame(
        [("c1", 0, "Jupitre", "jupitre", 0, []),
         ("c1", 1, "zzzzqqq", "zzzzqqq", 0, [])],
        "conv_id string, turn_idx int, mention string, mention_norm string, "
        "match_i int, candidates array<string>")
    out = linking.link_fuzzy(unmatched, linking.alias_table(spark, d), threshold=0.35)
    rows = {r.mention_norm: r.entity_id for r in out.collect()}
    assert any("jupiter" in v for v in rows.get("jupitre", "x").split()) or \
        "jupiter" in rows.get("jupitre", "")
    assert "zzzzqqq" not in rows  # garbage stays unlinked


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2"), ("p2", "p3"), ("p3", "p4")],
        "src string, dst string")
    labels = cc.connected_components(edges)
    comp = {r.node: r.comp for r in labels.collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["p"] == comp["p2"] == comp["p3"] == comp["p4"] == "p"


def _jobs(spark, group: str, fn):
    """(Spark jobs ``fn()`` starts, counted under a fresh job group, and
    what it returns)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _codecs(bucket_files) -> set[str]:
    """Compression codecs of every column chunk of the given parquet files."""
    import pyarrow.parquet as pq

    codecs = set()
    for f in bucket_files:
        md = pq.ParquetFile(f).metadata
        codecs |= {md.row_group(g).column(c).compression
                   for g in range(md.num_row_groups)
                   for c in range(md.num_columns)}
    return codecs


def _forget_bucket(spark, out: str, bucket: int) -> None:
    """Drop ``bucket``'s manifest rows, as if the run that wrote it had been
    killed before its checkpoint."""
    man = spark.read.parquet(f"{out}/manifest").where(F.col("bucket") != bucket)
    man.write.mode("overwrite").parquet(f"{out}/manifest2")
    spark.read.parquet(f"{out}/manifest2").write.mode("overwrite") \
        .parquet(f"{out}/manifest")


def test_run_and_resume_exactly_once(spark, transcripts, tmp_path):
    out = str(tmp_path / "kg")
    # no manifest yet: a fresh run of every bucket
    m1 = pipeline.run(transcripts, out, n_buckets=4)
    assert m1.buckets_done == 4 and m1.buckets_skipped == 0
    assert m1.turns == transcripts.count()
    assert m1.triples > m1.turns * 5
    assert _codecs((tmp_path / "kg" / "triples").glob("bucket=*/*.parquet")) \
        == {"ZSTD"}
    total_before = spark.read.parquet(f"{out}/triples").count()

    # rerun: everything is checkpointed → no new triples, all buckets
    # skipped, and no Spark job beyond the manifest read
    read_jobs, _ = _jobs(spark, f"{out}:read", lambda: spark.read.parquet(
        f"{out}/manifest").select("bucket").collect())
    rerun_jobs, m2 = _jobs(spark, f"{out}:rerun", lambda: pipeline.run(
        transcripts, out, n_buckets=4))
    assert rerun_jobs == read_jobs
    assert m2.buckets_done == 0 and m2.buckets_skipped == 4
    assert spark.read.parquet(f"{out}/triples").count() == total_before

    # simulate a killed run: drop one bucket's manifest rows → only that
    # bucket is recomputed
    _forget_bucket(spark, out, 0)
    m3 = pipeline.run(transcripts, out, n_buckets=4)
    assert m3.buckets_done == 1 and m3.buckets_skipped == 3


def test_resume_over_a_snappy_sink(spark, transcripts, tmp_path):
    """An output written while the sink was snappy parquet resumes in
    place: dropping bucket 0's manifest row redoes bucket 0 alone, in zstd,
    leaves the other buckets' snappy files untouched, and the whole sink
    reads back with the same rows."""
    import pyarrow.parquet as pq

    out = tmp_path / "kg"
    pipeline.run(transcripts, str(out), n_buckets=4)
    triples = out / "triples"
    for f in triples.glob("bucket=*/*.parquet"):
        pq.write_table(pq.ParquetFile(f).read(), f, compression="snappy")
        # Hadoop's local file system checks each file against its .crc
        f.with_name(f".{f.name}.crc").unlink()
    before = sorted(spark.read.parquet(str(triples)).collect())
    others = sorted(triples.glob("bucket=[123]/*.parquet"))
    kept = {f: f.stat().st_mtime_ns for f in others}
    assert _codecs(others) == {"SNAPPY"}

    _forget_bucket(spark, str(out), 0)
    m = pipeline.run(transcripts, str(out), n_buckets=4)
    assert (m.buckets_done, m.buckets_skipped) == (1, 3)
    assert _codecs(triples.glob("bucket=0/*.parquet")) == {"ZSTD"}
    assert {f: f.stat().st_mtime_ns for f in others} == kept
    assert sorted(spark.read.parquet(str(triples)).collect()) == before


def test_nt_sink_is_exactly_once_on_rerun(spark, tmp_path):
    """The optional N-Triples sink must follow the same dynamic-partition-
    overwrite contract as the parquet sink: re-running a bucket replaces its
    NT lines instead of appending duplicates."""
    from csvw_rdf_convertor_spark.kg import pipeline
    from csvw_rdf_convertor_spark.kg.synth import synth_transcripts
    out = str(tmp_path / "kg")
    tr = synth_transcripts(spark, n_convs=10, max_len=10)
    pipeline.run(tr, out, n_buckets=2, write_nt=True)
    first = sorted(r.value for r in spark.read.text(f"{out}/ntriples").collect())
    # force a rerun of everything (fresh manifest → all buckets redone)
    import shutil
    shutil.rmtree(f"{out}/manifest")
    pipeline.run(tr, out, n_buckets=2, write_nt=True)
    second = sorted(r.value for r in spark.read.text(f"{out}/ntriples").collect())
    assert first == second  # no duplicated lines, byte-identical sink


def test_cc_fast_path_equals_distributed(spark):
    """Driver union-find (small-graph fast path) must produce exactly the
    distributed min-label fixpoint's labels."""
    import random
    rng = random.Random(7)
    edges_py = [(f"n{rng.randrange(60)}", f"n{rng.randrange(60)}")
                for _ in range(120)]
    edges = spark.createDataFrame(edges_py, "src string, dst string")
    fast = {(r.node, r.comp)
            for r in cc.connected_components(edges).collect()}
    slow = {(r.node, r.comp)
            for r in cc.connected_components(
                edges, small_graph_edges=0).collect()}
    assert fast == slow and len(fast) > 0


def test_canonical_ids_are_entities_whatever_their_prefix(spark, tmp_path):
    """Ids that sort after a surface form (Wikidata style) must not let a
    surface form become a component's canonical id: every kg:linkedTo
    object is a dictionary entity, the least of its component."""
    import datetime
    d = [("wd:Q308", "Mercury", ["Mercury"]),
         ("wd:Q925", "mercury", ["mercury", "quicksilver"])]
    ts = datetime.datetime(2024, 1, 1)
    tr = spark.createDataFrame(
        [("c1", 0, "user", "Mercury is a planet", None, ts),
         ("c1", 1, "assistant", "quicksilver is mercury", None, ts),
         ("c2", 0, "user", "what is quicksilver", None, ts)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    out = str(tmp_path / "kg")
    pipeline.run(tr, out, dictionary=d, n_buckets=2)
    linked_to = [r.obj_lex for r in spark.read.parquet(f"{out}/triples")
                 .where(F.col("pred") == pipeline.KG + "linkedTo").collect()]
    assert len(linked_to) == 4
    assert set(linked_to) == {"wd:Q308"}


#: A and B share one alias, B and C another: C reaches A only through B
CHAINED_DICTIONARY = [("ent:c", "C", ["gamma", "Beta-Gamma"]),
                      ("ent:b", "B", ["beta-gamma", "alpha-beta"]),
                      ("ent:a", "A", ["ALPHA-BETA", "alpha"])]


@pytest.mark.parametrize("dictionary", [alias_dictionary(), CHAINED_DICTIONARY],
                         ids=["synth", "chained"])
def test_canonical_mapping_equals_spark_components(spark, dictionary):
    """The driver-side mapping equals the Spark route: the dictionary's
    surface-form graph through connected_components, entity rows whose
    component is another node."""
    aliases = linking.alias_table(spark, dictionary)
    edges = cc.link_graph_edges(
        aliases.withColumnRenamed("alias", "mention_norm"), aliases)
    want = {(r.node, r.comp) for r in cc.connected_components(edges)
            .where(~F.col("node").startswith("sf:")
                   & (F.col("node") != F.col("comp"))).collect()}
    got = {(r.node, r.canonical)
           for r in cc.canonical_mapping(spark, dictionary).collect()}
    assert got == want and got
    if dictionary is CHAINED_DICTIONARY:
        assert got == {("ent:b", "ent:a"), ("ent:c", "ent:a")}


def test_resume_raises_on_corrupt_manifest(spark, tmp_path):
    """A manifest that exists but cannot be read must fail the run, not
    silently redo every bucket."""
    out = tmp_path / "kg"
    (out / "manifest").mkdir(parents=True)
    (out / "manifest" / "part-0.parquet").write_bytes(b"not a parquet file")
    tr = synth_transcripts(spark, n_convs=4, max_len=4)
    with pytest.raises(Exception, match="(?i)footer"):
        pipeline.run(tr, str(out), n_buckets=2)
    assert not (out / "triples").exists()


def test_detection_runs_over_input_splits(spark, transcripts, tmp_path,
                                          monkeypatch):
    """Mention detection reads the input's own partitions, not the
    ``n_buckets`` bucket partitions: it is narrow, and each Python worker
    task it starts has a fixed cost whatever it does."""
    seen = []
    detect = mentions_mod.detect_mentions

    def recording(frame, dictionary):
        seen.append(frame)
        return detect(frame, dictionary)

    monkeypatch.setattr(pipeline.mentions_mod, "detect_mentions", recording)
    splits = transcripts.repartition(3)
    m = pipeline.run(splits, str(tmp_path / "kg"), n_buckets=5)
    assert m.buckets_done == 5 and m.turns == transcripts.count()
    [frame] = seen
    assert frame.rdd.getNumPartitions() == splits.rdd.getNumPartitions() == 3


def test_warm_run_job_count(spark, transcripts, tmp_path):
    """A warm run of every bucket starts 9 Spark jobs: those of the
    ``isEmpty`` probe in ``linking.link``, the AQE stages of the triple
    write, and the manifest write. The run totals ride the triple write as one
    Observation; nothing is re-read. (17 before the manifest became a bare
    checkpoint: a tagged-union count aggregation over cached frames, a sink
    re-read, and a manifest re-read and collect.)"""
    pipeline.run(transcripts, str(tmp_path / "warm"), n_buckets=4)
    out = str(tmp_path / "kg")
    jobs, _ = _jobs(spark, out, lambda: pipeline.run(
        transcripts, out, n_buckets=4))
    assert jobs == 9


def _triple_write_tasks(spark, monkeypatch, fn):
    """(Tasks of the stage that writes ``triples/`` while ``fn()`` runs,
    and what it returns). The triple write's jobs run under a job group of
    their own; the last of them runs the write, in its result stage, which
    has the job's highest stage id (Spark creates parents first)."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    group = f"triple-write-{id(fn)}"
    parquet = DataFrameWriter.parquet

    def grouped(self, path, *args, **kwargs):
        if not path.endswith("/triples"):
            return parquet(self, path, *args, **kwargs)
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return parquet(self, path, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(DataFrameWriter, "parquet", grouped)
    out = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    write_job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    return st.getStageInfo(max(write_job.stageIds)).numTasks, out


def test_warm_run_write_is_sized_by_aqe(spark, transcripts, tmp_path,
                                        monkeypatch):
    """The bucket shuffles name no partition count, so AQE coalesces them:
    a small run writes its triples in one task, one file per bucket, where
    ``repartition(n_buckets, "bucket")`` pinned one task per bucket."""
    pipeline.run(transcripts, str(tmp_path / "cold"), n_buckets=4)
    out = tmp_path / "warm"
    tasks, m = _triple_write_tasks(spark, monkeypatch, lambda: pipeline.run(
        transcripts, str(out), n_buckets=4))
    assert tasks == 1 and m.buckets_done == 4
    assert sorted(len(list(d.glob("*.parquet")))
                  for d in (out / "triples").glob("bucket=*")) == [1, 1, 1, 1]


#: predicates only mention triples carry; every other triple is a turn's
MENTION_PREDICATES = {pipeline.KG + p for p in
                      ("mentions", "surfaceForm", "linkedTo", "linkScore")}


def _files_per_side(bucket_dir) -> dict[str, int]:
    """Parquet files of one ``triples/bucket=b/`` directory that hold turn
    triples and that hold mention triples."""
    import pyarrow.parquet as pq

    sides = {"turn": 0, "mention": 0}
    for f in bucket_dir.glob("*.parquet"):
        preds = set(pq.read_table(f, columns=["pred"])["pred"].to_pylist())
        sides["mention"] += bool(preds & MENTION_PREDICATES)
        sides["turn"] += bool(preds - MENTION_PREDICATES)
    return sides


def test_uncoalesced_write_keeps_buckets_whole(spark, transcripts, tmp_path,
                                               monkeypatch):
    """With AQE coalescing off, as when buckets are large, the write runs
    in ``spark.sql.shuffle.partitions`` tasks. Each bucket still lies in
    one task per side: at most one parquet file of turn triples and one of
    mention triples per bucket, and dropping one bucket's manifest row
    redoes that bucket alone, exactly once."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = tmp_path / "kg"
        tasks, m1 = _triple_write_tasks(spark, monkeypatch, lambda: pipeline.run(
            transcripts, str(out), n_buckets=4))
        assert tasks > 1 and m1.buckets_done == 4
        dirs = sorted((out / "triples").glob("bucket=*"))
        assert len(dirs) == 4
        for d in dirs:
            assert all(n <= 1 for n in _files_per_side(d).values()), d
        sink = spark.read.parquet(str(out / "triples"))
        first = sorted(sink.where("bucket = 0").collect())

        def other_buckets():
            return {f: f.stat().st_mtime_ns for d in dirs[1:]
                    for f in d.glob("*.parquet")}
        kept = other_buckets()

        _forget_bucket(spark, str(out), 0)
        m2 = pipeline.run(transcripts, str(out), n_buckets=4)
        assert (m2.buckets_done, m2.buckets_skipped) == (1, 3)
        assert m2.triples == len(first)
        sink = spark.read.parquet(str(out / "triples"))
        assert sorted(sink.where("bucket = 0").collect()) == first
        assert other_buckets() == kept
    finally:
        spark.conf.set(key, before)


def test_warm_run_detects_once_per_input_split(spark, transcripts, tmp_path,
                                               monkeypatch):
    """Detection, the run's only Python work, runs once per input split:
    ``link_exact`` joins the mentions with an aggregate of themselves, so
    without ``ments.persist()`` a split's detection runs again for each
    reader (6 calls on 2 splits)."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = spark.sparkContext.accumulator(0)
    map_in_pandas = DataFrame.mapInPandas

    def counting(self, func, *args, **kwargs):
        def counted(batches):
            calls.add(1)
            yield from func(batches)
        return map_in_pandas(self, counted, *args, **kwargs)

    splits = transcripts.repartition(2)
    pipeline.run(splits, str(tmp_path / "cold"), n_buckets=4)
    monkeypatch.setattr(DataFrame, "mapInPandas", counting)
    pipeline.run(splits, str(tmp_path / "warm"), n_buckets=4)
    assert calls.value == 2


def test_resume_reads_manifests_of_both_formats(spark, tmp_path):
    """A manifest directory holding a file of the older format (bucket,
    n_turns, n_mentions, n_links, n_triples, finished_at) next to files of
    the current (bucket, finished_at) one skips exactly the buckets they
    list, and redoes the rest exactly once."""
    import datetime
    tr = synth_transcripts(spark, n_convs=12, max_len=6)
    out = str(tmp_path / "kg")
    pipeline.run(tr, out, n_buckets=4)
    sink = spark.read.parquet(f"{out}/triples")
    before = sorted(sink.groupBy("bucket").count().collect())
    # keep the current-format row of bucket 1, add an old-format row for 2
    current = spark.read.parquet(f"{out}/manifest").where("bucket = 1")
    current.write.parquet(f"{out}/manifest1")
    spark.read.parquet(f"{out}/manifest1").write.mode("overwrite") \
        .parquet(f"{out}/manifest")
    spark.createDataFrame(
        [(2, 10, 20, 20, 300, datetime.datetime(2024, 1, 1))],
        "bucket int, n_turns long, n_mentions long, n_links long, "
        "n_triples long, finished_at timestamp",
    ).coalesce(1).write.mode("append").parquet(f"{out}/manifest")

    m = pipeline.run(tr, out, n_buckets=4)
    assert (m.buckets_done, m.buckets_skipped) == (2, 2)
    buckets = [r.bucket for r in spark.read.parquet(f"{out}/manifest")
               .select("bucket").collect()]
    assert sorted(buckets) == [0, 1, 2, 3]
    assert sorted(spark.read.parquet(f"{out}/triples")
                  .groupBy("bucket").count().collect()) == before


def test_every_pending_bucket_is_checkpointed(spark, tmp_path):
    """With more buckets than conversations, the empty buckets are
    checkpointed too, so a rerun finds nothing to do and starts no job
    beyond the manifest read. (Resume assumes the input does not change
    between runs: new rows in a finished bucket are skipped as well.)"""
    tr = synth_transcripts(spark, n_convs=2, max_len=4)
    out = str(tmp_path / "kg")
    m1 = pipeline.run(tr, out, n_buckets=8)
    assert (m1.buckets_done, m1.buckets_skipped) == (8, 0)
    assert m1.turns == tr.count()
    manifest = spark.read.parquet(f"{out}/manifest")
    assert sorted(r.bucket for r in manifest.collect()) == list(range(8))
    assert len(manifest.inputFiles()) == 1  # one checkpoint file per run

    read_jobs, _ = _jobs(spark, f"{out}:read", lambda: spark.read.parquet(
        f"{out}/manifest").select("bucket").collect())
    rerun_jobs, m2 = _jobs(spark, f"{out}:rerun", lambda: pipeline.run(
        tr, out, n_buckets=8))
    assert rerun_jobs == read_jobs
    assert (m2.buckets_done, m2.buckets_skipped, m2.triples) == (0, 8, 0)


def test_detection_looks_up_case_variants_lower_misses(spark, tmp_path):
    """A case-insensitive match whose ``str.lower()`` is not an alias key
    ('ſ' matches 's'; 'İ'.lower() is two code points) still gets the
    owners of the alias it spells, instead of failing the Spark job, and
    every detected mention is linked exactly once."""
    import datetime
    d = [("ent:sun", "Sun", ["sun"]),
         ("ent:istanbul", "Istanbul", ["istanbul"])]
    ts = datetime.datetime(2024, 1, 1)
    tr = spark.createDataFrame(
        [("c1", 0, "user", "the ſun", None, ts),
         ("c1", 1, "assistant", "İstanbul", None, ts)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    ments = mentions_mod.detect_mentions(tr, d)
    got = {(r.mention, tuple(r.candidates)) for r in ments.collect()}
    assert got == {("ſun", ("ent:sun",)), ("İstanbul", ("ent:istanbul",))}
    out = str(tmp_path / "kg")
    m = pipeline.run(tr, out, dictionary=d, n_buckets=2)
    assert m.mentions == m.links == ments.count() == 2
    linked_to = {r.obj_lex for r in spark.read.parquet(f"{out}/triples")
                 .where(F.col("pred") == pipeline.KG + "linkedTo").collect()}
    assert linked_to == {"ent:sun", "ent:istanbul"}
