"""Entity canonicalization for the KG pipeline, and connected components
over graphs that live in Spark.

:func:`canonical_mapping`: entities sharing an alias, directly or through a
chain of shared aliases, collapse to the least entity id of their
component. Every exact link (surface form → owner) is a dictionary edge and
a fuzzy link only attaches a leaf surface form to one entity, so the
components depend on the dictionary alone: a driver union-find over
``mentions.alias_owners``, no Spark job. (New relative to the reference,
whose identity resolution is only syntactic — shared aboutUrl template ⇒
same subject; SURVEY.md §4.3.)

:func:`connected_components` and :func:`connected_components_star` serve
graphs that are DataFrames (``ops/dedup.near_dup_clusters``, the
``cc_components`` oracle query). Scale design:
- each iteration = one equi-join + one min-aggregate; ``min`` is algebraic →
  HashAggregate's map-side partial_min absorbs hub-node skew before the
  shuffle (the built-in two-stage aggregation IS the salt — measured: an
  extra explicit salt layer only multiplies partial output, see
  linking.link_exact); residual join skew is AQE's skew-join split;
- lineage is cut every iteration with ``localCheckpoint`` (SURVEY.md §4.3 —
  on a cluster this would be an Iceberg temp-table or checkpoint dir, same
  contract);
- convergence is detected with a changed-label count; star-like graphs
  (diameter ≤ ~4) need a handful of iterations. For graphs with long
  chains, use large-star/small-star (Kiveris et al., "Connected Components
  in MapReduce and Beyond", SoCC'14) — same join primitives, O(log n)
  rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .mentions import alias_owners

#: below this many (symmetrized, deduped) edges a graph is metadata-sized
#: and a driver union-find beats 5-8 rounds of Spark jobs whose scheduling
#: latency is pure fixed cost (measured ~2-4 s/iteration regardless of
#: cores). Near-duplicate pair graphs of a few thousand documents fall
#: under it.
SMALL_GRAPH_EDGES = 100_000


def _driver_union_find(rows) -> list[tuple[str, str]]:
    """Deterministic DSU; representative = lexicographic min of the set
    (identical output contract to the distributed min-label fixpoint)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for src, dst in rows:
        for n in (src, dst):
            if n not in parent:
                parent[n] = n
        a, b = find(src), find(dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    out = []
    for n in parent:
        r = find(n)
        out.append((n, r))
    return out


def connected_components(edges: DataFrame, max_iter: int = 20,
                         small_graph_edges: int = SMALL_GRAPH_EDGES) -> DataFrame:
    """edges(src:string, dst:string), undirected → (node, component).

    component = lexicographic min node id of the component (deterministic,
    retry-stable — no nondeterministic ids anywhere). Small graphs (≤
    ``small_graph_edges`` symmetrized edges) take a driver union-find fast
    path — same output, none of the per-iteration job-scheduling fixed cost.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.where(F.col("src") != F.col("dst")).distinct()

    if small_graph_edges:
        # ONE job: the limit-probe IS the collect (limit+1 rows cap the
        # driver transfer exactly like the old count-probe did, and the old
        # separate count + collect pair re-ran the whole distinct twice —
        # r6: two jobs → one, ~1 s of the KG pipeline's fixed cost)
        probe = sym.limit(small_graph_edges + 1).collect()
        if len(probe) <= small_graph_edges:
            labels = _driver_union_find([(r.src, r.dst) for r in probe])
            return local_frame(edges.sparkSession, labels,
                               "node string, comp string")

    sym = sym.localCheckpoint()

    labels = (sym.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("comp", F.col("node")))

    def signature(df: DataFrame) -> int:
        # order-independent state fingerprint: one tiny action per iteration
        # replaces the old join+count convergence check (labels only ever
        # decrease, so an unchanged signature ⇒ converged up to a sha-grade
        # hash collision)
        # decimal(38,0) sum: immune to ANSI long overflow at any node count
        return df.select(F.sum(F.xxhash64("node", "comp")
                               .cast("decimal(38,0)"))).collect()[0][0]

    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # min label among neighbors. ``min`` is algebraic: HashAggregate's
        # map-side partial_min already splits hub nodes across input
        # partitions before the exchange — an explicit salt layer only
        # multiplies the partial output (same 4.5× lesson as
        # linking.link_exact; hub handling is the partial agg itself)
        nbr = (sym.join(labels.withColumnRenamed("node", "dst"), "dst")
               .select(F.col("src").alias("node"), "comp"))
        nbr_min = nbr.groupBy("node").agg(F.min("comp").alias("nbr_comp"))

        labels = (labels.join(nbr_min, "node", "left")
                  .select("node",
                          F.least(F.col("comp"),
                                  F.coalesce("nbr_comp", "comp")).alias("comp")))
        # lazy checkpoint: lineage is cut, materialization rides on the
        # signature action below instead of its own job
        labels = labels.localCheckpoint(eager=False)
        sig = signature(labels)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # one hop per iteration: a graph whose min-node eccentricity exceeds
        # max_iter would silently return under-merged labels — refuse.
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iter} "
            "iterations (graph diameter exceeds the budget); raise max_iter "
            "or use connected_components_star (O(log² n) on any topology)")
    return labels


def connected_components_star(edges: DataFrame,
                              max_iter: int = 50) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) —
    O(log² n) rounds on ANY topology, where plain min-label propagation
    (:func:`connected_components`) needs O(diameter) rounds. Use this when
    the graph may contain long chains (e.g. transitive doc-similarity
    graphs); star-like graphs are served by min-label + union-find.

    Same primitives and scale posture as the fixpoint variant: each round is
    two (groupBy-min + join) passes over the edge set; ``min`` is algebraic
    (map-side partial aggregation absorbs hub skew), join keys are node ids,
    lineage is cut per round. Output contract identical: (node, comp) with
    comp = lexicographic min node id of the component.

    edges(src:string, dst:string), undirected.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))

    def signature(df: DataFrame):
        return df.select(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n")).collect()[0]

    prev = None
    converged = False
    for _ in range(max_iter):
        # -- large-star: v > u neighbors attach to m = min(Γ(u) ∪ {u}) -----
        sym = e.union(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        mn = (sym.groupBy("src")
              .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
        e = (sym.join(mn, "src")
             .where(F.col("dst") > F.col("src"))
             .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
             .where(F.col("src") != F.col("dst"))
             .distinct())

        # -- small-star: orient (max→min); v ≤ u attach to the min ---------
        o = e.select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
        mn = (o.groupBy("src")
              .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
        om = o.join(mn, "src")
        e = (om.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
             .union(om.select(F.col("src"), F.col("m").alias("dst")))
             .where(F.col("src") != F.col("dst"))
             .distinct()
             .localCheckpoint(eager=False))

        sig = signature(e)
        if prev is not None and (sig.s, sig.n) == (prev.s, prev.n):
            converged = True
            break
        prev = sig
    if not converged:
        # same contract as the fixpoint variant: exhausting max_iter without
        # an edge-signature fixpoint would silently return under-merged
        # labels (and duplicate node rows from the final left join on a
        # non-star edge set) — refuse instead.
        raise RuntimeError(
            f"large-star/small-star did not converge in {max_iter} rounds; "
            "raise max_iter (expected O(log² n) rounds)")

    # converged: e is a forest of stars (node → component min); roots and
    # isolated-after-dedup nodes label themselves
    all_nodes = (edges.select(F.col("src").alias("node"))
                 .union(edges.select(F.col("dst").alias("node"))).distinct())
    return (all_nodes.join(e.withColumnRenamed("src", "node"), "node", "left")
            .select("node", F.coalesce("dst", "node").alias("comp")))


def link_graph_edges(linked: DataFrame, aliases: DataFrame) -> DataFrame:
    """Canonicalization graph as a Spark edge set: observed (surface form ↔
    linked entity) edges ∪ dictionary (alias ↔ owner entity) edges, surface
    forms prefixed ``sf:``. Its entity components are the ones
    :func:`canonical_mapping` computes from the dictionary alone; tests use
    this graph with :func:`connected_components` as the Spark-side check."""
    observed = linked.select(
        F.concat(F.lit("sf:"), F.col("mention_norm")).alias("src"),
        F.col("entity_id").alias("dst"))
    dictionary = aliases.select(
        F.concat(F.lit("sf:"), F.col("alias")).alias("src"),
        F.col("entity_id").alias("dst"))
    # one distinct over the union (r6: the separate observed.distinct()
    # was redundant — this distinct dedups the same rows one exchange later
    # at mention-scale, and map-side partial aggregation still collapses
    # repeats before the shuffle)
    return observed.unionByName(dictionary).distinct()


def canonical_mapping(spark, dictionary: list[tuple[str, str, list[str]]]
                      ) -> DataFrame:
    """(node → canonical) for every dictionary entity whose canonical id is
    another entity: the least entity id among the entities it shares aliases
    with, transitively. Union-find on the driver over the alias→owners map;
    identity rows are dropped, so the result is a small local DataFrame for
    ``pipeline.mention_triples``' broadcast join."""
    edges = [(ents[0], e) for ents in alias_owners(dictionary).values()
             for e in ents[1:]]
    rows = [(n, c) for n, c in _driver_union_find(edges) if n != c]
    return local_frame(spark, rows, "node string, canonical string")
