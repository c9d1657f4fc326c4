"""J4 — connected components over the candidate-pair graph.

Primary algorithm: the alternating large-star / small-star edge contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14),
the standard shuffle-friendly CC for massive graphs:

  large-star: every node attaches its strictly-larger neighbors to the
              minimum of its closed neighborhood;
  small-star: every node attaches its smaller-or-equal neighbors (and itself)
              to that minimum.

Alternating the two converges in O(log n) rounds to a forest of stars whose
centers are the component minima. Each round is one groupBy + one join over
the current edge list — no per-node iteration, no long-chain stalls (plain
hash-min label propagation needs O(chain length) rounds on random-id chains,
measured 15+ rounds on the sf0.1 near-dup graph vs 4-6 here).

Every round localCheckpoints the edge list to cut lineage (SURVEY.md §4.3);
convergence = small-star output identical to its input (count + exceptAll).
Both functions track their own checkpoints in a RunScope (wdd.scope) and
free the ones a later round supersedes. connected_components leaves its
last ones to the scope of `cache_token`, or, with no token, to garbage
collection with the result.

Driver finish: contraction is for graphs too big for one process. Once
the edge list holds at most DRIVER_EDGES edges — at CC entry or after any
sync — connected_components collects it once and labels it on the driver
(numpy min-label hooking + pointer jumping). At entry that is one collect
of at most DRIVER_EDGES + 1 deduplicated edges, which either holds the
whole graph or sends it to contraction. Every contraction preserves
components and keeps each component's minimum, so finishing from any
intermediate edge list gives the same labels.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wdd.scope import RunScope, scope_for


# edge lists at or below this many edges finish on the driver: two int64
# columns, ~16 MB collected once
DRIVER_EDGES = 1 << 20


@dataclass
class CCResult:
    labels: DataFrame      # (id, cluster_id)
    iterations: int
    converged: bool


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m")))
    return (sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"]))


def _small_star(e: DataFrame) -> DataFrame:
    dir_ = e.select(F.greatest("a", "b").alias("u"),
                    F.least("a", "b").alias("v"))
    mins = dir_.groupBy("u").agg(F.min("v").alias("m"))
    out_nbrs = (dir_.join(mins, "u")
                .where(F.col("v") != F.col("m"))
                .select(F.col("v").alias("a"), F.col("m").alias("b")))
    out_self = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return (out_nbrs.union(out_self)
            .where(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"]))


def _driver_labels(e: DataFrame) -> DataFrame:
    """(id, label) for every endpoint of edge list e, from one collect of
    e (_arrow_labels)."""
    return _arrow_labels(e.sparkSession, e.toArrow())


def _arrow_labels(spark, t: pa.Table) -> DataFrame:
    """(id, label) for every endpoint of the (a, b) edges in t, label = the
    min id of its component. Ids are compacted by np.unique, which sorts
    them, so a component's min index is its min id. Each pass hooks every
    tree root onto the smallest root across its cross-tree edges
    (parent[v] <= v throughout, so no cycles), then jumps pointers until
    every node points at its root; edges inside one tree stay inside it and
    are dropped."""
    a = np.asarray(t.column("a"), dtype=np.int64)
    b = np.asarray(t.column("b"), dtype=np.int64)
    ids, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = idx[:len(a)], idx[len(a):]
    parent = np.arange(len(ids))
    while len(ia):
        ra, rb = parent[ia], parent[ib]
        cross = ra != rb
        ia, ib, ra, rb = ia[cross], ib[cross], ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped
    return spark.createDataFrame(pa.table({"id": ids, "label": ids[parent]}))


def connected_components(edges: DataFrame, vertices: DataFrame | None = None,
                         max_iter: int = 25,
                         rounds_per_sync: int = 2,
                         cache_token: str | None = None) -> CCResult:
    """edges: (a, b) long ids; vertices: optional (id) frame for isolated
    nodes. Returns every vertex labeled with cluster_id = its component min.

    Contraction runs only while the edge list holds more than DRIVER_EDGES
    edges; at or below it the current edge list is labeled on the driver
    and the result is converged. At entry one collect of at most
    DRIVER_EDGES + 1 deduplicated edges decides (a small graph costs that
    one collect); after every sync the signature's count does.

    rounds_per_sync (which matters only above DRIVER_EDGES) chains that
    many large+small contraction rounds into ONE materialization +
    convergence check: each sync point is a driver round trip whose fixed
    latency (~1-1.5 s on local mode) dominates small-graph rounds — measured
    7 rounds = ~10 s FLAT from 2 to 8 cores, i.e. pure serial fraction.
    Chaining halves the sync points at the cost of at most
    rounds_per_sync-1 extra (cheap, already-converged) contractions; the
    fixpoint is identical.

    CCResult.iterations counts EXECUTED contraction rounds (sync points x
    rounds_per_sync) — 0 when the graph finished on the driver at entry,
    and an upper bound on the rounds the graph needed otherwise, since the
    fixpoint may be reached partway through a chained sync. max_iter
    bounds sync points, so at most rounds_per_sync * max_iter contractions
    run."""
    # tokenless: a private scope, so the result's checkpoints stay
    # unreferenced and Spark's ContextCleaner frees them once it is dropped
    scope = RunScope(None) if cache_token is None else scope_for(cache_token)
    e = scope.checkpoint(
        edges.select(F.col("a").cast("long").alias("a"),
                     F.col("b").cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"]))
    # the entry collect runs over every partition of e, so it also fills
    # the checkpoint: a graph too big for the driver contracts from those
    # blocks without deduplicating its edges a second time
    small = e.limit(DRIVER_EDGES + 1).toArrow()
    if small.num_rows <= DRIVER_EDGES:
        scope.drop(e)  # collected: its blocks are dead
        return _finish(_arrow_labels(e.sparkSession, small), vertices,
                       0, True)

    def _signature(edges_df) -> tuple:
        """Order-insensitive edge-set fingerprint in ONE cheap aggregate
        (replaces an exceptAll shuffle per round): count + two independent
        64-bit hash sums. A false convergence needs a simultaneous collision
        in both 64-bit sums at equal count (~2^-128)."""
        row = edges_df.select(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-insensitive, overflow-free under ANSI mode
            F.expr("bit_xor(xxhash64(a, b))").alias("h1"),
            F.expr("bit_xor(xxhash64(b, a, 7))").alias("h2"),
        ).collect()[0]
        return (row.n, row.h1, row.h2)

    iterations, converged = 0, False
    prev_sig = _signature(e)
    for sync in range(1, max_iter + 1):
        if prev_sig[0] <= DRIVER_EDGES:
            break
        # eager=False: the signature aggregate below is the action that
        # materializes the checkpoint — one Spark job per sync instead of
        # two (each sync is driver-synchronized, so saved jobs are saved
        # serial time; measured ~0.2s/round on an idle scheduler)
        chain = []
        e2 = e
        for _ in range(rounds_per_sync):
            # localCheckpoint after EVERY star contraction, not once per
            # sync: each star references its input 3-4x, so an unbroken
            # k-contraction lineage grows the Catalyst tree ~4^k and
            # toRdd planning inside the sync-end localCheckpoint cost a
            # measured 1.3-3 s of SERIAL driver time per sync (the flat
            # 2-to-8-core component the rounds_per_sync docstring notes).
            # Truncating at every contraction keeps every planned tree
            # one-star deep: sync build 1.7 s -> 0.8 s, action 0.12 ->
            # 0.07 s on a 20k-edge graph. Shuffle volume is unchanged;
            # the extra checkpoint stores one intermediate edge list per
            # contraction (16 B/row), dropped once the sync ends.
            # All checkpoints are eager=False: the signature aggregate
            # below materializes the whole chain in ONE job.
            e2 = scope.checkpoint(_large_star(e2))
            chain.append(e2)
            e2 = scope.checkpoint(_small_star(e2))
            chain.append(e2)
        sig = _signature(e2)       # materializes e2's checkpoint, which
        scope.drop(e, *chain[:-1])  # cuts the lineage: the rest are dead
        e = e2
        iterations = sync * rounds_per_sync
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig

    if prev_sig[0] <= DRIVER_EDGES:
        labels = _driver_labels(e)
        scope.drop(e)  # collected: its blocks are dead
        converged = True
    else:
        # at the fixpoint every edge is (node -> component min)
        labels = e.select(F.col("a").alias("id"), F.col("b").alias("label"))
        centers = e.select(F.col("b").alias("id")).dropDuplicates(["id"]) \
            .join(labels.select("id"), "id", "left_anti") \
            .withColumn("label", F.col("id"))
        labels = labels.union(centers)
    return _finish(labels, vertices, iterations, converged)


def _finish(labels: DataFrame, vertices: DataFrame | None, iterations: int,
            converged: bool) -> CCResult:
    """Label every vertex that no edge touches with itself."""
    if vertices is not None:
        isolated = (vertices.select(F.col("id").cast("long").alias("id"))
                    .dropDuplicates(["id"])
                    .join(labels.select("id"), "id", "left_anti")
                    .withColumn("label", F.col("id")))
        labels = labels.union(isolated)
    return CCResult(
        labels=labels.withColumnRenamed("label", "cluster_id"),
        iterations=iterations,
        converged=converged,
    )


def hash_min_components(edges: DataFrame, vertices: DataFrame | None = None,
                        max_iter: int = 50) -> CCResult:
    """Plain iterative hash-min label propagation (the north rule's literal
    algorithm): every vertex repeatedly adopts the minimum label in its
    closed neighborhood until a fixpoint.

    Kept as a reference implementation with label parity to
    `connected_components` asserted in tests: min-propagation needs
    O(diameter) rounds (measured 2-3x the rounds of the star contraction on
    the sf0.1 near-dup graph, and O(chain length) worst case on path
    graphs), so the alternating large-star/small-star contraction is the
    default everywhere in the engine. Each round here is one groupBy over
    the static symmetric edge list plus one join — same shuffle shape per
    round, just more rounds.
    """
    e = (edges.select(F.col("a").cast("long").alias("a"),
                      F.col("b").cast("long").alias("b"))
         .where(F.col("a") != F.col("b"))
         .dropDuplicates(["a", "b"]))
    scope = RunScope(None)  # the final labels go to garbage collection
    sym = scope.checkpoint(
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(e.select(F.col("b").alias("u"), F.col("a").alias("v"))),
        eager=True)
    labels = scope.checkpoint(
        sym.select("u").union(sym.select(F.col("v").alias("u")))
        .dropDuplicates(["u"])
        .withColumn("label", F.col("u")),
        eager=True)

    def _label_sum(lab) -> tuple:
        row = lab.select(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, label))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    iterations, converged = 0, False
    prev = _label_sum(labels)
    for iterations in range(1, max_iter + 1):
        # neighbor minima: one groupBy over (edge ⋈ label); self included
        nbr_min = (sym.join(labels.withColumnRenamed("u", "v"), "v")
                   .groupBy("u").agg(F.min("label").alias("nbr")))
        new = scope.checkpoint(
            labels.join(nbr_min, "u", "left")
            .select("u", F.least("label", F.coalesce("nbr", "label"))
                    .alias("label")))
        cur = _label_sum(new)  # materializes the new checkpoint, so the
        scope.drop(labels)     # prior round's label blocks are dead
        labels = new
        if cur == prev:
            converged = True
            break
        prev = cur
    scope.drop(sym)  # the last labels checkpoint no longer reads it

    labels = labels.select(F.col("u").alias("id"), F.col("label"))
    if vertices is not None:
        isolated = (vertices.select(F.col("id").cast("long").alias("id"))
                    .dropDuplicates(["id"])
                    .join(labels.select("id"), "id", "left_anti")
                    .withColumn("label", F.col("id")))
        labels = labels.union(isolated)
    return CCResult(
        labels=labels.withColumnRenamed("label", "cluster_id"),
        iterations=iterations,
        converged=converged,
    )
