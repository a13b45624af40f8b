"""Connected components over verified dup pairs: clusters(image_id,
cluster_id) with cluster_id = the minimum image_id of the component.

Two exact paths, chosen by the size of the edge list:

1. **Driver** (at most ``DRIVER_MAX_EDGES`` edges; every graph of the
   ``image_dedup`` bench and the contract queries). One bounded Arrow
   collect fetches the edge list; numpy labels the components on the
   driver (ids ranked in sort order, then min-label propagation with
   pointer jumping until nothing changes), and the label frame goes
   back to Spark through Arrow. The whole operator is one collect plus
   one anti-join for the singletons. At bench scale the loop below spent
   13 Spark jobs (~1.3 s) on a few thousand edges; the driver path
   spends 3. Choosing the execution mode from the input size follows
   *Evolution of a Compiling Query Engine* (VLDB 2021); merging the
   small fragments in one place instead of iterating over the whole
   graph follows *DISC* (ICDE 2021).
2. **Loop** (more edges than the driver may hold; the 100 TB path):
   star contraction plus an iterative DataFrame self-join with a
   checkpointed frontier, described below. It reads the edge partitions
   the bounded collect already computed (both paths collect through a
   lazy local checkpoint), so the pair subtree runs once on either path.

The loop exploits the graft's graph shape: the graphs are UNIONS OF
ANCHOR-STARS (every capped bucket emits anchor→member edges), so almost
every vertex's final label is simply the minimum over the buckets it
touches. It runs in two stages:

1. **Contraction** — one aggregation computes l1(v) = min({v} ∪ N(v));
   every star member collapses onto its best anchor immediately. One
   E-scale groupBy replaces the first label-prop ROUNDS of the plain
   loop.
2. **Iteration on the contracted graph** — edges between distinct
   representatives (la ≠ lb) form a graph whose vertex count is
   ~#buckets, not ~#images; the hash-to-min loop (two hops per
   materialized round, exact changed-label-count convergence — one
   action per round) runs there, where labels are small enough for
   AQE to broadcast and every round is cheap. Final labels compose:
   cluster(v) = clab(l1(v)), falling back to l1(v) for representatives
   with no cross-bucket edge. All checkpoints are lazy, so the first
   convergence count materializes the whole prologue in one job.

Correctness of the loop (exact, not approximate): the component minimum
m satisfies l1(m) = m (m is ≤ all its neighbors), so m survives
contraction and is the minimum of its contracted component; each
original edge (u,v) maps to contracted connectivity la—lb with l1(w)
always inside w's component (l1(w) ∈ {w} ∪ N(w)), so contracted
components are exactly the images of the original components. Hence
min-label over the contracted component = m, and composition restores
every vertex's exact min-label. Micro-benchmarked on 1.05M-edge
star-union graphs (150k stars of 6 with cross-bucket chains):
contraction 11.3 s vs plain loop 15.7 s at local[8], identical output
hashes. (A 3-hops-per-round / persisted-edge variant measured SLOWER —
23.6 s — and was discarded.)

Determinism (SURVEY §7 hard part (c)): cluster_id = min image_id of the
component in Spark's order for the id type (binary order for strings,
which the driver path's Arrow sort shares) — a total order, independent
of execution order.
"""

from __future__ import annotations

import logging
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

#: edges up to which components are computed on the driver. The driver
#: holds ~150 B per edge at the peak: the collected Arrow batches, once
#: in the JVM and once in Python (~30 B each for two ~11-byte string
#: ids), and the numpy rank and label arrays (~90 B). That is ≲300 MB at
#: the cap, well inside the 2 GB smallest driver heap the engine is run
#: with (8 GB by default), and ~4 s of driver CPU for 2M edges on one
#: core, against 11 s for the loop on 1M edges at local[8]. Duplicate
#: edges count: the cap applies to the rows as given. Above the cap the
#: Spark loop runs, which no driver bound limits.
DRIVER_MAX_EDGES = 2_000_000

#: rounds the loop path may take before it raises; each round is two
#: propagation hops on the contracted graph, whose diameter is ~1-2 on
#: the graft's anchor-star graphs. The driver path always converges.
MAX_ITER = 50


def _prefetch(df: DataFrame) -> threading.Thread:
    """Materialize a cached or lazily-checkpointed frame on a background
    thread (guide §2.6: overlap independent jobs) and return the thread,
    which the caller joins before it returns so no Spark job outlives
    it. While the driver plans the next fragments, the executors chew
    the expensive upstream subtree. RDD-cache partition locks make the
    concurrent first action race-free (each partition is computed
    once). A failure is logged here and raised again by the foreground
    action that recomputes the frame."""

    def run() -> None:
        try:
            df.count()
        except Exception:
            log.exception("background prefetch failed; the next action recomputes it")

    t = threading.Thread(target=run, name="mfdedup-prefetch", daemon=True)
    t.start()
    return t


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Exact component labels of the graph on vertices 0..n-1 with edges
    (a[i], b[i]): label[v] = the smallest vertex of v's component.

    Each round every edge offers the smaller of its endpoints' labels to
    the roots those labels name, then pointer jumping (label ←
    label[label]) runs to a fixpoint, which carries the offer to every
    vertex below the root. A label is always a vertex of the same
    component and never grows, so the rounds stop; at the fixpoint both
    ends of every edge agree and every label is a root, which makes each
    label the component's minimum (the minimum's own label cannot drop
    below it). Hooking roots rather than endpoints takes 5 rounds
    instead of 14 on a 2M-edge chain-heavy random graph."""
    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        offer = np.minimum(la, lb)
        new = lab.copy()
        np.minimum.at(new, la, offer)
        np.minimum.at(new, lb, offer)
        jumped = new[new]
        while not np.array_equal(jumped, new):
            new, jumped = jumped, jumped[jumped]
        if np.array_equal(new, lab):
            return lab
        lab = new


def _driver_labels(edges: pa.Table) -> pa.Table:
    """(image_id, cluster_id) for every endpoint of ``edges`` (two id
    columns). Ids are ranked in Arrow's sort order, which is Spark's
    (binary for strings, numeric for integers), so the minimum rank of
    a component is its minimum id. One dictionary encoding ranks both
    columns: 2.4 s for 2M edges of 11-byte ids on one core, against
    3.8 s for a sorted unique array probed per column."""
    a, b = edges.column(0), edges.column(1)
    ends = pa.chunked_array(a.chunks + b.chunks, type=a.type)
    ends = ends.combine_chunks().dictionary_encode()
    order = pc.array_sort_indices(ends.dictionary).to_numpy()
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    idx = rank[ends.indices.to_numpy()]
    lab = _min_labels(idx[: len(a)], idx[len(a) :], len(order))
    ids = ends.dictionary.take(order)
    return pa.table({"image_id": ids, "cluster_id": ids.take(lab)})


def _with_singletons(
    labels: DataFrame, endpoints: DataFrame, vertices: DataFrame
) -> DataFrame:
    """``labels`` plus every vertex with no edge (no row in
    ``endpoints``) labelled with itself: one anti-join, zero iterations."""
    singletons = vertices.select("image_id").join(
        endpoints.select("image_id"), "image_id", "left_anti"
    ).select(F.col("image_id"), F.col("image_id").alias("cluster_id"))
    return labels.unionByName(singletons)


def _iterate_min_label(edges: DataFrame) -> DataFrame:
    """Hash-to-min label propagation over (src, dst) edges (both
    directions present; MUST be the contracted graph — see
    _contracted_loop, which is the only caller). Returns
    (image_id, cluster_id) for every edge endpoint.

    Convergence is ONE action per round (r05: the contracted loop is
    job-latency-bound, so driver rounds are the unit of cost): the exact
    changed-label count — a join of consecutive label sets on the
    contracted vertices, broadcast-sized — both materializes the lazy
    checkpoint AND tests convergence. The former fingerprint scheme
    spent an extra initial-fingerprint job plus a confirm join on
    convergence and carried a 64-bit collision caveat; the exact count
    does neither."""

    def propagate(lbl):
        # each edge offers src's current label to dst
        offered = edges.join(lbl, edges.src == lbl.image_id).select(
            F.col("dst").alias("image_id"), "cluster_id"
        )
        return (
            lbl.unionByName(offered)
            .groupBy("image_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    # r06: the first hop is fused into one aggregation. propagate(identity)
    # ≡ min({v} ∪ N(v)) because every endpoint appears as src (both edge
    # directions present), so seeding with the direct contraction skips
    # the endpoints-distinct exchange AND the identity-labels union that
    # the explicit identity seed paid (guide §2.4: remove shuffles
    # outright) — one exchange instead of three before the first count.
    h1 = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("image_id"),
            F.least("src", "_mn").alias("cluster_id"),
        )
    )
    for _ in range(MAX_ITER):
        # two propagation hops per materialization: on the contracted
        # graph per-round cost is dominated by fixed job/stage latency,
        # so batching hops halves the coordination constant. The
        # convergence test compares the two hops WITHIN the round
        # (h2 vs h1): if one propagate step left labels unchanged, h1 is
        # a fixpoint and the round both finishes AND certifies — a
        # diameter-≤2 contracted graph (the usual graft shape) converges
        # in ONE driver round instead of needing a confirm round. h1 is
        # deliberately un-checkpointed: recomputing the KB-scale
        # contracted subplan in the count's second branch is cheaper
        # than another materialization barrier.
        h2 = propagate(h1).localCheckpoint(eager=False)
        changed = (
            h2.alias("n")
            .join(h1.alias("o"), "image_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        if changed == 0:
            return h2
        h1 = propagate(h2)
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITER} iterations "
        "(contracted-component diameter exceeds MAX_ITER — raise MAX_ITER)"
    )


def connected_components(pairs: DataFrame, vertices: DataFrame) -> DataFrame:
    """pairs(image_id_a, image_id_b) + vertices(image_id)
    → clusters(image_id, cluster_id). Singletons keep their own id;
    endpoints missing from ``vertices`` are labelled too, and duplicate
    or reversed pairs change nothing.

    Runs Spark jobs when called: the bounded edge collect that picks the
    path computes the pair subtree. The collect reads the edges through
    a lazy local checkpoint, so it computes every partition once (a
    collect of a limit evaluates all input partitions) and the loop path
    reads those partitions instead of computing the subtree again.
    """
    edges = pairs.select("image_id_a", "image_id_b").localCheckpoint(eager=False)
    table = edges.limit(DRIVER_MAX_EDGES + 1).toArrow()
    # null ids keep the loop's semantics (which labels them) rather
    # than get a rank of their own
    if table.num_rows <= DRIVER_MAX_EDGES and not any(
        c.null_count for c in table.columns
    ):
        labels = pairs.sparkSession.createDataFrame(_driver_labels(table))
        return _with_singletons(labels, labels, vertices)
    return _contracted_loop(edges, vertices)


def _contracted_loop(pairs: DataFrame, vertices: DataFrame) -> DataFrame:
    """The loop path of ``connected_components`` (module docstring).

    Iteration runs over EDGE ENDPOINTS only: vertices with no edges can
    never change label, so carrying them through every join/agg round
    (the round-1 shape) just inflates each iteration's shuffle by the
    singleton fraction. They are unioned back label=self at the end —
    one anti-join, zero iterations.
    """

    # every checkpoint below is LAZY (r05): the first convergence count
    # of the contracted loop materializes edges → lbl1 → cedges → labels
    # → two hops in ONE job instead of four eager barrier jobs — on the
    # graft's graphs (contracted diameter ~1-2) the whole CC is then
    # 2-3 driver rounds; the checkpoints still truncate lineage so later
    # rounds and the final composition reuse the cached results
    # r06: no edges.distinct() — every downstream consumer is duplicate-
    # insensitive (min-aggregations and joins feeding min-aggregations;
    # cedges carries its own distinct), so duplicate pairs are legal
    # input: they collapse in the first map-side partial aggregation
    # instead of paying a dedicated exchange (guide §2.4: a `distinct`
    # on data that is already unique is an accidental shuffle).
    edges = (
        pairs.select(
            F.col("image_id_a").alias("src"), F.col("image_id_b").alias("dst")
        )
        .unionByName(
            pairs.select(
                F.col("image_id_b").alias("src"), F.col("image_id_a").alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    # overlap: materialize this checkpoint (a re-read of the partitions
    # the caller's collect computed) while the driver plans the
    # contraction fragments
    prefetch = _prefetch(edges)

    # stage 1 — star contraction: l1(v) = min({v} ∪ N(v)); feeds both
    # the contracted-edge build and the final composition
    lbl1 = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("image_id"),
            F.least("src", "_mn").alias("l1"),
        )
        .localCheckpoint(eager=False)
    )

    # contracted edges between distinct representatives (both directions
    # for the loop); vertex count ~#buckets, labels broadcast-sized.
    # Disjoint-bucket graphs need no special case: the loop's first
    # count returns 0 on an empty contracted graph and the composition
    # falls back to l1 via the coalesce below
    la = lbl1.select(F.col("image_id").alias("src"), F.col("l1").alias("_la"))
    lb = lbl1.select(F.col("image_id").alias("dst"), F.col("l1").alias("_lb"))
    half = (
        edges.join(la, "src")
        .join(lb, "dst")
        .where(F.col("_la") != F.col("_lb"))
        .select(F.col("_la").alias("src"), F.col("_lb").alias("dst"))
    )
    cedges = (
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    # stage 2 — iterate on the contracted graph, then compose. Singletons
    # (vertices with no edge) reuse lbl1's key set as the endpoint list —
    # lbl1 is already checkpointed and distinct-by-construction (groupBy
    # src), so the former endpoints.distinct() exchange is free (r06,
    # guide §2.4).
    clab = _iterate_min_label(cedges)
    prefetch.join()
    final = (
        lbl1.join(clab.withColumnRenamed("image_id", "l1"), "l1", "left")
        .select(
            "image_id",
            F.coalesce("cluster_id", "l1").alias("cluster_id"),
        )
    )
    return _with_singletons(final, lbl1, vertices)
