"""Transitive clustering: connected components via large-star/small-star.

The reference emits independent pairwise matches (at most one best CAD per
SPR row) and never clusters them. The north-rule target requires
transitive closure over match edges — implemented here as the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) expressed as DataFrame self-joins:

* **large-star**: for each node u (over the bidirected edge set), connect
  every strictly-larger neighbor v > u to m = min(N(u) ∪ {u});
* **small-star**: orient edges so u >= v; connect every neighbor (and u)
  to the minimum.

Each round computes the per-node min via skew-safe aggregate + join-back
(see ``_node_min`` — no window, no single-task hub bound);
``localCheckpoint()`` truncates the lineage so the plan doesn't grow
unboundedly; convergence is detected by an edge-set fingerprint
(count + xor-hash), not driver-side collection of the edges themselves.

Node ids are arbitrary strings; ordering is by (id) — any total order
works for correctness, determinism comes free because the order is data-
dependent only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ScaleConfig


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set, canonical orientation (src < dst), no loops."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _node_min(b: DataFrame, n_part: int, window_ok: bool = False) -> DataFrame:
    """Per-node neighborhood minimum m(u) = min(N(u) ∪ {u}), attached back
    to every edge row: (src, dst, m).

    Default path: ``groupBy(src).agg(min(dst))`` + equi-join-back, NOT
    ``Window.partitionBy(src)``: as components collapse toward a star,
    the component-min node's neighborhood approaches component size, so a
    window would sort a billion rows in ONE task in the final iterations
    of a billion-node component (Kiveris et al. §5's high-degree case).
    The aggregate path is skew-safe — map-side partial aggregation
    shrinks a hot node to one row per input partition before the shuffle,
    the min table is one row per node, and the join-back is a plain
    equi-join AQE can skew-split.

    ``window_ok=True`` (set by :func:`connected_components` only when the
    WHOLE graph fits ``scale.cc_window_max_edges``) switches to a
    whole-frame window min — one shuffle instead of two-plus-join, ~30%
    less wall per star round at small scale. Safe exactly because the
    total edge count bounds any single node's neighborhood, so the
    worst-case single task is the whole (small) graph. The direct
    ``_large_star``/``_small_star`` callers default to the skew-safe
    path.

    The explicit ``repartition(n_part, src)`` sizes the shuffle to the
    graph and is reused by the aggregate/window AND the join probe side —
    the loop never touches session conf (the round-1 version mutated
    spark.sql.shuffle.partitions globally, racing any concurrent query
    on the session)."""
    b = b.repartition(n_part, "src")
    if window_ok:
        from pyspark.sql import Window

        w = Window.partitionBy("src")
        return b.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
    mins = b.groupBy("src").agg(F.min("dst").alias("_mn"))
    # shuffle_hash, not sort-merge: both sides already share the
    # repartition's hash(src) clustering, so the join is exchange-free
    # either way, but SMJ would still SORT both sides (the bidirected
    # edge set twice per star round — measured 6x cpu vs the window path
    # at a 1.3M-edge graph). Hashing builds only the one-row-per-node
    # min table per partition.
    return b.join(mins.hint("shuffle_hash"), "src").withColumn(
        "m", F.least(F.col("_mn"), F.col("src"))
    ).drop("_mn")


def _large_star(edges: DataFrame, n_part: int, window_ok: bool = False) -> DataFrame:
    """Connect every larger neighbor to the node's minimum. Output may
    contain duplicates — the following small-star round dedups, saving a
    shuffle per iteration."""
    b = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    b = _node_min(b, n_part, window_ok)
    return (
        b.filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame, n_part: int, window_ok: bool = False) -> DataFrame:
    """Connect all smaller neighbors (and the node) to the minimum.
    Output is already in canonical (src < dst) orientation: emitted pairs
    are (m, v) with m the group minimum."""
    # orient so src >= dst
    o = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    nbr = _node_min(o, n_part, window_ok)
    out = nbr.select(F.col("m").alias("src"), F.col("dst")).union(
        nbr.select(F.col("m").alias("src"), F.col("src").alias("dst"))
    )
    out = out.filter(F.col("src") != F.col("dst"))
    # repartition on both columns satisfies dropDuplicates' clustering —
    # the dedup reuses this exchange instead of adding a session-sized one
    return out.repartition(n_part, "src", "dst").dropDuplicates()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: order-independent, overflow-free under ANSI mode
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    scale: ScaleConfig | None = None,
) -> DataFrame:
    """Resolve components; returns DataFrame[node string, component string]
    where component = min node id of the component.

    Isolated nodes (present only as self-edges or absent) are the caller's
    concern — feed every node as a self-edge if singletons must appear.
    """
    scale = scale or ScaleConfig()
    # lazy checkpoint: the count() below materializes it inside its own
    # job instead of paying a separate eager-checkpoint job first
    cur = _canonical(edges).localCheckpoint(eager=False)
    # size the iteration shuffles to the graph: every star round is 2-3
    # shuffles of the edge set, and running a 10k-edge graph through the
    # session-wide partition count (sized for the big pairwise join) just
    # buys scheduler latency. ~500k edges per partition, applied via
    # explicit repartition on the loop DataFrames ONLY — session conf is
    # never mutated (a conf.set here would race concurrent queries).
    spark = edges.sparkSession
    n0 = cur.count()
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # size-derived loop width: ~80k edges/partition keeps star-round
    # tasks meaty while engaging cores as the graph grows (swept at a
    # 650k-edge graph on 32 cores: 8 partitions 4.2 s vs 32 partitions
    # 6.1 s vs the old 500k-divisor's 2 partitions 7.5 s — a loop stage
    # is shuffle-latency-bound, so oversplitting pays per-task and
    # per-block overhead with no compute to hide it). session_parts
    # (cluster-sized) caps the count at scale exactly as before; the
    # divisor is a per-partition SIZE target, not a core-count constant.
    cc_parts = max(2, min(session_parts, n0 // 80_000 + 1))
    # small graph -> window-based node-min (see _node_min): the n0 bound
    # holds for every iterate too — star rounds never grow the canonical
    # edge count above the node count of the original graph <= 2*n0
    window_ok = n0 <= scale.cc_window_max_edges // 2
    cur = _cc_loop(cur, scale, cc_parts, window_ok)
    # converged edge set is a star forest in canonical (src < dst) form:
    # src is the component minimum (the root)
    members = cur.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    roots = cur.select(F.col("src").alias("node"), F.col("src").alias("component")).distinct()
    # no outer distinct: `cur` is small_star output (dropDuplicates-ed,
    # src < dst), so members are unique with node != component, roots are
    # distinct-ed with node == component — the two sides are disjoint and
    # each unique, and the old trailing .distinct() was one full shuffle
    # of the result for nothing
    return members.union(roots)


def _cc_loop(
    cur: DataFrame, scale: ScaleConfig, n_part: int, window_ok: bool = False
) -> DataFrame:
    prev_fp = None
    for it in range(scale.cc_max_iterations):
        # small_star output is already canonical (src < dst, deduped)
        nxt = _small_star(_large_star(cur, n_part, window_ok), n_part, window_ok)
        if scale.cc_checkpoint_interval and (it % scale.cc_checkpoint_interval == 0):
            # lazy: the fingerprint aggregate right below is the round's
            # materializing action — one job per round instead of two
            nxt = nxt.localCheckpoint(eager=False)
        fp = _fingerprint(nxt)
        if fp == prev_fp:
            cur = nxt
            break
        prev_fp = fp
        cur = nxt
    else:
        raise RuntimeError(
            f"connected_components did not converge in {scale.cc_max_iterations} iterations"
        )
    return cur


def cluster_matches(matches: DataFrame, scale: ScaleConfig | None = None) -> DataFrame:
    """Cluster the 16-column match table transitively.

    SPR and CAD ids live in different namespaces — prefix them so id
    collisions across registries can't merge unrelated clusters. Returns
    DataFrame[node, registry, address_id, component].
    """
    edges = matches.select(
        F.concat(F.lit("S:"), F.col("ADDRESS_ID_SPR")).alias("src"),
        F.concat(F.lit("C:"), F.col("ADDRESS_ID_CAD")).alias("dst"),
    )
    comp = connected_components(edges, scale)
    return comp.select(
        F.col("node"),
        F.substring("node", 1, 1).alias("registry"),
        F.expr("substring(node, 3)").alias("address_id"),
        F.col("component"),
    )
