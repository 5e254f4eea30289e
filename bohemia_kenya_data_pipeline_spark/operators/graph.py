"""Iterative graph algorithms as DataFrame loops — PageRank.

The reference has no graph engine, but its entity web (households →
individuals → visits → samples) is graph-shaped, and a training-data
pipeline meets real graphs constantly (web link graphs for crawl
prioritization, citation graphs for source weighting). This module
shows the Spark-first pattern for FIXED-POINT iteration: each round is
one join + one aggregation, the loop lives in the DRIVER, and the data
never leaves the JVM.

PageRank recurrence (classic non-normalized form, damping d):

    r_0(v)     = 1
    r_{t+1}(v) = (1 - d) + d * sum over in-edges (u, v) of r_t(u) / outdeg(u)

Dangling nodes (no out-edges) simply stop propagating their mass —
the variant used by the original paper's simplified presentation; it
keeps every step a pure join+agg, which is what makes the recurrence
expressible BOTH as a DataFrame loop and as an unrolled SQL CTE chain
(the registered oracle runs the identical 3-round recurrence).

Spark-first design (100 TB):
- Edges shuffle once per round on the join key; ranks are
  node-cardinality (much smaller than edges). Broadcast is wrong here
  — ranks grow with the graph — so this is the rare loop that WANTS
  the shuffle, pre-partitioned: repartition edges and ranks on the
  same key once and every round's join co-locates.
- ``persist_each`` truncates the logical plan each round
  (persist + count + unpersist of the predecessor). Without it the
  lineage doubles per round and Catalyst analysis time explodes
  around ~15 rounds; with it each round's plan is flat. At cluster
  scale use checkpointing to cut the lineage fully.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    """(src, outdeg) — out-degree per source node."""
    return edges.groupBy(src).agg(F.count(F.lit(1)).cast("long").alias("outdeg"))


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    persist_each: bool = False,
) -> DataFrame:
    """Run ``n_iter`` PageRank rounds over ``edges`` (deduplicated by
    the caller if multi-edges should not double-count). Returns
    ``(node, rank)`` for every node appearing as src or dst.

    The weighted-edge and node tables the loop re-reads every round
    are persisted — otherwise an edges input that is itself a
    join/distinct pipeline gets recomputed once per consumer per
    round (measured 2x wall on the sf0.1 trade graph). The persists
    are lazy; Spark drops them by LRU/weak-ref when the result's
    lineage is released.

    Deterministic up to float-summation order; callers comparing
    across engines should round (see the registered oracle).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = out_degrees(e)
    # weight each edge once: contribution factor 1/outdeg(src)
    ew = e.join(deg, "src").select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv_deg"))
    nodes = nodes.persist()
    ew = ew.persist()

    ranks = nodes.withColumn("r", F.lit(1.0))
    prev = None
    for _ in range(n_iter):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select("dst", (F.col("r") * F.col("inv_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (F.lit(1.0 - damping) + F.lit(damping) * F.coalesce("s", F.lit(0.0))).alias("r"),
        )
        if persist_each:
            ranks = ranks.persist()
            ranks.count()  # materialize now so the lineage truncates
            if prev is not None:
                prev.unpersist()
            prev = ranks
    return ranks.select("node", F.col("r").alias("rank"))


def pagerank_ppm(
    edges: DataFrame,
    n_iter: int = 3,
    damping_ppm: int = 850_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-point PageRank in parts-per-million BIGINT arithmetic —
    the hash-stable sibling of :func:`pagerank` (round-13 hash-
    stability migration).

    Same recurrence, but every step is EXACT integer math::

        r_0(v)     = 1_000_000
        r_{t+1}(v) = (1_000_000 - d_ppm)
                     + d_ppm * sum((u,v) in E) (r_t(u) div outdeg(u))
                       div 1_000_000

    Integer division truncates a deterministic sliver of rank mass
    (standard fixed-point PageRank, as used by systems that need
    reproducible ranks), so the result is bit-identical across
    engines, partitionings, and summation orders — integer sums are
    order-exact — which is what lets the registered oracle hash it at
    full value level where the float variant could only be
    rank-bucketed. Headroom: the damping multiply is applied via the
    exact split identity ``(s*d) div m = (s div m)*d +
    ((s mod m)*d) div m`` (valid for nonnegative s), so the largest
    intermediate is ``max(s div 1e6 * d, 1e6 * d) < max(s, 1e12)`` —
    the multiply cannot overflow before the contribution sum ``s``
    itself (bounded by in-degree * rank, ranks ~1e6) would exceed
    BIGINT at ~9.2e18, i.e. ~9e12 in-degree at 1e6-scale ranks. A
    naive ``d * s`` would wrap ~6 orders of magnitude earlier
    (``850000 * s`` exceeds 2^63 at s ~ 1.08e13, ~1e7 in-degree —
    within range of popular nodes in real web/social graphs), and
    non-ANSI Spark wraps silently.

    Same scale design as :func:`pagerank`: one shuffle per round on
    the join key, node-cardinality rank table, driver-side loop, and
    the same lazy persist of the per-round inputs.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = out_degrees(e)
    ew = e.join(deg, "src").select("src", "dst", "outdeg")
    nodes = nodes.persist()
    ew = ew.persist()

    base = int(1_000_000 - damping_ppm)
    ranks = nodes.withColumn("r", F.lit(1_000_000).cast("long"))
    for _ in range(n_iter):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select("dst", F.expr("r div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        # (s * d) div 1e6 via the split identity — bit-identical values
        # with 1e6x more overflow headroom (see docstring)
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"(coalesce(s, CAST(0 AS BIGINT)) div 1000000)"
                    f" * {damping_ppm}"
                    f" + ((coalesce(s, CAST(0 AS BIGINT)) % 1000000)"
                    f" * {damping_ppm}) div 1000000"
                )
            ).cast("long").alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank_ppm"))


def khop_reachable(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Nodes reachable from ``seeds`` in at most ``k`` directed hops
    (seeds themselves are hop 0). Returns ``(node, hops)`` with the
    MINIMUM hop count — i.e. unweighted BFS shortest distance, capped.

    Driver loop of k rounds; each round is frontier ⋈ edges →
    new nodes (anti-joined against the visited set, so the frontier
    only carries NEW nodes — the loop does O(edges within k hops)
    work total, not O(k * edges)). Same lineage caveat as pagerank:
    for large k, persist per round (k is small by use-case — "friends
    of friends", 2–4).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    visited = seeds.select(F.col(node).alias("n")).distinct().withColumn(
        "hops", F.lit(0)
    )
    frontier = visited
    for hop in range(1, k + 1):
        nxt = (
            e.join(frontier, e.s == frontier.n)
            .select(F.col("d").alias("n"))
            .distinct()
            .join(visited.select("n"), "n", "left_anti")
            .withColumn("hops", F.lit(hop))
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select(F.col("n").alias(node), "hops")


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count of the UNDIRECTED graph induced by
    ``edges`` (direction and multi-edges collapsed). One row:
    (n_triangles).

    The standard ordered-wedge algorithm: canonicalize each edge to
    (lo, hi); wedges are (a<b) ⋈ (b<c) joined on b; a wedge closes
    into a triangle when (a, c) is itself an edge — a second
    equi-join, not an all-pairs check. At scale the wedge count is
    sum(deg_hi^2)-ish; the classic mitigation (orienting edges from
    lower- to higher-degree endpoints) keeps hub wedges from
    exploding and drops in here as a pre-step if degree skew bites.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = ab.join(bc, "b").select("a", "b", "c")
    closing = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = wedges.join(closing, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
