"""Iterative graph analytics over pair lists (SURVEY.md §2.D extras).

PageRank as pure DataFrame iterations — the second iterative-algorithm
class next to connected components (operators/dedup.py): per-iteration a
rank-contribution shuffle keyed on the edge source and one aggregate keyed
on the destination.  Every loop here runs through the shared driver in
operators/fixpoint.py, which owns the checkpoint cadence, the convergence
count and the release of its checkpoints (as the CC loop does).

The pipeline use here is CANONICAL-DOCUMENT SELECTION: within a near-dup
cluster, the survivor should be the most central duplicate (the template
every variant derives from), not min-doc-id.  PageRank on the undirected
near-dup graph gives exactly that centrality, cheaply: the dup graph's
components are tiny (cluster-sized), so ranks converge in a handful of
iterations regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fixpoint import fixpoint


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    n_iter: int = 10,
    beta: float = 0.85,
) -> DataFrame:
    """(node, rank) over the undirected graph given as a pair list.

    Standard damped power iteration, normalized per connected graph (ranks
    sum to |nodes|·(1)/… the classic formulation: rank := (1-β) + β·Σ
    in-contributions with uniform teleport mass 1 per node).  Dangling
    nodes cannot occur — the symmetrized edge list gives every node
    out-degree ≥ 1.

    Scale: each iteration is ONE join of ranks to edges (shuffle on src —
    reusable partitioning round over round) and one groupBy(dst) aggregate;
    state is a (node, rank) frame, never adjacency materialization beyond
    the input edges.  The lineage is truncated by the fixpoint driver.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # cache the (small relative to corpus) edge+degree frame: reused n_iter times
    withdeg = edges.join(out_deg, "src").persist()
    ranks = out_deg.select(F.col("src").alias("node"), F.lit(1.0).alias("rank"))

    def step(ranks: DataFrame, _i: int) -> DataFrame:
        contribs = (
            withdeg.join(ranks, withdeg.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        return contribs.select(
            F.col("dst").alias("node"),
            (F.lit(1.0 - beta) + F.lit(beta) * F.col("in_sum")).alias("rank"),
        )

    # the driver returns a materialized frame, so the cache has served
    # every iteration's join before it is dropped
    ranks, _ = fixpoint(step, ranks, n_iter)
    withdeg.unpersist()
    return ranks


def pagerank_exact(
    edges: DataFrame,
    n_iter: int = 4,
    deg_lcm: int = 12,
) -> DataFrame:
    """(node, rank_scaled BIGINT): damped PageRank (β = 17/20) computed in
    EXACT integer-rational arithmetic — the cross-engine-attestable twin of
    :func:`pagerank`.

    Writing pr_t = a_t / S_t with S_t = n · 20^t · D^t (D = ``deg_lcm``, a
    common multiple of every out-degree), the damped power iteration

        pr_{t+1}(v) = 3/(20n) + (17/20) · Σ_{u→v} pr_t(u) / d(u)

    becomes the pure-integer recurrence

        a_{t+1}(v) = 3 · 20^t · D^{t+1} + 17 · Σ_{u→v} a_t(u) · (D / d(u))

    with a_0 = 1.  Every engine that does exact 64-bit integer arithmetic
    produces bit-identical a_T — no float summation-order wobble, so an
    iterative graph computation can be value-hash-compared against a SQL
    oracle.  Growth is ~(17 · D · max_indeg)^T: with D = 12, indeg ≤ 4,
    T = 4 the numerators stay < 2^40, far inside BIGINT.

    ``edges`` is a directed (src, dst) list; every out-degree must divide
    ``deg_lcm`` (validated — a silent floor in D/d(u) would corrupt the
    recurrence).  Dangling nodes (in-edges only) receive teleport + inflow
    but contribute nothing, identically on both engines.

    Scale: identical plan shape to :func:`pagerank` — per iteration ONE
    join of the (node, a) state to the weighted edge list (shuffle keyed on
    src, reusable round over round) + one groupBy(dst) aggregate + one left
    join back to the node set; lineage truncated by the fixpoint driver."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    bad = deg.filter(F.lit(deg_lcm) % F.col("d") != 0).count()
    if bad:
        raise ValueError(
            f"pagerank_exact: {bad} nodes have an out-degree that does not "
            f"divide deg_lcm={deg_lcm}; the integer recurrence would floor"
        )
    we = (
        edges.join(deg, "src")
        .select(
            "src",
            "dst",
            (F.lit(deg_lcm).cast("bigint") / F.col("d")).cast("bigint").alias("w"),
        )
        .persist()
    )
    a = nodes.select("node", F.lit(1).cast("bigint").alias("a"))

    def step(a: DataFrame, t: int) -> DataFrame:
        const = 3 * (20**t) * (deg_lcm ** (t + 1))
        contrib = (
            we.join(a, we.src == a.node)
            .select(F.col("dst"), (F.col("a") * F.col("w")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(const).cast("bigint")
                + F.lit(17).cast("bigint") * F.coalesce(F.col("s"), F.lit(0))
            ).alias("a"),
        )

    # the driver returns a materialized frame: dropping the caches any
    # earlier would make every iteration join recompute the edges scan
    a, _ = fixpoint(step, a, n_iter)
    we.unpersist()
    nodes.unpersist()
    return a.select("node", F.col("a").alias("rank_scaled"))


def canonical_by_centrality(
    pairs: DataFrame,
    components: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    n_iter: int = 10,
) -> DataFrame:
    """(component, canonical_id, rank): per near-dup cluster, the member
    with the highest PageRank centrality (ties → min id) — the survivor a
    template-aware dedup keeps.  ``components`` is the (node, component)
    output of connected_components on the same pairs."""
    from pyspark.sql import Window

    ranks = pagerank(pairs, id_a, id_b, n_iter=n_iter)
    joined = components.join(ranks, "node")
    w = Window.partitionBy("component").orderBy(F.col("rank").desc(), F.col("node"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            F.col("node").alias("canonical_id"),
            F.round("rank", 6).alias("rank"),
        )
    )


def label_propagation(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    n_iter: int = 15,
) -> DataFrame:
    """(node, label) communities by synchronous label propagation
    (Raghavan et al. 2007) with a SELF-VOTE and deterministic
    (count DESC, label ASC) tie-break.  The self-vote prevents the
    classic two-coloring oscillation on sparse graphs; majority voting
    keeps densely-connected groups distinct even when a sparse bridge
    joins them — which is exactly how LPA differs from connected
    components (min-label flood).

    Scale: per iteration ONE labels-to-edges join (shuffle keyed on the
    edge source, same partitioning every round) + one degree-bounded
    vote window per node; state is a (node, label) frame.  The self-vote
    rides the persisted edge frame as a self-loop edge
    ``(node, node, _self=1)``, so each round references ``labels`` once
    and the plan grows linearly with rounds.  An input pair ``(x, x)``
    still votes twice, as ``_self=0`` and ``_self=1``.  Iterations stop
    early at zero changed labels; the cadence of that check and of the
    lineage truncation lives in operators/fixpoint.py.  When ``n_iter``
    runs out first, the labels after the last round are returned."""
    a, b = f"`{id_a}`", f"`{id_b}`"
    edges = (
        pairs.selectExpr(
            f"stack(4, {a}, {b}, 0, {b}, {a}, 0, {a}, {a}, 1, {b}, {b}, 1)"
            " AS (src, dst, _self)"
        )
        .distinct()
        .persist()
    )
    labels = edges.filter(F.col("_self") == 1).select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label").asc())
    # whole-partition frame over the SAME (node; cnt desc, label) sort — the
    # old-label recovery below shares w's Exchange+Sort: the self-vote row
    # already knows the old label, so mark it and lift it over the node
    # partition instead of joining new against old labels.
    w_all = (
        Window.partitionBy("node")
        .orderBy(F.col("cnt").desc(), F.col("label").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )

    def step(labels: DataFrame, _i: int) -> DataFrame:
        votes = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label", "_self"
        )
        return (
            votes.groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"), F.max("_self").alias("_is_old"))
            .withColumn("_rn", F.row_number().over(w))
            .withColumn(
                "_old",
                F.max(F.when(F.col("_is_old") == 1, F.col("label"))).over(w_all),
            )
            .filter(F.col("_rn") == 1)
            .select("node", "label", (F.col("label") != F.col("_old")).alias("_chg"))
        )

    labels, _ = fixpoint(step, labels, n_iter)
    edges.unpersist()
    return labels
