"""Graph operators for dedup-cluster resolution.

A near-duplicate pipeline (MinHash/SimHash/Jaccard/embedding) produces
candidate PAIRS; turning pairs into delete decisions needs the
transitive closure — documents A~B and B~C must land in ONE cluster
even though (A, C) was never emitted.  ``connected_components`` labels
every endpoint with its component's minimum id.

Scale shape: min-label propagation with POINTER JUMPING — each round
is two hash-partitioned joins (neighbor-min, then label-of-label), so
convergence needs O(log diameter) rounds instead of O(diameter).
Near-dup clusters are small and dense (that is what similarity means),
so in practice 2-3 rounds close; ``max_iters`` bounds the pathological
chain.  Each round is ONE job: the changed-label count rides the jump
join itself as an ``Observation`` metric, collected by the eager
``localCheckpoint`` that also truncates the growing lineage (which
would otherwise re-execute every prior round's joins each action) —
no separate fixed-point probe job.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable through the
    undirected edge set.  Nodes with no edges are not emitted (a
    caller's left join treats them as their own singleton cluster).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # mirror by row-level explode, not a union of two branches — a
    # union would run the caller's edge subplan twice (for the near-dup
    # clustering caller that subplan is the whole candidate-pair
    # pipeline; Catalyst does not share it between branches)
    bidir = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        bidir.select("a")
        .distinct()
        .select(F.col("a").alias("node"), F.col("a").alias("comp"))
    )

    changed = True
    for _ in range(max_iters):
        # Propagate: each node takes the min label over itself and its
        # neighbors.  One shuffle keyed on the node id.  The round's
        # OLD label rides along so the fixed-point check is a column
        # comparison, not a join back against the previous labels.
        nbr = (
            bidir.join(
                labels.select(F.col("node").alias("b"), F.col("comp").alias("ncomp")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("ncomp").alias("nbr_min"))
            .select(F.col("a").alias("node"), "nbr_min")
        )
        prop = labels.join(nbr, "node", "left").select(
            "node",
            F.col("comp").alias("old_comp"),
            F.least(F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))).alias("comp"),
        )
        # Pointer jump: comp := comp(comp) — collapses label chains in
        # log steps.
        jumped = (
            prop.alias("x")
            .join(
                prop.select(
                    F.col("node").alias("comp"), F.col("comp").alias("jcomp")
                ).alias("y"),
                "comp",
                "left",
            )
            .select(
                "node",
                "old_comp",
                F.least(F.col("comp"), F.coalesce(F.col("jcomp"), F.col("comp"))).alias("comp"),
            )
        )
        # Fixed-point probe folded into the round's single action: the
        # changed-count is an Observation on the jump join, and the
        # eager localCheckpoint both materializes the round (truncating
        # lineage) and delivers the metric — one job per round instead
        # of a checkpoint job plus a probe job.
        obs = Observation()
        labels = (
            jumped.observe(
                obs,
                F.sum((F.col("comp") != F.col("old_comp")).cast("long")).alias("changed"),
            )
            .select("node", "comp")
            .localCheckpoint(eager=True)
        )
        changed = (obs.get["changed"] or 0) > 0
        if not changed:
            break
    if changed:
        warnings.warn(
            f"connected_components: not converged after max_iters={max_iters} "
            "rounds; returned labels may split components. Raise max_iters "
            "(rounds needed grow ~log2 of graph diameter).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("comp").alias("component"))


def pagerank_integer(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    init_mass: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Link-based importance over a directed graph — the PageRank-style
    centrality web-corpus curation uses as a document quality prior
    (harmonic/PageRank centrality in Common Crawl derivatives) —
    defined over INTEGER mass so the result is deterministic and
    bit-exact reproducible in any engine (double-sum PageRank is
    partition-order-sensitive; integer sums are not):

        mass_0(v)   = init_mass
        mass_t+1(v) = floor(init_mass * (100-damping_pct) / 100)
                      + Σ_{u→v} floor(damping_pct * mass_t(u)
                                      / (100 * outdeg(u)))

    Dangling nodes absorb (their mass leaks, as in the common
    "no dangling redistribution" simplification); floor rounding means
    total mass is conserved only approximately — this operator's
    contract is the exact integer recurrence above, which an unrolled
    SQL twin reproduces bit-for-bit.

    Scale shape: outdeg is one hash agg over the edges; each iteration
    is one (edges ⋈ masses) hash join on src — masses has one row per
    node, so for web-scale graphs both sides hash-partition on the
    join key and nothing is ever collected — followed by one hash agg
    on dst.  Rounds are fixed (``iters``), each truncated with an
    eager ``localCheckpoint`` so round N's action does not re-execute
    rounds 1..N-1 (same lineage discipline as connected_components).
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # explode, not union: one pass over the edge subplan for the node set
    nodes = (
        e.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ew = e.join(outdeg, "src").localCheckpoint(eager=False)
    base = (init_mass * (100 - damping_pct)) // 100
    masses = nodes.withColumn("mass", F.lit(init_mass).cast("long"))
    prev = None
    for _ in range(iters):
        contrib = (
            ew.join(masses.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                # integer `div`, NOT `/`+floor: `/` on longs routes
                # through double, whose rounding can land exactly on an
                # integer the true quotient sits just below — breaking
                # the bit-exact integer recurrence this operator promises
                F.sum(
                    F.expr(f"({damping_pct} * mass) div (100 * outdeg)")
                ).alias("in_mass")
            )
        )
        masses = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0))).cast("long").alias("mass"),
            )
            .localCheckpoint(eager=True)
        )
        # storage stays bounded at ONE round of masses (plus nodes/ew):
        # the superseded round's checkpoint blocks are dead the moment
        # the new one materializes
        if prev is not None:
            prev.unpersist()
        prev = masses
    return masses


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    undirected simple graph given as (possibly duplicated, possibly
    self-looped, either-direction) edge rows.

    The scale algorithm is degree-ordered orientation (Cohen / the
    standard MapReduce triangle recipe): orient every edge from the
    LOWER (degree, id) endpoint to the higher, so each triangle is
    generated exactly once from its lowest-rank vertex, and the wedge
    fan-out per vertex is bounded by its ORIENTED out-degree —
    O(m^{3/2}) wedges total on any graph instead of sum(deg²) (a
    hub with degree d contributes C(d,2) wedges unoriented; oriented,
    its edges point INTO it and contribute none).  Three shuffles:
    degree agg, wedge self-join on the low vertex, closure equi-join
    of wedges against oriented edges.

    Returns ONE row: n_nodes, n_edges, n_wedges (unoriented open+closed
    wedge count, sum over v of C(deg(v), 2)), n_triangles, and
    gcc_ppm = floor(1e6 · 3 · triangles / wedges) — integer ppm so the
    cross-engine compare is exact (0 when the graph has no wedges).
    """
    a, b = F.col(src), F.col(dst)
    # canonicalize: undirected, no self-loops, distinct
    e = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # rank = (deg, id): total order; orient low -> high
    ed = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("lo"), F.col("o.hi").alias("hi"))
    )
    # wedges from the low vertex: (hi1, hi2) pairs, canonical a<b so
    # the closure join can hit the UNDIRECTED edge set directly
    e1 = ed.select(F.col("lo").alias("u"), F.col("hi").alias("x"))
    e2 = ed.select(F.col("lo").alias("u"), F.col("hi").alias("y"))
    wedges = (
        e1.join(e2, "u")
        .filter(F.col("x") < F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
    )
    tri = wedges.join(e, ["a", "b"], "left_semi")

    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("deg") * (F.col("deg") - F.lit(1)) / F.lit(2))
        .cast("long")
        .alias("n_wedges"),
    )
    return (
        node_stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                F.floor(
                    F.lit(1_000_000)
                    * F.lit(3)
                    * F.col("n_triangles")
                    / F.col("n_wedges")
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("gcc_ppm"),
        )
    )
