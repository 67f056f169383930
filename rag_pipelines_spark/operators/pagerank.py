"""Quantized-integer PageRank — graph ranking with bit-exact,
engine-portable iterations.

Why it exists: the dedup tier already builds graphs (candidate pairs ->
connected components, operators/graph.py); curation also needs graph
*ranking* — picking authoritative/representative records from a linked
corpus (citation graphs, host link graphs, user-item interaction
graphs). PageRank is the canonical such ranking (public literature:
Brin & Page 1998; the MapReduce formulation is the textbook iterative
Spark workload).

One recurrence over a seed set S. Teleport and dangling mass are paid
to the seeds only, while link mass flows to anyone. S = every node is
classic PageRank. A curated S is personalized PageRank: rank then
measures proximity to the seeds (curated-set expansion, 'find more
records like these' — the graph analog of DSIR's frozen target
distribution), and nodes unreachable from S end at exactly 0.

Determinism contract (the `_q9` lesson from SCALE.md round 9: float
summation order and cross-engine rounding are NOT portable): every
quantity here is a scaled BIGINT numerator, every division is integer
floor division on non-negative operands, every aggregate is an exact
integer SUM. Both engines therefore compute the IDENTICAL lattice
point at every iteration — equality holds BY CONSTRUCTION, not by data
luck. The price is a documented quantization: each `div` drops its
remainder, so total mass decays by < N units per iteration (at the
default total mass of 10^15 that is a ~1e-9 relative loss per step —
far below any ranking-relevant signal).

Update rule, all integer (d = damping_num/damping_den, default 85/100):

    s            = total_mass div |S|                (per-seed start)
    r0(v)        = s if v in S else 0
    contrib(u,v) = r(u) div outdeg(u)                (u -> v edge)
    dangling     = sum of r(u) where outdeg(u) = 0
    r'(v)        = [v in S] * ( ((den-num)*s) div den
                              + (num * (dangling div |S|)) div den )
                 + (num * insum(v)) div den

Spark-first / 100 TB posture:
  * The edge list is the only corpus-sized frame. It is materialized
    ONCE and localCheckpoint'ed; per iteration the work is one
    |nodes|-row join (contributions into edges), one map-side-
    combinable hash agg back to |nodes| rows, and a 1-row dangling agg
    that broadcasts via the crossJoin(1-row) pattern
    (operators/sampling.py precedent) — the driver never materializes
    data.
  * Out-degree and seed membership are static: both are resolved once
    into the checkpointed per-node frame, so no iteration joins the
    degree table or the seeds.
  * Plans stay flat across iterations via per-step localCheckpoint
    (the operators/graph.py / operators/clustering.py discipline).
  * Overflow headroom: with total_mass = 10^15, every intermediate is
    <= damping_num * total_mass ~ 8.5e16 << 2^63; node count only
    *divides* mass, so the contract holds at any graph size.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.concurrency import checkpoint_all

__all__ = ["pagerank"]

TOTAL_MASS = 1_000_000_000_000_000  # 10^15: shared with the oracle

# Deliberate join-strategy gate (guide §3.1): the per-iteration frames
# (ranks, insum) are |nodes|-row, but they sit behind localCheckpoint —
# ExistingRDD has no stats, so Catalyst can never pick the broadcast
# join on its own and every iteration pays a full edge-list shuffle for
# a sort-merge join against a frame thousands of times smaller. Below
# this node count we supply the hint ourselves (restoring the stats the
# checkpoint erased); above it the shuffle join is the right plan and
# nothing changes. ~24 B/row -> 4M nodes is a ~100 MB broadcast,
# inside Spark's own 8 GB broadcast ceiling with wide margin. AQE does
# not make the hint redundant: without it, q_pagerank at sf0.1 (4
# cores) ran 98 jobs instead of 74 and shuffled the edge list every
# iteration (sort-merge first, the switch to broadcast only after the
# shuffles).
_BCAST_NODES_CAP = 4_000_000


def _maybe_bcast(df: DataFrame, small: bool) -> DataFrame:
    return F.broadcast(df) if small else df


class _Graph(NamedTuple):
    """The static, checkpointed inputs of every iteration."""

    nd: DataFrame  # (node, outdeg, _isseed); outdeg NULL = dangling
    ec: DataFrame  # (src, dst): the edge list
    params: DataFrame  # 1 row: n, ns = |S|, s = total_mass div |S|
    small: bool  # join-strategy gate: broadcast the |nodes|-row sides
    damping_num: int
    damping_den: int


def _prepare(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame | None,
    total_mass: int,
    damping_num: int,
    damping_den: int,
) -> tuple[_Graph, DataFrame]:
    """Build the static frames and the iteration-0 ranks (node, outdeg, r)
    from (node) nodes, (src, dst) edges and (node) seeds or None."""
    # The node projection, the raw edge derivation and the seed set are
    # independent job chains — materialize them overlapped (guide §2.6)
    # instead of back to back. The edge list is the ONLY corpus-sized
    # frame; materialize the raw (src, dst) derivation exactly once, or
    # every iteration replays the upstream edge derivation (at the
    # registered graph: the orders x lineitem join + distinct). Nothing
    # edge-sized is joined-and-rematerialized either: out-degrees ride
    # the |nodes|-row frame below, so contributions are computed per
    # NODE (r div outdeg on |nodes| rows) before the edge join, not per
    # edge occurrence.
    frames = [nodes, edges] + ([] if seeds is None else [seeds.distinct()])
    n1, ec, *sd = checkpoint_all(*frames)
    deg = ec.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outdeg")
    )
    # S = every node needs no seed join: the marker is a literal
    is_seed = F.lit(1)
    if sd:
        n1 = n1.join(sd[0].withColumn("_isseed", F.lit(1)), "node", "left")
        is_seed = F.coalesce("_isseed", F.lit(0))
    nd = (
        n1.join(deg, "node", "left")
        .select("node", "outdeg", is_seed.alias("_isseed"))
        .localCheckpoint(eager=True)
    )
    # 1-row parameter frame, broadcast everywhere it is needed.
    # Checkpointed so the per-iteration broadcast re-reads 1 row, not
    # the node agg. nullif: an empty S must reach the check below, not
    # fail inside the job with DIVIDE_BY_ZERO.
    params = (
        nd.agg(F.count("*").alias("n"), F.sum("_isseed").alias("ns"))
        .select(
            "n",
            "ns",
            F.expr(f"CAST({total_mass} AS BIGINT) div nullif(ns, 0)").alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    # The one driver read: a 1-row read of a materialized agg (the
    # operators/graph.py convergence-scalar precedent), not a data
    # collect. It feeds both the empty-seed check and the gate.
    p = params.first()
    if not p["ns"]:
        raise ValueError(
            "pagerank: the seed set is empty (no node of `nodes` is a seed)"
        )
    g = _Graph(
        nd, ec, params, p["n"] <= _BCAST_NODES_CAP, damping_num, damping_den
    )
    ranks = nd.crossJoin(F.broadcast(params)).select(
        "node",
        "outdeg",
        F.when(F.col("_isseed") == 1, F.col("s"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    return g, ranks.localCheckpoint(eager=True)


def _step(g: _Graph, ranks: DataFrame) -> DataFrame:
    """One iteration: the next (node, outdeg, r) frame, before the
    checkpoint. Exposed for tools/capture_body_plans.py so the committed
    iteration-body plan is BUILT FROM this exact code."""
    num, den = g.damping_num, g.damping_den
    # |nodes|-row contributions frame broadcast into the edge join when
    # the gate allows: the edge list (the one corpus-sized frame) is
    # then scanned in place — zero edge shuffle per iteration; only the
    # map-side-combined (dst, m) partials move.
    insum = (
        _maybe_bcast(
            ranks.select("node", F.expr("r div outdeg").alias("c")), g.small
        )
        .join(g.ec, F.col("node") == g.ec["src"])
        .groupBy("dst")
        .agg(F.sum("c").alias("m"))
    )
    dang1 = ranks.filter(F.col("outdeg").isNull()).agg(
        F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dang")
    )
    teleport = F.expr(f"(({den - num}) * s) div {den}") + F.expr(
        f"({num} * (dang div ns)) div {den}"
    )
    return (
        g.nd.crossJoin(F.broadcast(g.params))
        .crossJoin(F.broadcast(dang1))
        .join(_maybe_bcast(insum, g.small), g.nd["node"] == insum["dst"], "left")
        .select(
            "node",
            "outdeg",
            (
                F.when(F.col("_isseed") == 1, teleport).otherwise(
                    F.lit(0).cast("long")
                )
                + F.expr(f"({num} * coalesce(m, CAST(0 AS BIGINT))) div {den}")
            ).cast("long").alias("r"),
        )
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame | None = None,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iters: int = 8,
    total_mass: int = TOTAL_MASS,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """(node, rank): quantized-integer PageRank after `iters` steps.

    `nodes` must contain every vertex (isolated vertices are dangling
    and receive only the seed share, 0 for a non-seed); `edges` is a
    DIRECTED (src, dst) list — deduplicate upstream if multiplicity is
    not intended (parallel edges weight the contribution). `seeds` (column
    `seed_col`) is the seed set S; None means every node. Seeds that are
    not in `nodes` are ignored. An empty S raises ValueError.
    """
    g, ranks = _prepare(
        nodes.select(F.col(node_col).alias("node")),
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        None if seeds is None else seeds.select(F.col(seed_col).alias("node")),
        total_mass,
        damping_num,
        damping_den,
    )
    for _ in range(iters):
        ranks = _step(g, ranks).localCheckpoint(eager=True)
    return ranks.select("node", F.col("r").alias("rank"))
