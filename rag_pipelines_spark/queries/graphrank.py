"""Graph ranking — quantized-integer PageRank over the natural
customer<->supplier interaction graph (operators/pagerank.py).

Graph: nodes = all customers + all suppliers (dimension tables, so
customers with no orders are isolated/dangling vertices); edges = the
DISTINCT (customer, supplier) trade pairs from orders x lineitem, in
both directions (an undirected bipartite interaction graph). This is
the curation shape: rank entities by linked importance, then keep/
weight records by the rank (host authority for web corpora, citation
rank for paper corpora — same machinery, different edge source).

The DuckDB oracle replays the identical 8 iterations as chained
MATERIALIZED CTEs (the round-9 lesson: DuckDB re-evaluates CTEs per
reference, so chained iterative oracles MUST pin AS MATERIALIZED or
they go exponential). Every quantity is a scaled BIGINT and every
division is integer floor division on non-negative operands, so the
hash gate certifies bit-identical ranks — no float contract needed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_pipelines_spark.operators.pagerank import TOTAL_MASS, pagerank
from rag_pipelines_spark.queries._util import Key, register_checksum, t
from rag_pipelines_spark.registry import register

_ITERS = 8


# The customer<->supplier graph of _graph_frames with string node ids
# ('c:<key>' / 's:<key>'), and its out-degrees.
_SQL_GRAPH = [
    """pairs AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)""",
    """edges AS MATERIALIZED (
        SELECT 'c:' || CAST(ck AS VARCHAR) AS src,
               's:' || CAST(sk AS VARCHAR) AS dst FROM pairs
        UNION ALL
        SELECT 's:' || CAST(sk AS VARCHAR),
               'c:' || CAST(ck AS VARCHAR) FROM pairs)""",
    """nodes AS MATERIALIZED (
        SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS node FROM customer
        UNION ALL
        SELECT 's:' || CAST(s_suppkey AS VARCHAR) FROM supplier)""",
]
_SQL_DEG = """deg AS MATERIALIZED (
        SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)"""


def _sql_pr_step(i: int) -> list[str]:
    """Iteration i's shared CTEs: d{i} = rank mass of r{i-1}'s dangling
    nodes, m{i} = per-node sum of in-neighbours' rank // outdeg."""
    return [
        f"""d{i} AS MATERIALIZED (
            SELECT COALESCE(SUM(r), 0) AS dang FROM r{i - 1}
            WHERE node NOT IN (SELECT src FROM deg))""",
        f"""m{i} AS MATERIALIZED (
            SELECT e.dst AS node, SUM(r.r // g.outdeg) AS m
            FROM r{i - 1} r
            JOIN edges e ON r.node = e.src
            JOIN deg g ON g.src = e.src
            GROUP BY e.dst)""",
    ]


def _pagerank_with(iters: int = _ITERS) -> str:
    """WITH-chain replaying operators/pagerank.py in DuckDB: per
    iteration one dangling-mass scalar, one edge-contribution agg, one
    node-relabel — all integer arithmetic."""
    parts = [
        *_SQL_GRAPH,
        f"""params AS MATERIALIZED (
        SELECT COUNT(*) AS n,
               CAST({TOTAL_MASS} AS BIGINT) // COUNT(*) AS s FROM nodes)""",
        _SQL_DEG,
        """r0 AS MATERIALIZED (
        SELECT node, (SELECT s FROM params) AS r FROM nodes)""",
    ]
    for i in range(1, iters + 1):
        parts += _sql_pr_step(i)
        parts.append(
            f"""r{i} AS MATERIALIZED (
            SELECT n.node,
                   (15 * (SELECT s FROM params)) // 100
                 + (85 * ((SELECT dang FROM d{i})
                          // (SELECT n FROM params))) // 100
                 + (85 * COALESCE(m.m, 0)) // 100 AS r
            FROM nodes n LEFT JOIN m{i} m ON n.node = m.node)"""
        )
    return "WITH " + ",\n".join(parts)


_FINAL_SELECT = (
    f"SELECT node, CAST(r AS BIGINT) AS rank_num FROM r{_ITERS}"
)


# Narrow node encoding (optimization guide §2.3 — "narrower types"):
# the rank lattice depends only on graph STRUCTURE, so the iterations
# run on one BIGINT per node (customers ride 2*key, suppliers 2*key+1 —
# injective, both TPC-H keys are positive ints) instead of a
# "c:<key>"/"s:<key>" string. That halves-to-thirds the bytes of the
# edge checkpoint and of every per-iteration hash/probe (8 iterations x
# |edges| long hashes instead of string hashes), and at cluster scale
# shrinks the one per-iteration shuffle (the map-side-combined insum
# partials) the same way. The string form the oracle computes is
# re-derived expression-wise from the long at output — a projection,
# not a join — so the published (node, rank) rows are bit-identical.


def _enc_c(col: str):
    return F.col(col).cast("long") * 2


def _enc_s(col: str):
    return F.col(col).cast("long") * 2 + 1


def _decode_node():
    half = F.expr("CAST(node div 2 AS STRING)")
    return F.when(
        F.pmod(F.col("node"), F.lit(2)) == 0, F.concat(F.lit("c:"), half)
    ).otherwise(F.concat(F.lit("s:"), half))


def _graph_frames(spark, sf_dir):
    pairs = (
        t(spark, sf_dir, "orders")
        .join(
            t(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    c_id = _enc_c("ck")
    s_id = _enc_s("sk")
    edges = pairs.select(c_id.alias("src"), s_id.alias("dst")).unionByName(
        pairs.select(s_id.alias("src"), c_id.alias("dst"))
    )
    nodes = (
        t(spark, sf_dir, "customer")
        .select(_enc_c("c_custkey").alias("node"))
        .unionByName(
            t(spark, sf_dir, "supplier").select(
                _enc_s("s_suppkey").alias("node")
            )
        )
    )
    return nodes, edges


@register(
    "q_pagerank",
    oracle=f"""
    {_pagerank_with()}
    {_FINAL_SELECT}
    """,
    doc="quantized-integer PageRank (8 iterations, damping 85/100) over "
    "the customer<->supplier interaction graph — per iteration one "
    "|nodes|-row join shuffle + one map-side-combinable agg back to "
    "|nodes| rows; edges build once; all arithmetic is scaled-BIGINT "
    "floor division so the served ranks are bit-identical across "
    "engines BY CONSTRUCTION (operators/pagerank.py)",
)
def q_pagerank(spark, sf_dir):
    nodes, edges = _graph_frames(spark, sf_dir)
    return pagerank(nodes, edges, iters=_ITERS).select(
        _decode_node().alias("node"), F.col("rank").alias("rank_num")
    )


def _ppr_with(iters: int = _ITERS) -> str:
    """WITH-chain replaying pagerank with a seed set: teleport + dangling
    mass return to the seeds only (suppliers with s_suppkey%10=0)."""
    parts = [
        *_SQL_GRAPH,
        """seeds AS MATERIALIZED (
        SELECT 's:' || CAST(s_suppkey AS VARCHAR) AS node FROM supplier
        WHERE s_suppkey % 10 = 0)""",
        f"""params AS MATERIALIZED (
        SELECT COUNT(*) AS ns,
               CAST({TOTAL_MASS} AS BIGINT) // COUNT(*) AS s FROM seeds)""",
        _SQL_DEG,
        """r0 AS MATERIALIZED (
        SELECT n.node,
               CASE WHEN sd.node IS NOT NULL
                    THEN (SELECT s FROM params) ELSE 0 END AS r
        FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node)""",
    ]
    for i in range(1, iters + 1):
        parts += _sql_pr_step(i)
        parts.append(
            f"""r{i} AS MATERIALIZED (
            SELECT n.node,
                   CASE WHEN sd.node IS NOT NULL
                        THEN (15 * (SELECT s FROM params)) // 100
                           + (85 * ((SELECT dang FROM d{i})
                                    // (SELECT ns FROM params))) // 100
                        ELSE 0 END
                 + (85 * COALESCE(m.m, 0)) // 100 AS r
            FROM nodes n
            LEFT JOIN seeds sd ON n.node = sd.node
            LEFT JOIN m{i} m ON n.node = m.node)"""
        )
    return "WITH " + ",\n".join(parts)


@register(
    "q_pagerank_personalized",
    oracle=f"""
    {_ppr_with()}
    SELECT node, CAST(r AS BIGINT) AS rank_num FROM r{_ITERS}
    WHERE r > 0
    """,
    doc="personalized PageRank — teleport and dangling mass return only "
    "to a curated seed set (every 10th supplier), so rank measures "
    "graph proximity to the seeds: curated-set expansion, the graph "
    "analog of DSIR's frozen target distribution. Zero-rank nodes "
    "(unreachable from the seeds) are filtered — at corpus scale the "
    "output is the reachable neighborhood, not the node universe. Same "
    "scaled-BIGINT floor-division contract as q_pagerank "
    "(operators/pagerank.py::pagerank with a seed set)",
)
def q_pagerank_personalized(spark, sf_dir):
    nodes, edges = _graph_frames(spark, sf_dir)
    seeds = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select(_enc_s("s_suppkey").alias("node"))
    )
    return (
        pagerank(nodes, edges, seeds, iters=_ITERS)
        .filter(F.col("rank") > 0)
        .select(_decode_node().alias("node"), F.col("rank").alias("rank_num"))
    )


register_checksum(
    "q_pagerank",
    key=Key("node", buckets=32),
    parts=["node", "rank_num"],
    doc="bounded differential form of q_pagerank for the sf-scaling "
    "sweeps: wraps the headline fn and oracle VERBATIM and reduces to "
    "32 md5-prefix bucket rows — count plus an XOR of per-node "
    "(node, rank) digests",
)
