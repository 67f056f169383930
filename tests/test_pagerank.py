"""Quantized-integer PageRank (operators/pagerank.py) vs a pure-Python
reference of the SAME integer recurrence — the bit-exactness contract is
that every engine computing the rule lands on the identical lattice
point, so Spark == reference must hold exactly, not approximately."""

from __future__ import annotations

from collections import Counter, defaultdict

from hypothesis import given, settings
from hypothesis import strategies as st
import pytest

from rag_pipelines_spark.operators.pagerank import TOTAL_MASS, pagerank


def _ref(nodes, edges, iters, total=TOTAL_MASS, num=85, den=100):
    n = len(nodes)
    s = total // n
    outdeg = Counter(u for u, _ in edges)
    r = {v: s for v in nodes}
    for _ in range(iters):
        insum: dict = defaultdict(int)
        for u, v in edges:
            insum[v] += r[u] // outdeg[u]
        dang = sum(r[u] for u in nodes if outdeg[u] == 0)
        r = {
            v: ((den - num) * s) // den
            + (num * (dang // n)) // den
            + (num * insum[v]) // den
            for v in nodes
        }
    return r


def _spark_ranks(spark, nodes, edges, iters, seeds=None):
    ndf = spark.createDataFrame([(v,) for v in nodes], "node string")
    edf = spark.createDataFrame(list(edges), "src string, dst string")
    sdf = (
        None
        if seeds is None
        else spark.createDataFrame([(v,) for v in seeds], "node string")
    )
    return {
        row["node"]: row["rank"]
        for row in pagerank(ndf, edf, sdf, iters=iters).collect()
    }


def test_hand_graph_exact(spark):
    # A <-> B cycle plus isolated C (dangling): C keeps only teleport +
    # dangling share; A and B split the link mass symmetrically
    nodes = ["a", "b", "c"]
    edges = [("a", "b"), ("b", "a")]
    got = _spark_ranks(spark, nodes, edges, iters=4)
    want = _ref(nodes, edges, 4)
    assert got == want
    assert got["a"] == got["b"] > got["c"] > 0
    # classic PageRank is the seed set of every node
    assert _spark_ranks(spark, nodes, edges, iters=4, seeds=nodes) == got


def test_mass_conservation_bound(spark):
    # floors only ever DROP mass, and by less than one unit per division
    # site per iteration — total stays within a tight band of total_mass
    nodes = [f"n{i}" for i in range(10)]
    edges = [(f"n{i}", f"n{(i + 1) % 10}") for i in range(10)] + [
        (f"n{i}", f"n{(i + 3) % 10}") for i in range(10)
    ]
    got = _spark_ranks(spark, nodes, edges, iters=8)
    total = sum(got.values())
    assert total <= TOTAL_MASS
    assert total >= TOTAL_MASS * 0.999


def _ref_personalized(nodes, seeds, edges, iters, total=TOTAL_MASS,
                      num=85, den=100):
    ns = len(seeds)
    s = total // ns
    outdeg = Counter(u for u, _ in edges)
    r = {v: (s if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        insum: dict = defaultdict(int)
        for u, v in edges:
            insum[v] += r[u] // outdeg[u]
        dang = sum(r[u] for u in nodes if outdeg[u] == 0)
        r = {
            v: (
                ((den - num) * s) // den + (num * (dang // ns)) // den
                if v in seeds
                else 0
            )
            + (num * insum[v]) // den
            for v in nodes
        }
    return r


def test_personalized_matches_reference_and_localizes(spark):
    # two components: {a, b} linked, {c, d} linked; seed only in {a, b}
    # -> c and d must end at EXACTLY zero (no teleport ever reaches them)
    nodes = ["a", "b", "c", "d"]
    edges = [("a", "b"), ("b", "a"), ("c", "d"), ("d", "c")]
    got = _spark_ranks(spark, nodes, edges, iters=4, seeds=["a"])
    assert got == _ref_personalized(nodes, {"a"}, edges, 4)
    assert got["c"] == got["d"] == 0
    assert got["a"] > 0 and got["b"] > 0


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_random_graphs_match_reference(spark, data):
    n = data.draw(st.integers(min_value=2, max_value=7))
    nodes = [f"v{i}" for i in range(n)]
    edges = data.draw(
        st.lists(
            st.tuples(st.sampled_from(nodes), st.sampled_from(nodes)),
            min_size=0,
            max_size=12,
        )
    )
    iters = data.draw(st.integers(min_value=1, max_value=4))
    seeds = data.draw(
        st.none() | st.sets(st.sampled_from(nodes), min_size=1)
    )
    want = (
        _ref(nodes, edges, iters)
        if seeds is None
        else _ref_personalized(nodes, seeds, edges, iters)
    )
    assert _spark_ranks(spark, nodes, edges, iters, seeds) == want


def test_empty_seed_set_raises(spark):
    with pytest.raises(ValueError, match="seed set is empty"):
        _spark_ranks(spark, ["a", "b"], [("a", "b")], iters=2, seeds=[])


def test_narrow_encoding_decodes_to_reference_strings(spark):
    # r10 optimization: q_pagerank runs the iterations on BIGINT-encoded
    # nodes (customers 2k, suppliers 2k+1 — guide §2.3 narrower types)
    # and re-derives the "c:<key>"/"s:<key>" strings at output. Pin the
    # encode->decode round trip AND that rank values are representation-
    # independent: the same graph run with string ids and with the long
    # encoding must produce identical (string node, rank) sets.
    from pyspark.sql import functions as F

    from rag_pipelines_spark.queries.graphrank import (
        _decode_node,
        _enc_c,
        _enc_s,
    )

    cust = spark.createDataFrame([(7,), (19,)], "c_custkey int")
    supp = spark.createDataFrame([(7,), (240,)], "s_suppkey int")
    enc = cust.select(_enc_c("c_custkey").alias("node")).unionByName(
        supp.select(_enc_s("s_suppkey").alias("node"))
    )
    got = sorted(
        r["node"] for r in enc.select(_decode_node().alias("node")).collect()
    )
    assert got == ["c:19", "c:7", "s:240", "s:7"]

    # representation independence of the rank lattice
    edges_s = [("c:7", "s:7"), ("s:7", "c:7"), ("c:19", "s:240")]
    enc_map = {"c:7": 14, "c:19": 38, "s:7": 15, "s:240": 481}
    nodes_s = list(enc_map)
    ndf_s = spark.createDataFrame([(v,) for v in nodes_s], "node string")
    edf_s = spark.createDataFrame(edges_s, "src string, dst string")
    ndf_l = spark.createDataFrame(
        [(enc_map[v],) for v in nodes_s], "node long"
    )
    edf_l = spark.createDataFrame(
        [(enc_map[a], enc_map[b]) for a, b in edges_s], "src long, dst long"
    )
    dec = {v: k for k, v in enc_map.items()}
    r_str = {
        r["node"]: r["rank"] for r in pagerank(ndf_s, edf_s, iters=3).collect()
    }
    r_long = {
        dec[r["node"]]: r["rank"]
        for r in pagerank(ndf_l, edf_l, iters=3).collect()
    }
    assert r_str == r_long


def test_checkpoint_all_preserves_rows(spark):
    # guide §2.6 helper: overlapped eager materialization must return
    # exactly the frames the sequential calls would, in input order
    from rag_pipelines_spark.operators.concurrency import checkpoint_all

    a = spark.range(100).withColumnRenamed("id", "x")
    b = spark.range(7)
    ca, cb = checkpoint_all(a, b)
    assert sorted(r["x"] for r in ca.collect()) == list(range(100))
    assert cb.count() == 7
    (one,) = checkpoint_all(a)
    assert one.count() == 100


def test_checkpoint_all_jobs_keep_the_callers_job_group(spark):
    # the pool threads must inherit the caller's local properties, or a
    # job-group based profiler (perfbench Tracer) misses their jobs
    from rag_pipelines_spark.operators.concurrency import checkpoint_all

    sc = spark.sparkContext
    sc.setJobGroup("ckpt-all-group", "checkpoint_all inheritance")
    try:
        checkpoint_all(spark.range(10), spark.range(5))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("ckpt-all-group")) == 2
