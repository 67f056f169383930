"""Physical-plan assertions (SURVEY §7 phase 7): the optimizations we rely
on at 100 TB must actually appear in the plan — column pruning into the
parquet scan, broadcast joins for dimension/state sides, partial+final
hash aggregation, no cartesian products where an equi-block exists.
"""

from __future__ import annotations

import pytest

from rag_pipelines_spark.registry import load_all

from tests.conftest import SF_DIR as SF
REG = load_all()


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("plan-tests", shuffle_partitions=8)


def plan_of(spark, name: str) -> str:
    df = REG[name].fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_join_inner_broadcasts_dims_and_prunes(spark):
    plan = plan_of(spark, "q_join_inner")
    assert "BroadcastHashJoin" in plan
    # fact-side scan reads only the join key + aggregated column
    assert "struct<l_orderkey:bigint,l_extendedprice:double>" in plan
    assert "CartesianProduct" not in plan


def test_delta_anti_join_is_broadcast(spark):
    plan = plan_of(spark, "q_delta_anti_join")
    assert "BroadcastHashJoin LeftAnti" in plan


def test_agg_partial_final_and_pruning(spark):
    plan = plan_of(spark, "q_agg_stats")
    # partial+final pairs
    assert plan.count("HashAggregate") >= 2
    # only the 3 referenced columns reach the scan
    assert "struct<l_quantity:double,l_extendedprice:double,l_returnflag:string>" in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q_filter_nullkey")
    assert "PushedFilters" in plan
    assert "IsNotNull" in plan


def test_fuzzy_join_is_equi_blocked_not_cartesian(spark):
    plan = plan_of(spark, "q_fuzzy_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_no_cartesian(spark):
    plan = plan_of(spark, "q_ngram_jaccard")
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "q_topk")
    assert "TakeOrderedAndProject" in plan  # no global sort materialized


def test_partition_prune_uses_partition_filters(spark, tmp_path):
    """q_partition_prune's read side must prune directories at planning
    time (PartitionFilters on the hive-layout scan), not post-filter."""
    from pyspark.sql import functions as F

    from rag_pipelines_spark.io import table
    from rag_pipelines_spark.sources.files import (
        read_partitioned_parquet,
        write_partitioned_parquet,
    )

    path = str(tmp_path / "part-plan")
    src = table(spark, SF, "documents").select("doc_id", "source")
    write_partitioned_parquet(src, path, "source")
    df = read_partitioned_parquet(spark, path).filter(
        F.col("source").isin("src3", "src7")
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "IN (src3,src7)" in plan
    # pruning is real: the scan touches 2 of the 20 source= directories
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    assert scan.metrics().apply("numFiles").value() <= 4


def test_tpch_q1_scans_only_needed_columns(spark):
    plan = plan_of(spark, "q_tpch_q1")
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan
    # 7 referenced columns, not the full 11-column lineitem schema
    assert "l_partkey" not in plan and "l_orderkey" not in plan


def test_tpch_q5_broadcasts_constant_dims(spark):
    plan = plan_of(spark, "q_tpch_q5")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_bucketed_join_has_no_join_key_exchange(spark):
    """Both sides bucketBy(8, custkey): the sort-merge join must read
    buckets directly — no Exchange hashpartitioning on either join key.
    (The single remaining exchange belongs to the mktsegment re-agg.)"""
    plan = plan_of(spark, "q_bucketed_join")
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # formatted explain puts partitioning in "Arguments:" lines — the only
    # exchange allowed is the mktsegment re-agg, never the join keys
    assert "hashpartitioning(o_custkey" not in plan
    assert "hashpartitioning(c_custkey" not in plan
    assert plan.count("hashpartitioning(") == 1


def test_tpch_q19_disjunctive_predicate_stays_hash_join(spark):
    """Q19's OR-of-ANDs mixes both sides, but the common partkey equi-key
    must keep it a (broadcast) hash join with a residual filter."""
    plan = plan_of(spark, "q_tpch_q19")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q18_aggregates_before_join(spark):
    """The HAVING pre-aggregation must run below the orders/customer joins
    (shrink-then-join), not after them."""
    plan = plan_of(spark, "q_tpch_q18")
    agg = plan.index("HashAggregate")
    assert "CartesianProduct" not in plan
    # formatted explain lists operators bottom-up by id; check the agg's
    # input is the lineitem scan, not a join output
    assert plan.count("HashAggregate") >= 2  # partial+final before joins


def test_decontaminate_broadcasts_bench_grams(spark):
    plan = plan_of(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_single_window_exchange(spark):
    """Packing = one window over the stream key: exactly one
    hashpartitioning exchange in the whole plan."""
    plan = plan_of(spark, "q_pack_sequences")
    n_ex = plan.count("hashpartitioning(")
    assert n_ex == 1, f"expected 1 exchange, plan has {n_ex}"


def test_tpch_q21_exists_chain_no_cartesian(spark):
    """Q21's EXISTS/NOT-EXISTS pair must compile to semi/anti joins equi-keyed
    on l_orderkey with the suppkey<> residual — never a nested-loop join."""
    plan = plan_of(spark, "q_tpch_q21")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_tpch_q11_total_rides_broadcast(spark):
    """The 1-row global total must broadcast into the having-filter, not
    collect to the driver or shuffle the per-part values again."""
    plan = plan_of(spark, "q_tpch_q11")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q15_max_join_back_broadcasts(spark):
    plan = plan_of(spark, "q_tpch_q15")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q2_min_joinback_no_cartesian(spark):
    """Q2's decorrelated min join-back is an equi-join on (partkey, offer) —
    both hash-joinable; the part filter must prune the scan."""
    plan = plan_of(spark, "q_tpch_q2")
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan


def test_tpch_q13_keeps_outer_join(spark):
    """Q13 must stay a left-outer join (count of no-order customers = 0 rows
    depends on it) and aggregate partial+final."""
    plan = plan_of(spark, "q_tpch_q13")
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 2


# Queries allowed to carry an UNPARTITIONED window (the WindowExec
# "No Partition Defined" warning): each one windows over a frame that is
# tiny BY CONSTRUCTION — one row per block / language / centroid, never
# one row per input record — so a single partition is the intended plan.
# Anything else with an empty partition spec is a global sort in disguise
# and fails the lint below.
TINY_FRAME_WINDOW_OK = {
    "q_batch_assign",  # per-block offsets, |blocks| = rows/1024 (indexing.py)
    "q_quality_bins",  # per-block offsets + grand total (global_ntile)
    "q_lang_dist",  # grand total over #langs aggregated rows
    # kmv phase-2 rank on a KEYLESS sketch: input is structurally
    # <= fanout*k = 8192 rows (phase-1 survivors), never data-sized;
    # phase 1's data-sized window partitions by the salt (kmv.py)
    "q_kmv_intersect",
    # DSIR Gumbel-top-k sample_rank: windows over the post-.limit(k)
    # survivor frame — k=100 rows BY CONTRACT (operators/dsir.py
    # dsir_gumbel_topk); the bucket-totals window that used to flag
    # q_dsir_weights is gone (broadcast 1-row agg join since r9)
    "q_dsir_select",
    # WordPiece vocab rank: the row_number runs AFTER .limit(200) — the
    # window input is the top-V TakeOrderedAndProject output (200 rows
    # BY CONTRACT), never the candidate count frame (wordpiece.py)
    "q_wordpiece_vocab",
    "q_wordpiece_encode",
    "q_tokenizer_fertility",
    # r10: the power-step n2 normalization is a window over the d-row
    # (d=64 BY CONTRACT) frame produced by the 1-row wide agg — replacing
    # the r9 self-join against a 1-row n2 agg, which evaluated the corpus
    # agg subtree twice per step (operators/pca.py _power_step_frame)
    "q_pca_component",
}


def _empty_partition_windows(df) -> int:
    """Count logical Window nodes whose partition spec is empty (py4j walk
    of the optimized plan — string-parsing the formatted plan is ambiguous
    because funcs/partition/order render as look-alike bracket groups)."""
    found = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            found += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return found


def test_registry_wide_plan_lints(spark):
    """Blanket plan invariants over EVERY registered query:
    no CartesianProduct anywhere (every join is equi-keyed, broadcast, or
    a broadcast-1-row nested loop), no BatchEvalPython (all Python is
    Arrow-batched — row-at-a-time UDFs never reach a hot path), and no
    unpartitioned window outside the pinned tiny-frame allowlist (an empty
    partition spec on a data-bearing frame = the whole table through one
    task)."""
    offenders = {}
    for name, q in REG.items():
        df = q.fn(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        marks = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if name not in TINY_FRAME_WINDOW_OK and _empty_partition_windows(df):
            marks.append("unpartitioned Window (not in tiny-frame allowlist)")
        if marks:
            offenders[name] = marks
    assert not offenders, offenders


def test_nearest_seed_queries_have_no_nested_loop_join(spark):
    """The IVF family assigns rows to seeds through the two-phase
    `nearest_seeds` kernel (margin-pruned candidates, equi-joined on the
    seed index), never a rows x seeds nested loop: once executed, their
    plans carry no BroadcastNestedLoopJoin or CartesianProduct."""
    for name in ("q_semantic_dedup", "q_ann_ivf_exact", "q_ann_from_state"):
        df = REG[name].fn(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            assert bad not in plan, f"{name}: {bad} in the executed plan"


def test_batch_assign_no_global_sort_window(spark):
    """The global index must come from the block-offset formulation
    (operators/indexing.py): the data-bearing window hashes on the block
    key; the only SinglePartition exchange feeds the tiny one-row-per-block
    offsets frame, and the broadcast join carries the offsets back."""
    plan = plan_of(spark, "q_batch_assign")
    assert "hashpartitioning(_blk" in plan
    assert "BroadcastHashJoin" in plan
    # exactly one SinglePartition exchange (the per-block offsets window),
    # fed by the counts aggregate — never by the document scan directly
    assert plan.count("SinglePartition") == 1


def test_text_kernels_plan_no_lambda_or_python(spark):
    """The n-gram, MinHash-shingle and BM25 tf kernels stay codegen'd
    column math (no interpreted higher-order lambda, no Python UDF hop),
    and the serving batch's query terms plan as a local relation, never a
    Python RDD whose every scan starts a Python worker."""
    from rag_pipelines_spark.io import table
    from rag_pipelines_spark.operators.dedup import minhash_band_keys
    from rag_pipelines_spark.operators.retrieval import term_hits
    from rag_pipelines_spark.operators.substrdedup import ngram_occurrences
    from rag_pipelines_spark.queries.retrieval import _qterms_df

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    docs = table(spark, SF, "documents")
    qterms = _qterms_df(spark)
    kernels = {
        "ngram_occurrences": ngram_occurrences(docs, "doc_id", "text", 8),
        "minhash_band_keys": minhash_band_keys(docs, "doc_id", "text"),
        "term_hits": term_hits(docs, qterms.select("term").distinct()),
    }
    for name, df in kernels.items():
        plan = executed(df)
        for bad in ("lambdafunction", "ArrowEvalPython", "BatchEvalPython"):
            assert bad not in plan, f"{name}: {bad} in the executed plan"
    assert "ExistingRDD" not in executed(qterms)
