"""Incremental rollup maintenance (operators/rollup.py): N batch merges
must equal the one-shot aggregate over the union, avg derives exactly,
non-mergeable aggregates are refused."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.rollup import (
    merge_rollup,
    read_rollup,
    rollup_batch,
)
from tests.conftest import SF_DIR

MEASURES = {"value": ["count", "sum", "min", "max"]}


def test_n_merges_equal_union_aggregate(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    state = str(tmp_path / "rollup")
    # three disjoint batches by event_id residue (a real ingest would
    # arrive time-sliced; any disjoint split exercises the same algebra)
    for r in range(3):
        merge_rollup(
            spark,
            ev.filter(F.col("event_id") % 3 == r),
            state,
            keys=["event_type"],
            measures=MEASURES,
        )
    got = {r.event_type: r.asDict() for r in read_rollup(spark, state).collect()}
    want = {
        r.event_type: r.asDict()
        for r in rollup_batch(ev, ["event_type"], MEASURES).collect()
    }
    # exact, incl. sums: decimal partials make the merge tree irrelevant
    assert got == want


def test_avg_derives_from_merged_partials(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "value"
    )
    state = str(tmp_path / "rollup-avg")
    merge_rollup(spark, ev, state, keys=["event_type"], measures=MEASURES)
    derived = {
        r.event_type: r.avg_value
        for r in read_rollup(spark, state)
        .select(
            "event_type",
            (F.col("sum_value").cast("double") / F.col("count_value")).alias("avg_value"),
        )
        .collect()
    }
    direct = {
        r.event_type: r.avg_value
        for r in ev.groupBy("event_type")
        .agg(F.avg("value").alias("avg_value"))
        .collect()
    }
    for k in direct:
        assert derived[k] == pytest.approx(direct[k], rel=1e-12)


def test_non_mergeable_aggregate_refused(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    with pytest.raises(ValueError, match="not mergeable"):
        merge_rollup(
            spark,
            ev,
            str(tmp_path / "x"),
            keys=["event_type"],
            measures={"value": ["median"]},
        )


def _gram_state(spark, tmp_path, name, n_batches=3):
    """Accrete the substring gram-count state the way
    q_substring_from_state does (3 disjoint batches)."""
    from rag_pipelines_spark.operators.substrdedup import ngram_occurrences

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    occ = ngram_occurrences(d, "doc_id", "text", 8).localCheckpoint(eager=True)
    state = str(tmp_path / name)
    for r in range(n_batches):
        merge_rollup(
            spark,
            occ.filter(F.col("id") % n_batches == r).select("gh", "pos"),
            state,
            keys=["gh"],
            measures={"pos": ["count"]},
            epoch=r,
        )
    return state, occ


def _served_spans(spark, state, occ):
    """The q_substring_from_state serve: latest batch's duplicated spans
    against the digest->count state."""
    from rag_pipelines_spark.operators.substrdedup import merge_covered_spans

    dup = read_rollup(spark, state).filter(F.col("count_pos") >= 2).select("gh")
    hits = occ.filter(F.col("id") % 3 == 2).join(dup, "gh")
    return sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in merge_covered_spans(hits, 8, "doc_id").collect()
    )


def test_compact_min_count_preserves_served_verdicts(spark, tmp_path):
    """The VERDICT-r6 contract-to-code item: pruning rows below the serve
    threshold must not change a single served span, while shrinking the
    state (the SCALE.md sizing knob for the largest state family)."""
    from rag_pipelines_spark.operators.rollup import compact_rollup_state

    state, occ = _gram_state(spark, tmp_path, "grams")
    before_spans = _served_spans(spark, state, occ)
    above = {
        (r.gh, r.count_pos)
        for r in read_rollup(spark, state)
        .filter(F.col("count_pos") >= 2)
        .collect()
    }
    n_before, n_after = compact_rollup_state(
        spark, state, min_count=2, count_col="count_pos", num_partitions=4
    )
    assert n_after < n_before  # singleton grams dominate any real corpus
    # above-threshold rows byte-identical; served spans unchanged
    after = {(r.gh, r.count_pos) for r in read_rollup(spark, state).collect()}
    assert after == above
    assert _served_spans(spark, state, occ) == before_spans


def test_compact_bounds_file_count_and_clusters(spark, tmp_path):
    import glob as _glob

    from rag_pipelines_spark.operators.rollup import compact_rollup_state
    from rag_pipelines_spark.operators.state import live_version_dir

    state, _ = _gram_state(spark, tmp_path, "grams-files")
    compact_rollup_state(spark, state, num_partitions=3, cluster_by=["gh"])
    live = live_version_dir(state)
    parts = _glob.glob(f"{live}/part-*.parquet")
    assert len(parts) <= 3


def test_compact_carries_epoch_forward(spark, tmp_path):
    """A replayed micro-batch must still be recognized as applied AFTER a
    compaction rewrote the version dir (exactly-once across compactions)."""
    from rag_pipelines_spark.operators.rollup import compact_rollup_state

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    state = str(tmp_path / "rollup-epoch")
    for r in range(2):
        merge_rollup(
            spark,
            ev.filter(F.col("event_id") % 2 == r),
            state,
            keys=["event_type"],
            measures=MEASURES,
            epoch=r,
        )
    want = {r.event_type: r.asDict() for r in read_rollup(spark, state).collect()}
    compact_rollup_state(spark, state, num_partitions=2)
    # replay of epoch 1 after compaction: must be a no-op, not a double-count
    merge_rollup(
        spark,
        ev.filter(F.col("event_id") % 2 == 1),
        state,
        keys=["event_type"],
        measures=MEASURES,
        epoch=1,
    )
    got = {r.event_type: r.asDict() for r in read_rollup(spark, state).collect()}
    assert got == want


def test_compact_below_threshold_loss_is_undercount_only(spark, tmp_path):
    """Documented loss semantic: a pruned singleton needs min_count NEW
    occurrences to cross the threshold again — the count restarts, it
    never inflates (false negatives across the horizon, no false
    positives)."""
    from rag_pipelines_spark.operators.rollup import compact_rollup_state

    state = str(tmp_path / "loss")
    one = spark.createDataFrame([("g1", 0), ("g2", 0)], "gh string, pos int")
    merge_rollup(spark, one, state, keys=["gh"], measures={"pos": ["count"]},
                 epoch=0)
    compact_rollup_state(spark, state, min_count=2, count_col="count_pos")
    assert read_rollup(spark, state).count() == 0  # both singletons pruned
    # g1 recurs once post-compaction: count restarts at 1 (<2, not served);
    # g2 recurs twice: crosses the threshold on new evidence alone
    again = spark.createDataFrame(
        [("g1", 1), ("g2", 1), ("g2", 2)], "gh string, pos int"
    )
    merge_rollup(spark, again, state, keys=["gh"], measures={"pos": ["count"]},
                 epoch=1)
    got = {r.gh: r.count_pos for r in read_rollup(spark, state).collect()}
    assert got == {"g1": 1, "g2": 2}


def test_state_schema_stable_across_merges(spark, tmp_path):
    """The decimal sum column must stay decimal(30,15) after every merge
    (a bare decimal SUM widens precision each round, making version N's
    files schema-incompatible with version N+1's readers)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    state = str(tmp_path / "rollup-schema")
    schemas = []
    for r in range(3):
        merge_rollup(
            spark,
            ev.filter(F.col("event_id") % 3 == r),
            state,
            keys=["event_type"],
            measures=MEASURES,
        )
        schemas.append(dict(read_rollup(spark, state).dtypes))
    assert all(s["sum_value"] == "decimal(30,15)" for s in schemas), schemas
    assert schemas[0] == schemas[1] == schemas[2]


def test_live_version_without_geometry_refused(spark, tmp_path):
    """A live version with no recorded geometry (_meta.json) is refused,
    not folded unchecked."""
    import os

    from rag_pipelines_spark.operators.state import META_FILE, live_version_dir

    ev = spark.createDataFrame([("a", 1.0)], "event_type STRING, value DOUBLE")
    state = str(tmp_path / "rollup-nometa")
    merge_rollup(spark, ev, state, keys=["event_type"], measures=MEASURES)
    os.remove(os.path.join(live_version_dir(state), META_FILE))
    with pytest.raises(ValueError, match="no _meta.json"):
        merge_rollup(spark, ev, state, keys=["event_type"], measures=MEASURES)
