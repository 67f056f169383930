"""Mergeable Count-Min sketch (operators/cmsketch.py): the one-sided
overestimate guarantee, merge == single-shot equality, epoch idempotence,
geometry pinning, and the empirical error envelope at a deliberately
tiny width (the regime collisions are guaranteed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.cmsketch import (
    cm_estimate,
    cm_partial,
    merge_cm,
    read_cm,
)


def _stream(spark):
    """Skewed item stream over two groups: per-group counts known."""
    rows = []
    i = 0
    for grp in ("en", "de"):
        for j, (item, n) in enumerate(
            [("alpha", 30), ("beta", 12), ("gamma", 5)]
            + [(f"tail{k:02d}", 1) for k in range(25)]
        ):
            for _ in range(n):
                rows.append((i, i % 3, grp, item)); i += 1
    return spark.createDataFrame(
        rows, "row_id INT, b INT, grp STRING, item STRING"
    )


def _exact(df):
    return {
        (r.grp, r.item): r.n
        for r in df.groupBy("grp", "item").agg(F.count("*").alias("n")).collect()
    }


def _probe(spark, df):
    return df.select("grp", "item").distinct()


def test_estimate_never_undercounts(spark, tmp_path):
    """est >= true for every present item, and == true when width is
    ample (no collisions across a 28-item vocab at width 4096)."""
    df = _stream(spark)
    state = str(tmp_path / "cm_wide")
    merge_cm(spark, df, state, keys=["grp"], item_col="item",
             depth=4, width=4096)
    exact = _exact(df)
    got = {
        (r.grp, r.item): r.est
        for r in cm_estimate(spark, state, _probe(spark, df),
                             keys=["grp"]).collect()
    }
    assert set(got) == set(exact)
    for k, true_n in exact.items():
        assert got[k] >= true_n, k
    # 28 items x 4 rows into 4096 buckets: expect the exact regime
    assert got == exact


def test_collision_regime_bounded_and_one_sided(spark, tmp_path):
    """width 8 forces collisions: estimates stay one-sided (>= true) and
    within the CM bound est <= true + n_total (trivially) — empirically
    the min-over-depth keeps the error far below the single-row mass."""
    df = _stream(spark)
    state = str(tmp_path / "cm_tiny")
    merge_cm(spark, df, state, keys=["grp"], item_col="item",
             depth=4, width=8)
    exact = _exact(df)
    n_total = {g: sum(v for (gg, _), v in exact.items() if gg == g)
               for g in ("en", "de")}
    got = {
        (r.grp, r.item): r.est
        for r in cm_estimate(spark, state, _probe(spark, df),
                             keys=["grp"]).collect()
    }
    overs = []
    for (g, it), true_n in exact.items():
        est = got[(g, it)]
        assert est >= true_n, (g, it)
        assert est <= n_total[g]
        overs.append(est - true_n)
    # min-over-4-rows beats any single row: mean overestimate well under
    # the per-bucket expected mass (n_total/width)
    assert sum(overs) / len(overs) < n_total["en"] / 8


def test_absent_item_estimate(spark, tmp_path):
    """A never-seen item estimates 0 unless EVERY one of its depth rows
    collides with occupied buckets (checked against the realized
    counters, not assumed)."""
    df = _stream(spark)
    state = str(tmp_path / "cm_abs")
    merge_cm(spark, df, state, keys=["grp"], item_col="item",
             depth=4, width=4096)
    probes = spark.createDataFrame(
        [("en", "zzz-never-seen")], "grp STRING, item STRING"
    )
    est = cm_estimate(spark, state, probes, keys=["grp"]).collect()[0].est
    assert est == 0  # 112 occupied buckets of 4096: a miss is expected


def test_merge_equals_single_shot(spark, tmp_path):
    """Three batch merges produce the IDENTICAL counter table as one
    single-shot merge (element-wise adds are exact decimals)."""
    df = _stream(spark)
    s3 = str(tmp_path / "cm_3")
    s1 = str(tmp_path / "cm_1")
    for b in range(3):
        merge_cm(spark, df.filter(F.col("b") == b), s3, keys=["grp"],
                 item_col="item", depth=4, width=64)
    merge_cm(spark, df, s1, keys=["grp"], item_col="item",
             depth=4, width=64)
    c3, _ = read_cm(spark, s3)
    c1, _ = read_cm(spark, s1)
    assert sorted(map(tuple, c3.collect())) == sorted(map(tuple, c1.collect()))


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying an epoch (same epoch id) changes nothing — the
    foreachBatch exactly-once contract every state family shares."""
    df = _stream(spark)
    state = str(tmp_path / "cm_epoch")
    b0 = df.filter(F.col("b") == 0)
    merge_cm(spark, b0, state, keys=["grp"], item_col="item",
             depth=4, width=64, epoch=0)
    before = sorted(map(tuple, read_cm(spark, state)[0].collect()))
    merge_cm(spark, b0, state, keys=["grp"], item_col="item",
             depth=4, width=64, epoch=0)  # replay
    after = sorted(map(tuple, read_cm(spark, state)[0].collect()))
    assert before == after


def test_geometry_mismatch_raises(spark, tmp_path):
    """Counters from different (depth, width) are not addable — a merge
    with mismatched geometry must fail loudly, not corrupt state."""
    df = _stream(spark)
    state = str(tmp_path / "cm_geo")
    merge_cm(spark, df, state, keys=["grp"], item_col="item",
             depth=4, width=64)
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_cm(spark, df, state, keys=["grp"], item_col="item",
                 depth=4, width=128)


def test_partial_counter_cap(spark, tmp_path):
    """The counter table never exceeds |groups| * depth * width rows
    regardless of vocabulary size (the fixed-space contract)."""
    df = _stream(spark)
    part = cm_partial(df, ["grp"], "item", depth=4, width=8)
    assert part.count() <= 2 * 4 * 8


def test_join_size_one_sided_and_exact_when_sparse(spark, tmp_path):
    """cm_join_size >= the true equi-join cardinality always, and equals
    it when no two keys share a bucket in at least one hash row (sparse
    regime: 6 keys into width 4096)."""
    from rag_pipelines_spark.operators.cmsketch import cm_join_size

    a = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 7, 7]], "k INT"
    )
    b = spark.createDataFrame(
        [(k,) for k in [1, 2, 2, 2, 3, 3, 9]], "k INT"
    )
    true_size = a.join(b, "k").count()  # 3*1 + 2*3 + 1*2 = 11
    assert true_size == 11
    ca = cm_partial(a, [], "k", depth=4, width=4096)
    cb = cm_partial(b, [], "k", depth=4, width=4096)
    est = cm_join_size(ca, cb).collect()[0].est
    assert est == true_size  # sparse: exact
    # collision regime: width 2 forces shared buckets — still one-sided
    ca2 = cm_partial(a, [], "k", depth=4, width=2)
    cb2 = cm_partial(b, [], "k", depth=4, width=2)
    est2 = cm_join_size(ca2, cb2).collect()[0].est
    assert est2 >= true_size
    # and bounded by |a|*|b| (everything in one bucket is the worst case)
    assert est2 <= a.count() * b.count()


def test_join_size_grouped_reports_one_sided_groups(spark, tmp_path):
    """Grouped cm_join_size keeps a group present in only ONE sketch,
    reporting est=0 (the true join size when the other side has no rows
    for that group) — the documented (keys..., est) per-group contract.
    Shared groups estimate exactly as the ungrouped path would."""
    from rag_pipelines_spark.operators.cmsketch import cm_join_size

    a = spark.createDataFrame(
        [("en", 1), ("en", 1), ("en", 2), ("fr", 5)], "grp STRING, k INT"
    )
    b = spark.createDataFrame(
        [("en", 1), ("en", 2), ("en", 2), ("de", 9)], "grp STRING, k INT"
    )
    ca = cm_partial(a, ["grp"], "k", depth=4, width=4096)
    cb = cm_partial(b, ["grp"], "k", depth=4, width=4096)
    out = {r.grp: r.est for r in cm_join_size(ca, cb, keys=["grp"]).collect()}
    # en shared (sparse regime -> exact: 2*1 + 1*2 = 4); fr only in a,
    # de only in b -> both reported with est=0, neither dropped
    assert out == {"en": 4, "fr": 0, "de": 0}


def test_first_fold_partial_geometry_validated(spark, tmp_path):
    """r10 ADVICE: a caller-built partial with the WRONG geometry must be
    rejected on the FIRST fold too (later merges are covered by the
    meta.json guard) — otherwise it would be written as state and meta
    would record the call's geometry, not the bytes'."""
    df = _stream(spark)
    wrong = cm_partial(df, ["grp"], "item", depth=8, width=64).localCheckpoint()
    state = str(tmp_path / "cm_firstfold")
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_cm(spark, df, state, keys=["grp"], item_col="item",
                 depth=4, width=64, partial=wrong)
    # a CORRECT caller partial on the first fold is accepted and serves
    # the same bytes as the internal path
    right = cm_partial(df, ["grp"], "item", depth=4, width=64).localCheckpoint()
    merge_cm(spark, df, state, keys=["grp"], item_col="item",
             depth=4, width=64, partial=right)
    a = read_cm(spark, state)[0].orderBy("grp", "d", "bucket").collect()
    state2 = str(tmp_path / "cm_firstfold_internal")
    merge_cm(spark, df, state2, keys=["grp"], item_col="item",
             depth=4, width=64)
    b = read_cm(spark, state2)[0].orderBy("grp", "d", "bucket").collect()
    assert a == b


def test_first_fold_lazy_partial_is_materialized_defensively(spark, tmp_path):
    """r10 ADVICE: a LAZY (un-checkpointed) caller partial must not
    reintroduce the re-run-inside-the-write pathology — merge_cm now
    materializes either source itself; state bytes are identical."""
    df = _stream(spark)
    lazy = cm_partial(df, [], "item", depth=4, width=64)  # no checkpoint
    state = str(tmp_path / "cm_lazy")
    merge_cm(spark, df, state, keys=[], item_col="item",
             depth=4, width=64, partial=lazy)
    a = read_cm(spark, state)[0].orderBy("d", "bucket").collect()
    state2 = str(tmp_path / "cm_lazy_internal")
    merge_cm(spark, df, state2, keys=[], item_col="item",
             depth=4, width=64)
    assert a == read_cm(spark, state2)[0].orderBy("d", "bucket").collect()


def test_first_fold_smaller_width_partial_refused(spark, tmp_path):
    """A caller partial built with a SMALLER width has every bucket below
    the call's width, so no bound on its rows can catch it; its stamped
    geometry is refused on the first fold and nothing is committed."""
    df = _stream(spark)
    narrow = cm_partial(df, ["grp"], "item", depth=4, width=32).localCheckpoint()
    state = str(tmp_path / "cm_narrow")
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_cm(spark, df, state, keys=["grp"], item_col="item",
                 depth=4, width=64, partial=narrow)
    with pytest.raises(FileNotFoundError):
        read_cm(spark, state)
