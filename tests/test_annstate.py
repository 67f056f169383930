"""Incremental ANN index state (operators/annstate.py): N-batch accretion
== one-shot build with the same frozen seeds, replay idempotence via
commit markers, checkpoint-reset guard, and serve-vs-direct equality."""

from __future__ import annotations

import pytest

from rag_pipelines_spark.operators.annstate import (
    ann_query_from_state,
    merge_ann_index,
    read_ann_postings,
)


def _emb(spark, ids_vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in ids_vecs],
        "vec_id: long, embedding: array<float>",
    )


def _vectors(n):
    # deterministic, well-spread small vectors (no RNG)
    return [
        (i, ((i * 7) % 11 - 5, (i * 5) % 13 - 6, (i * 3) % 7 - 3, 1))
        for i in range(n)
    ]


def _serve(spark, state, queries):
    rows = ann_query_from_state(
        spark, str(state), queries, "vec_id", "embedding", nprobe=2, k=3
    ).collect()
    return sorted((r.q_id, r.c_id, r.cosine, r.rk) for r in rows)


def test_accretion_equals_one_shot(spark, tmp_path):
    """3 batches into state A; the same rows as ONE batch into state B,
    with B's seeds forced equal to A's (A's init batch) — identical
    postings and identical serve results."""
    vecs = _vectors(30)
    full = _emb(spark, vecs)
    b0 = full.filter(full.vec_id % 3 == 0)
    sa = tmp_path / "a"
    for r in range(3):
        merge_ann_index(
            spark,
            full.filter(full.vec_id % 3 == r),
            str(sa),
            "vec_id",
            "embedding",
            k_seeds=4,
            epoch=r,
        )
    # state B: init with the SAME first batch (freezes the same seeds),
    # then the remainder in one second append
    sb = tmp_path / "b"
    merge_ann_index(spark, b0, str(sb), "vec_id", "embedding", k_seeds=4, epoch=0)
    merge_ann_index(
        spark,
        full.filter(full.vec_id % 3 != 0),
        str(sb),
        "vec_id",
        "embedding",
        k_seeds=4,
        epoch=1,
    )
    pa = sorted(
        (r.id, r.cell)
        for r in read_ann_postings(spark, str(sa)).collect()
    )
    pb = sorted(
        (r.id, r.cell)
        for r in read_ann_postings(spark, str(sb)).collect()
    )
    assert pa == pb and len(pa) == 30
    q = full.filter(full.vec_id < 5)
    assert _serve(spark, sa, q) == _serve(spark, sb, q)


def test_replayed_epoch_is_noop(spark, tmp_path):
    vecs = _vectors(12)
    full = _emb(spark, vecs)
    s = tmp_path / "s"
    merge_ann_index(spark, full, str(s), "vec_id", "embedding", k_seeds=3, epoch=0)
    n1 = read_ann_postings(spark, str(s)).count()
    merge_ann_index(spark, full, str(s), "vec_id", "embedding", k_seeds=3, epoch=0)
    assert read_ann_postings(spark, str(s)).count() == n1 == 12


def test_checkpoint_reset_raises(spark, tmp_path):
    full = _emb(spark, _vectors(9))
    s = tmp_path / "s"
    merge_ann_index(spark, full, str(s), "vec_id", "embedding", k_seeds=3, epoch=5)
    with pytest.raises(RuntimeError, match="checkpoint reset"):
        merge_ann_index(
            spark, full, str(s), "vec_id", "embedding", k_seeds=3, epoch=2
        )


def test_seeds_frozen_across_batches(spark, tmp_path):
    """A later batch containing hash-smaller ids must NOT change the
    seeds: assignments of batch-2 rows use batch-1's frozen cells."""
    import hashlib

    b1 = _emb(spark, _vectors(10))
    b2 = _emb(spark, [(100 + i, (1, 1, 1, 1)) for i in range(5)])
    s = tmp_path / "s"
    merge_ann_index(spark, b1, str(s), "vec_id", "embedding", k_seeds=3, epoch=0)
    merge_ann_index(spark, b2, str(s), "vec_id", "embedding", k_seeds=3, epoch=1)
    posts = read_ann_postings(spark, str(s))
    cells = {r.cell for r in posts.collect()}
    want_seeds = set(
        sorted(
            range(10),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )[:3]
    )
    assert cells <= want_seeds  # every cell is a batch-1 seed id
    assert posts.count() == 15


def test_compaction_preserves_serve_and_carries_marker(spark, tmp_path):
    """Compaction changes layout only: identical serve results before and
    after, newest epoch marker carried forward (replay still no-op),
    predecessor version retained one generation."""
    from rag_pipelines_spark.operators.annstate import compact_ann_postings
    from rag_pipelines_spark.operators.state import live_version_dir

    full = _emb(spark, _vectors(24))
    s = tmp_path / "s"
    for r in range(3):
        merge_ann_index(
            spark,
            full.filter(full.vec_id % 3 == r),
            str(s),
            "vec_id",
            "embedding",
            k_seeds=4,
            epoch=r,
        )
    q = full.filter(full.vec_id < 4)
    before = _serve(spark, s, q)
    old_live = live_version_dir(str(s), what="ann index state")
    n = compact_ann_postings(spark, str(s), num_partitions=2)
    assert n == 24
    new_live = live_version_dir(str(s), what="ann index state")
    assert new_live != old_live
    assert _serve(spark, s, q) == before
    # marker carried: replaying the newest epoch is still a no-op
    merge_ann_index(
        spark,
        full.filter(full.vec_id % 3 == 2),
        str(s),
        "vec_id",
        "embedding",
        k_seeds=4,
        epoch=2,
    )
    assert read_ann_postings(spark, str(s)).count() == 24


def test_partial_epoch_append_is_repaired_on_replay(spark, tmp_path):
    """A crash mid job-commit of an epoch's postings append leaves a
    PARTIAL file set visible with no marker. The replay must redo the
    append (row presence is not the done signal) so every posting of the
    epoch is present again, and then write the marker."""
    import glob
    import os

    from rag_pipelines_spark.operators.state import (
        _marker_path,
        epoch_is_committed,
        live_version_dir,
    )

    full = _emb(spark, _vectors(24))
    b0 = full.filter(full.vec_id < 12)
    b1 = full.filter(full.vec_id >= 12)
    s = str(tmp_path / "s")
    merge_ann_index(spark, b0, s, "vec_id", "embedding", k_seeds=3, epoch=0)
    live = live_version_dir(s, what="ann index state")
    before = set(glob.glob(os.path.join(live, "part-*.parquet")))
    # several task files for epoch 1, so deleting one leaves a partial set
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        merge_ann_index(
            spark, b1, s, "vec_id", "embedding", k_seeds=3, epoch=1
        )
    finally:
        spark.conf.set(key, saved)
    epoch1_files = sorted(
        set(glob.glob(os.path.join(live, "part-*.parquet"))) - before
    )
    assert len(epoch1_files) >= 2

    # the crash: epoch 1's marker and its last part file never landed
    os.unlink(_marker_path(live, 1))
    os.unlink(epoch1_files[-1])
    ids = {r.id for r in read_ann_postings(spark, s).collect()}
    assert ids & set(range(12, 24)) and not set(range(12, 24)) <= ids

    merge_ann_index(spark, b1, s, "vec_id", "embedding", k_seeds=3, epoch=1)
    ids = {r.id for r in read_ann_postings(spark, s).collect()}
    assert set(range(12, 24)) <= ids
    assert epoch_is_committed(live, 1)


def test_serve_on_fresh_root_raises(spark, tmp_path):
    """A state root that was never folded is reported as missing state,
    not as a missing seeds directory."""
    q = _emb(spark, _vectors(3))
    with pytest.raises(FileNotFoundError, match="no ann index state"):
        ann_query_from_state(spark, str(tmp_path), q, "vec_id", "embedding")


def test_ivf_topk_exact_equals_one_batch_state_serve(spark, tmp_path):
    """ivf_topk_exact is the one-shot case of the ANN state: the corpus
    folded as ONE batch (same k_seeds) and served from state gives the
    batch operator's rows exactly."""
    from rag_pipelines_spark.operators.semdedup import ivf_topk_exact

    # four planted directions, six perturbed copies each
    base = [(3, 0, 0, 1), (0, 4, 1, 0), (-2, 1, 3, 0), (1, -3, 0, 2)]
    vecs = [
        (i, tuple(x + (i % 3 if d == i % 4 else 0) for d, x in enumerate(base[i % 4])))
        for i in range(24)
    ]
    corpus = _emb(spark, vecs)
    queries = _emb(spark, vecs[:6] + [(100, (3, 1, 0, 1)), (101, (0, 3, 2, 0))])
    direct = ivf_topk_exact(
        corpus, queries, "vec_id", "embedding", k_seeds=4, nprobe=2, k=3
    )
    s = str(tmp_path / "s")
    merge_ann_index(spark, corpus, s, "vec_id", "embedding", k_seeds=4)
    served = ann_query_from_state(
        spark, s, queries, "vec_id", "embedding", nprobe=2, k=3
    )

    def rows(df):
        return sorted((r.q_id, r.c_id, r.cosine, r.rk) for r in df.collect())

    want = rows(direct)
    assert len(want) == 8 * 3
    assert rows(served) == want
