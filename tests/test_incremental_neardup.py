"""Incremental near-dedup: a batch is filtered against signature STATE
(never the old corpus text), survivors extend the state, and the filter is
stable across restarts — the continuous-ingest form of minhash dedup."""

from __future__ import annotations

import pytest

# Fsync-bound slow partition (tools/slow_tests.txt): deselected by the
# default `-m "not slow"` addopts; run via tools/run_slow_suite.sh.
# Naming this file explicitly still selects nothing without `-m slow`
# (e.g. `pytest -m slow tests/test_incremental_neardup.py`).
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("incr-neardup-tests", shuffle_partitions=4)


BASE = (
    "the quick brown fox jumps over the lazy dog near the riverbank today "
    "while birds sing in the morning light across the quiet green valley"
)


def _doc(i, text):
    return (i, text)


def test_incremental_neardup_across_batches(spark, tmp_path):
    from rag_pipelines_spark.operators.dedup import incremental_neardup

    state = str(tmp_path / "sig_state")
    schema = "doc_id long, text string"

    batch1 = spark.createDataFrame(
        [
            _doc(1, BASE),
            _doc(2, BASE + " with a tiny mutated tail"),  # near-dup of 1
            _doc(3, "completely different content about spark dataframes "
                    "and catalyst optimizer rules for distributed joins "
                    "at terabyte scale with adaptive execution enabled"),
        ],
        schema,
    )
    clean1 = incremental_neardup(spark, batch1, state, "doc_id", "text")
    ids1 = sorted(r.doc_id for r in clean1.collect())
    # 2 collides with 1 in-batch (smaller id wins); 3 survives
    assert ids1 == [1, 3], ids1

    batch2 = spark.createDataFrame(
        [
            _doc(10, BASE + " appended replica marker"),  # near-dup of state doc 1
            _doc(11, "entirely novel text describing minhash banding and "
                     "locality sensitive hashing for approximate joins "
                     "over massive shingled document collections"),
        ],
        schema,
    )
    clean2 = incremental_neardup(spark, batch2, state, "doc_id", "text")
    ids2 = sorted(r.doc_id for r in clean2.collect())
    assert ids2 == [11], ids2

    # replay of an already-accepted doc under a NEW id is caught by state
    batch3 = spark.createDataFrame([_doc(20, BASE)], schema)
    clean3 = incremental_neardup(spark, batch3, state, "doc_id", "text")
    assert clean3.count() == 0


def test_compaction_preserves_dedup_state(spark, tmp_path):
    """N appends then compaction: file count drops to the requested bound,
    the (id, band, bkey) row set is bit-identical, and every subsequent
    dedup verdict (replay caught / novel passes) is unchanged."""
    import glob

    from rag_pipelines_spark.operators.dedup import (
        compact_neardup_state,
        incremental_neardup,
        neardup_state_dir,
    )

    state = str(tmp_path / "sig_state")
    schema = "doc_id long, text string"

    def text(i):  # per-doc fully disjoint token set -> no near-dup pairs
        return " ".join(f"token{i}word{k}" for k in range(20))

    for b in range(3):  # 3 batches -> 3 appended file-sets
        batch = spark.createDataFrame(
            [(b * 10 + j, text(b * 10 + j)) for j in range(3)], schema
        )
        accepted = incremental_neardup(spark, batch, state, "doc_id", "text")
        assert accepted.count() == 3  # all novel -> all accepted

    live_before = neardup_state_dir(state)
    before = {
        (r.doc_id, r.band, r.bkey)
        for r in spark.read.parquet(live_before).collect()
    }
    files_before = len(glob.glob(f"{live_before}/part-*.parquet"))
    assert files_before >= 3  # one file-set per batch accreted

    n_rows = compact_neardup_state(spark, state, num_partitions=2)
    assert n_rows == len(before)

    live_after = neardup_state_dir(state)
    assert live_after != live_before  # pointer flipped to a new version
    after = {
        (r.doc_id, r.band, r.bkey)
        for r in spark.read.parquet(live_after).collect()
    }
    assert after == before
    files_after = len(glob.glob(f"{live_after}/part-*.parquet"))
    assert files_after <= 2 < files_before
    # GC retains exactly live + its predecessor (reader grace: a lazily
    # resolved DataFrame against the old live may still be collecting —
    # the lease serializes writers, not readers); a second compaction
    # sweeps the grand-predecessor
    import os

    versions = sorted(n for n in os.listdir(state) if n.startswith("v-"))
    assert versions == sorted(
        [os.path.basename(live_after), os.path.basename(live_before)]
    )
    compact_neardup_state(spark, state, num_partitions=2)
    live_3 = neardup_state_dir(state)
    versions = sorted(n for n in os.listdir(state) if n.startswith("v-"))
    assert versions == sorted(
        [os.path.basename(live_3), os.path.basename(live_after)]
    )
    assert os.path.basename(live_before) not in versions

    # verdicts survive compaction: replay of accepted content is caught,
    # novel content passes
    replay = spark.createDataFrame(
        [(100, text(0))], schema  # doc 0's exact text
    )
    assert incremental_neardup(spark, replay, state, "doc_id", "text").count() == 0
    fresh = spark.createDataFrame(
        [(101, "altogether new subject matter regarding range joins asof "
               "semantics interval trees and temporal alignment windows")],
        schema,
    )
    assert incremental_neardup(spark, fresh, state, "doc_id", "text").count() == 1


def test_compaction_crash_before_pointer_flip(spark, tmp_path):
    """Simulate a compactor dying AFTER the new version dir is fully
    written but BEFORE the MANIFEST flip: every dedup verdict must come
    from the old (still-pointered) state, and the next compaction must GC
    the orphaned dir."""
    import os

    from rag_pipelines_spark.operators.dedup import (
        compact_neardup_state,
        incremental_neardup,
        neardup_state_dir,
    )

    state = str(tmp_path / "sig_state")
    schema = "doc_id long, text string"

    def text(i):
        return " ".join(f"token{i}word{k}" for k in range(20))

    batch = spark.createDataFrame([(j, text(j)) for j in range(4)], schema)
    assert incremental_neardup(spark, batch, state, "doc_id", "text").count() == 4

    live = neardup_state_dir(state)
    # "crashed compaction": full compacted copy exists, pointer never moved
    orphan = os.path.join(state, "v-crashed0")
    spark.read.parquet(live).repartition(1, "bkey").write.parquet(orphan)
    assert neardup_state_dir(state) == live  # resolver ignores the orphan

    # verdicts preserved: replay caught, novel passes
    replay = spark.createDataFrame([(100, text(0))], schema)
    assert incremental_neardup(spark, replay, state, "doc_id", "text").count() == 0
    fresh = spark.createDataFrame(
        [(101, "wholly new material on watermark semantics and state stores")],
        schema,
    )
    assert incremental_neardup(spark, fresh, state, "doc_id", "text").count() == 1

    # next compaction sweeps the orphan; remaining dirs are live + its
    # recorded predecessor (reader grace), never the crashed orphan
    compact_neardup_state(spark, state, num_partitions=2)
    versions = [n for n in os.listdir(state) if n.startswith("v-")]
    assert "v-crashed0" not in versions and len(versions) == 2
    assert os.path.basename(neardup_state_dir(state)) in versions
    assert os.path.basename(live) in versions
    # and the post-crash-recovery state still carries every verdict
    assert incremental_neardup(spark, replay, state, "doc_id", "text").count() == 0


def test_unresolvable_state_fails_loudly(spark, tmp_path):
    """A state root holding committed data that the pointer can't resolve
    must raise — never silently read as empty (which would re-admit all
    previously-seen content)."""
    import os

    import pytest as _pytest

    from rag_pipelines_spark.operators.dedup import (
        incremental_neardup,
        neardup_state_dir,
    )

    state = str(tmp_path / "sig_state")
    schema = "doc_id long, text string"
    batch = spark.createDataFrame(
        [(1, " ".join(f"tok{k}" for k in range(20)))], schema
    )
    incremental_neardup(spark, batch, state, "doc_id", "text")

    manifest = os.path.join(state, "MANIFEST")
    live = neardup_state_dir(state)

    # (a) deleted manifest, data-bearing version dir present -> raise
    with open(manifest) as f:
        saved = f.read()
    os.remove(manifest)
    with _pytest.raises(RuntimeError, match="no MANIFEST"):
        neardup_state_dir(state)
    with _pytest.raises(RuntimeError):
        incremental_neardup(spark, batch, state, "doc_id", "text")

    # (b) manifest pointing at a missing dir -> raise
    with open(manifest, "w") as f:
        f.write("v-gone\n")
    with _pytest.raises(RuntimeError, match="does not exist"):
        neardup_state_dir(state)

    # restore -> resolves again
    with open(manifest, "w") as f:
        f.write(saved)
    assert neardup_state_dir(state) == live

    # (c) fresh-but-crashed first init (data-less v-dir, no manifest) is
    # provably empty -> None, no raise
    state2 = str(tmp_path / "sig_state2")
    os.makedirs(os.path.join(state2, "v-empty00"))
    assert neardup_state_dir(state2) is None


def test_two_writer_lease_drill(spark, tmp_path):
    """The single-writer contract is ENFORCED, not assumed: while one
    writer holds the state lease, a second merge/compaction RAISES
    instead of interleaving manifest flips; a stale lease (holder died)
    is taken over."""
    import os
    import time

    import pytest as _pytest

    from rag_pipelines_spark.operators.dedup import (
        compact_neardup_state,
        incremental_neardup,
    )
    from rag_pipelines_spark.operators.state import LEASE, writer_lease

    state = str(tmp_path / "sig_state")
    schema = "doc_id long, text string"
    batch = spark.createDataFrame(
        [(1, " ".join(f"tok{k}" for k in range(20)))], schema
    )
    incremental_neardup(spark, batch, state, "doc_id", "text")

    # writer A holds the lease -> writer B (append AND compaction) loses
    with writer_lease(state, what="neardup state"):
        with _pytest.raises(RuntimeError, match="locked by another writer"):
            incremental_neardup(
                spark,
                spark.createDataFrame([(2, "x y z")], schema),
                state,
                "doc_id",
                "text",
            )
        with _pytest.raises(RuntimeError, match="locked by another writer"):
            compact_neardup_state(spark, state, num_partitions=1)
    # lease released on exit -> next writer proceeds
    assert (
        incremental_neardup(
            spark,
            spark.createDataFrame(
                [(3, "entirely different content about watermarks")], schema
            ),
            state,
            "doc_id",
            "text",
        ).count()
        == 1
    )

    # stale lease (crashed holder): mtime older than ttl -> takeover
    lease_path = os.path.join(state, LEASE)
    with open(lease_path, "w") as f:
        f.write("99999 0\n")
    old = time.time() - 10_000
    os.utime(lease_path, (old, old))
    assert (
        incremental_neardup(
            spark,
            spark.createDataFrame(
                [(4, "yet more novel text regarding range join planning")],
                schema,
            ),
            state,
            "doc_id",
            "text",
        ).count()
        == 1
    )
    assert not os.path.isfile(lease_path)  # released after the merge


def test_stale_takeover_claims_atomically_never_steals_fresh(tmp_path, monkeypatch):
    """r5 ADVICE: two writers that both observed an expired LEASE could
    both end up holding it — B unlinks+re-creates, then A's unlink
    deletes B's FRESH lease and A re-acquires, defeating single-writer
    exactly in the crashed-holder scenario. The fix claims the stale
    lease by atomic rename and re-checks the claimed content; this drill
    deterministically runs writer B's entire takeover inside writer A's
    claim window and asserts A bows out with B's lease intact.

    The local backend additionally serializes acquisition with an flock
    (statefs.py::lock_dir) which would simply block this interleave; the
    drill disables it to certify the rename-claim protocol LAYER itself
    — the only guard on backends without a lock primitive (Hadoop FS
    API). The flock layer is certified by the thread-stress drill below."""
    import os
    import sys
    import time
    from contextlib import ExitStack, contextmanager

    from rag_pipelines_spark.operators.state import LEASE, writer_lease
    from rag_pipelines_spark.operators.statefs import LocalBackend

    @contextmanager
    def _no_lock(self, dir_):
        yield

    monkeypatch.setattr(LocalBackend, "lock_dir", _no_lock)

    state = str(tmp_path / "race_state")
    os.makedirs(state)
    lease = os.path.join(state, LEASE)
    with open(lease, "w") as f:
        f.write("deadtoken 1 0\n")
    old = time.time() - 7200
    os.utime(lease, (old, old))

    state_mod = sys.modules["rag_pipelines_spark.operators.state"]
    real_rename = os.rename
    b_stack = ExitStack()
    fired = {"done": False}

    def rename_hook(src, dst):
        if not fired["done"] and src == lease:
            fired["done"] = True
            # B's full takeover (claim stale -> acquire) lands in A's
            # window between staleness read and rename-claim
            b_stack.enter_context(writer_lease(state, what="writer B"))
        return real_rename(src, dst)

    monkeypatch.setattr(state_mod.os, "rename", rename_hook)
    with pytest.raises(RuntimeError, match="locked by another writer"):
        with writer_lease(state, what="writer A"):
            pass
    monkeypatch.setattr(state_mod.os, "rename", real_rename)

    # B's fresh lease survived A's failed takeover (the old unlink path
    # deleted it here) and B releases cleanly
    with open(lease) as f:
        assert f.read().split(" ", 1)[0] != "deadtoken"
    b_stack.close()
    assert not os.path.isfile(lease)


def test_stale_takeover_thread_stress_single_holder(tmp_path):
    """N concurrent takers of one stale lease: at most one inside the
    critical section at any instant; every loser raises rather than
    proceeding unlocked."""
    import os
    import threading
    import time

    from rag_pipelines_spark.operators.state import LEASE, writer_lease

    state = str(tmp_path / "stress_state")
    os.makedirs(state)
    lease = os.path.join(state, LEASE)
    with open(lease, "w") as f:
        f.write("deadtoken 1 0\n")
    old = time.time() - 7200
    os.utime(lease, (old, old))

    lock = threading.Lock()
    inside = {"now": 0, "max": 0, "wins": 0, "losses": 0}
    barrier = threading.Barrier(8)

    def taker():
        barrier.wait()
        try:
            with writer_lease(state, what="stress"):
                with lock:
                    inside["now"] += 1
                    inside["max"] = max(inside["max"], inside["now"])
                time.sleep(0.05)
                with lock:
                    inside["now"] -= 1
                    inside["wins"] += 1
        except (RuntimeError, FileExistsError):
            with lock:
                inside["losses"] += 1

    threads = [threading.Thread(target=taker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert inside["max"] == 1, inside
    assert inside["wins"] >= 1
    assert inside["wins"] + inside["losses"] == 8


def test_state_uri_schemes_route_through_hadoop_fs(spark, tmp_path):
    """Round 6: URI state paths are no longer rejected — they route
    through the Hadoop FileSystem API (tests/test_statefs.py drills the
    full contract through file://). The refuse-to-look-empty posture
    survives: a scheme with no connector raises loudly instead of
    reporting the state fresh."""
    import pytest as _pytest

    from rag_pipelines_spark.operators.state import (
        live_version_dir,
        write_manifest,
    )
    from rag_pipelines_spark.operators.statefs import (
        HadoopBackend,
        backend_for,
    )

    state = f"file://{tmp_path}/uri_state"
    assert isinstance(backend_for(state), HadoopBackend)
    backend_for(state).makedirs(f"{state}/v-xyz")
    write_manifest(state, "v-xyz")
    assert live_version_dir(state).endswith("v-xyz")
    with _pytest.raises(Exception, match="(?i)no filesystem|unsupported"):
        live_version_dir("nosuchscheme://bucket/state")


def test_partial_epoch_append_is_repaired_on_replay(spark, tmp_path):
    """ADVICE r4 (medium): a crash mid job-commit of an epoch's key append
    leaves a PARTIAL file set visible. Row presence must NOT mark the
    append done — only the fsync'd commit marker does — so the replay
    redoes the (idempotent-for-verdicts) append and no survivor's band
    keys are lost."""
    import glob
    import os

    from rag_pipelines_spark.operators.dedup import (
        incremental_neardup,
        neardup_state_dir,
    )
    from pyspark.sql import functions as F

    from rag_pipelines_spark.operators.state import (
        epoch_is_committed,
        _marker_path,
    )

    state = str(tmp_path / "sig_state")
    schema = "doc_id long, text string"

    def text(i):
        return " ".join(f"tok{i}word{k}" for k in range(20))

    # epoch 0 commits normally
    b0 = spark.createDataFrame([(1, text(1)), (2, text(2))], schema)
    incremental_neardup(spark, b0, state, "doc_id", "text", epoch=0)
    live = neardup_state_dir(state)
    assert epoch_is_committed(live, 0)

    # epoch 1: simulate the crash — run it fully, then surgically delete
    # SOME of epoch 1's key files AND its marker (partial job commit)
    b1 = spark.createDataFrame([(3, text(3)), (4, text(4))], schema)
    clean1 = {
        r.doc_id
        for r in incremental_neardup(
            spark, b1, state, "doc_id", "text", epoch=1
        ).collect()
    }
    assert clean1 == {3, 4}
    os.unlink(_marker_path(live, 1))
    files = sorted(glob.glob(os.path.join(live, "part-*.parquet")))
    # remove the lexicographically-last file (some of epoch 1's keys)
    os.unlink(files[-1])
    state_df = spark.read.parquet(live)
    n_partial = state_df.filter(F.col("epoch") == 1).count()

    # replay of epoch 1: marker absent -> append REDONE; same clean set
    clean_replay = {
        r.doc_id
        for r in incremental_neardup(
            spark, b1, state, "doc_id", "text", epoch=1
        ).collect()
    }
    assert clean_replay == clean1
    assert epoch_is_committed(live, 1)
    state_after = spark.read.parquet(live)
    # every survivor's band keys are present again (the failure mode was
    # doc 3/4's keys permanently missing -> future near-dups re-admitted)
    keys_by_doc = {
        r.doc_id: r.n
        for r in state_after.filter(F.col("epoch") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(keys_by_doc) == {3, 4}
    # and the proof of the contract: a near-dup of doc 3 is now caught
    dup = spark.createDataFrame([(30, text(3))], schema)
    assert (
        incremental_neardup(
            spark, dup, state, "doc_id", "text", epoch=2
        ).count()
        == 0
    )
    del n_partial


def test_lease_guards_every_merge_family(spark, tmp_path):
    """Every state family's merge acquires the writer lease: with the
    lease held by another writer, each one raises instead of
    interleaving manifest flips (the enforcement is shared via
    operators/state.py::writer_lease — this drill pins that no family
    bypasses it)."""
    import pytest as _pytest

    from rag_pipelines_spark.operators.freqsketch import merge_freq
    from rag_pipelines_spark.operators.hllsketch import merge_hll
    from rag_pipelines_spark.operators.retrieval import merge_corpus_stats
    from rag_pipelines_spark.operators.rollup import merge_rollup
    from rag_pipelines_spark.operators.state import writer_lease

    docs = spark.createDataFrame(
        [(1, "a b c", "en", 5.0)], "doc_id LONG, text STRING, lang STRING, v DOUBLE"
    )
    cases = {
        "rollup": lambda p: merge_rollup(
            spark, docs, p, keys=["lang"], measures={"v": ["count", "sum"]}
        ),
        "corpus_stats": lambda p: merge_corpus_stats(spark, docs, p),
        "freq": lambda p: merge_freq(
            spark, docs, p, keys=["lang"], item_col="text", m=4
        ),
        "hll": lambda p: merge_hll(
            spark, docs, p, keys=["lang"], item_col="doc_id"
        ),
    }
    for name, fn in cases.items():
        path = str(tmp_path / name)
        with writer_lease(path, what=name):
            with _pytest.raises(RuntimeError, match="locked by another writer"):
                fn(path)
        fn(path)  # released -> proceeds


def test_compaction_with_epochs_keeps_rows_and_marker(spark, tmp_path):
    """Epoch-tagged state through compaction: the row count is unchanged,
    the newest epoch's marker is carried into the new version, and a
    replay of that epoch is a no-op that returns the same clean set."""
    from rag_pipelines_spark.operators.dedup import (
        compact_neardup_state,
        incremental_neardup,
        neardup_state_dir,
    )
    from rag_pipelines_spark.operators.state import epoch_is_committed

    state = str(tmp_path / "sig_state")
    schema = "doc_id long, text string"

    def text(i):
        return " ".join(f"tok{i}word{k}" for k in range(20))

    batches = [
        spark.createDataFrame(
            [(e * 10 + j, text(e * 10 + j)) for j in range(3)], schema
        )
        for e in range(3)
    ]
    clean = [
        {r.doc_id for r in incremental_neardup(
            spark, b, state, "doc_id", "text", epoch=e).collect()}
        for e, b in enumerate(batches)
    ]
    old_live = neardup_state_dir(state)
    n_before = spark.read.parquet(old_live).count()

    assert compact_neardup_state(spark, state, num_partitions=2) == n_before
    new_live = neardup_state_dir(state)
    assert new_live != old_live
    assert epoch_is_committed(new_live, 2)

    replay = {r.doc_id for r in incremental_neardup(
        spark, batches[2], state, "doc_id", "text", epoch=2).collect()}
    assert replay == clean[2] == {20, 21, 22}
    assert neardup_state_dir(state) == new_live
    assert spark.read.parquet(new_live).count() == n_before
    assert epoch_is_committed(new_live, 2)
