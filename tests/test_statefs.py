"""Object-store-capable state backend (operators/statefs.py): the same
manifest/lease/epoch contract, exercised through the Hadoop FileSystem
API via ``file://`` URIs — the LocalFileSystem object drives the exact
code every URI scheme uses (only the connector behind the Path differs),
so these drills certify the FS-API path itself."""

from __future__ import annotations

import os
import time

import pytest

# Fsync-bound slow partition (tools/slow_tests.txt): deselected by the
# default `-m "not slow"` addopts; run via tools/run_slow_suite.sh.
# Naming this file explicitly still selects nothing without `-m slow`
# (e.g. `pytest -m slow tests/test_statefs.py`).
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("statefs-tests", shuffle_partitions=4)


def _uri(tmp_path, name: str) -> str:
    return f"file://{tmp_path}/{name}"


def test_backend_dispatch(spark, tmp_path):
    from rag_pipelines_spark.operators.statefs import (
        HadoopBackend,
        LocalBackend,
        backend_for,
    )

    assert isinstance(backend_for(str(tmp_path)), LocalBackend)
    assert isinstance(backend_for(f"file://{tmp_path}"), HadoopBackend)


def test_manifest_flip_via_hadoop_fs(spark, tmp_path):
    """write_manifest publishes atomically through FileContext rename on
    a rename-atomic scheme; live_version_dir resolves it back."""
    from rag_pipelines_spark.operators.state import (
        live_version_dir,
        write_manifest,
    )
    from rag_pipelines_spark.operators.statefs import backend_for

    state = _uri(tmp_path, "mstate")
    fs = backend_for(state)
    fs.makedirs(os.path.join(state, "v-aaa"))
    write_manifest(state, "v-aaa")
    assert live_version_dir(state).endswith("v-aaa")
    # flip again — overwrite of an existing pointer must succeed
    fs.makedirs(os.path.join(state, "v-bbb"))
    write_manifest(state, "v-bbb")
    assert live_version_dir(state).endswith("v-bbb")
    # no stale temp files left behind
    leftovers = [n for n in fs.listdir(state) if n.startswith(".MANIFEST.tmp")]
    assert leftovers == []


def test_unresolvable_state_raises_not_empty_via_uri(spark, tmp_path):
    """The refuse-to-look-empty posture survives the backend swap: a
    version dir holding committed parquet but no MANIFEST raises."""
    from rag_pipelines_spark.operators.state import live_version_dir

    state = _uri(tmp_path, "orphan")
    vdir = f"{state}/v-dead"
    spark.range(3).write.mode("overwrite").parquet(f"{vdir}/data")
    with pytest.raises(RuntimeError, match="refusing to treat state as empty"):
        live_version_dir(state, what="drill state")
    # garbage pointer raises too
    state2 = _uri(tmp_path, "garbage")
    from rag_pipelines_spark.operators.statefs import backend_for

    fs = backend_for(state2)
    fs.makedirs(state2)
    fs.write_text(os.path.join(state2, "MANIFEST"), "\n")
    with pytest.raises(RuntimeError, match="not a version name"):
        live_version_dir(state2, what="drill state")


def test_commit_version_and_gc_via_uri(spark, tmp_path):
    """Full commit ritual through the FS API: version dir + epoch +
    prev + flip + orphan sweep, with real parquet written by Spark."""
    from rag_pipelines_spark.operators.state import (
        applied_epoch,
        commit_version,
        epoch_already_applied,
        gc_orphans,
        live_version_dir,
        writer_lease,
    )
    from rag_pipelines_spark.operators.statefs import backend_for

    state = _uri(tmp_path, "cstate")
    fs = backend_for(state)

    def _write(n):
        def inner(vdir):
            spark.range(n).write.mode("overwrite").parquet(f"{vdir}/t")

        return inner

    with writer_lease(state, what="drill"):
        commit_version(state, _write(5), epoch=0, prev=None)
    live0 = live_version_dir(state)
    assert applied_epoch(state) == 0
    assert spark.read.parquet(f"{live0}/t").count() == 5

    with writer_lease(state, what="drill"):
        commit_version(state, _write(7), epoch=1,
                       prev=os.path.basename(live0))
    live1 = live_version_dir(state)
    assert applied_epoch(state) == 1
    assert spark.read.parquet(f"{live1}/t").count() == 7
    # replay guard + reset detection behave identically through the URI
    assert epoch_already_applied(state, "drill", 1) is True
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        epoch_already_applied(state, "drill", 0)
    # predecessor retained one generation, swept by the next commit
    names = set(fs.listdir(state))
    assert os.path.basename(live0) in names
    with writer_lease(state, what="drill"):
        commit_version(state, _write(9), epoch=2,
                       prev=os.path.basename(live1))
    gc_orphans(state)
    names = set(fs.listdir(state))
    assert os.path.basename(live0) not in names
    assert os.path.basename(live1) in names  # new predecessor


def test_epoch_markers_via_uri(spark, tmp_path):
    from rag_pipelines_spark.operators.state import (
        epoch_is_committed,
        mark_epoch_committed,
        max_committed_epoch,
    )
    from rag_pipelines_spark.operators.statefs import backend_for

    d = _uri(tmp_path, "markers")
    backend_for(d).makedirs(d)
    assert max_committed_epoch(d) is None
    mark_epoch_committed(d, 0)
    mark_epoch_committed(d, 3)
    assert epoch_is_committed(d, 0)
    assert not epoch_is_committed(d, 1)
    assert max_committed_epoch(d) == 3


def test_writer_lease_via_uri(spark, tmp_path):
    """Acquire/contend/release and stale takeover through the FS API."""
    from rag_pipelines_spark.operators.state import LEASE, writer_lease
    from rag_pipelines_spark.operators.statefs import backend_for

    state = _uri(tmp_path, "lstate")
    fs = backend_for(state)
    with writer_lease(state, what="holder"):
        assert fs.isfile(os.path.join(state, LEASE))
        with pytest.raises(RuntimeError, match="locked by another writer"):
            with writer_lease(state, what="second"):
                pass  # pragma: no cover
    assert not fs.isfile(os.path.join(state, LEASE))

    # stale lease (dead holder): takeover through rename-claim
    lease = os.path.join(state, LEASE)
    fs.write_text(lease, "deadtoken 1 0\n")
    # age the lease: local file behind the file:// URI
    local = lease[len("file://"):]
    old = time.time() - 7200
    os.utime(local, (old, old))
    with writer_lease(state, what="taker"):
        assert fs.read_text(lease).split(" ", 1)[0] != "deadtoken"
    assert not fs.isfile(lease)


def test_incremental_neardup_on_uri_state(spark, tmp_path):
    """A real operator (incremental near-dup) running its whole
    state lifecycle — init, filter, append, marker — on a file:// root."""
    from rag_pipelines_spark.operators.dedup import incremental_neardup

    state = _uri(tmp_path, "nd_state")
    schema = "doc_id INT, text STRING"
    base = (
        "the quick brown fox jumps over the lazy dog near the riverbank "
        "today while birds sing in the morning light across the valley"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, "entirely different text about query planning")],
        schema,
    )
    assert incremental_neardup(spark, b1, state, "doc_id", "text").count() == 2
    # near-dup of doc 1 arrives in batch 2 -> filtered against URI state
    b2 = spark.createDataFrame(
        [(3, base + " extra"), (4, "novel content regarding broadcast joins")],
        schema,
    )
    out = incremental_neardup(spark, b2, state, "doc_id", "text")
    assert {r.doc_id for r in out.collect()} == {4}


def test_unknown_scheme_raises_loudly(spark, tmp_path):
    """A scheme with no connector must raise (Hadoop's 'No FileSystem
    for scheme'), never report the state provably fresh — the
    look-empty failure the module exists to prevent."""
    from rag_pipelines_spark.operators.state import live_version_dir

    with pytest.raises(Exception, match="(?i)no filesystem for scheme|unsupported"):
        live_version_dir("nosuchscheme://bucket/state")


# ---------------------------------------------------------------------------
# Conditional-PUT lease tier: two-racing-creators drill on a fake object
# store (the connector behavior S3A exhibits with/without HADOOP-19256
# conditional writes, scripted so the race window is deterministic)
# ---------------------------------------------------------------------------


class _FakeJavaException:
    def __init__(self, name: str, msg: str):
        self._name, self._msg = name, msg

    def getClass(self):
        return self

    def getName(self):
        return self._name

    def getMessage(self):
        return self._msg


def _fake_java_error(name: str, msg: str):
    """A Py4JJavaError lookalike that carries a scripted java class name
    through HadoopBackend._translate without a JVM round trip."""
    from py4j.protocol import Py4JJavaError

    e = Py4JJavaError.__new__(Py4JJavaError)
    Exception.__init__(e, msg)
    e.java_exception = _FakeJavaException(name, msg)
    e.errmsg = msg
    return e


class _FakeStream:
    def __init__(self, fs, key: str, conditional: bool):
        self._fs, self._key, self._conditional = fs, key, conditional
        self._buf = bytearray()

    def write(self, data):
        self._buf.extend(bytes(data))

    def close(self):
        self._fs.on_commit()  # the test injects the rival's PUT here
        if self._conditional and self._key in self._fs.store:
            # server-side If-None-Match: the 412 surface S3A translates
            raise _fake_java_error(
                "org.apache.hadoop.fs.s3a.RemoteFileChangedException",
                f"PUT {self._key}: 412 PreconditionFailed",
            )
        self._fs.store[self._key] = bytes(self._buf)

    def hsync(self):
        pass


class _FakeBuilder:
    def __init__(self, fs, key: str):
        self._fs, self._key = fs, key
        self._conditional = False

    def overwrite(self, flag):
        return self

    def must(self, key, val):
        if key != "fs.option.create.conditional.overwrite":
            raise _fake_java_error(
                "java.lang.IllegalArgumentException", f"unknown must: {key}"
            )
        if not self._fs.conditional:
            raise _fake_java_error(
                "java.lang.IllegalArgumentException",
                "conditional create not supported",
            )
        self._conditional = bool(val)
        return self

    def build(self):
        return _FakeStream(self._fs, self._key, self._conditional)


class _FakeObjectStoreFS:
    """Duck-typed stand-in for the py4j FileSystem handle: an object
    store whose plain create(overwrite=false) checks existence
    CLIENT-SIDE at create() time and commits at close() — the racy
    S3A shape — plus an optional conditional-create capability."""

    def __init__(self, conditional: bool):
        self.conditional = conditional
        self.store: dict[str, bytes] = {}
        self.on_commit = lambda: None

    def getScheme(self):
        return "fakes3"

    def hasPathCapability(self, jp, cap):
        return self.conditional and cap == "fs.option.create.conditional.overwrite"

    def createFile(self, jp):
        return _FakeBuilder(self, str(jp))

    def create(self, jp, overwrite):
        key = str(jp)
        if not overwrite and key in self.store:
            raise _fake_java_error(
                "org.apache.hadoop.fs.FileAlreadyExistsException", key
            )
        return _FakeStream(self, key, conditional=False)


def _fake_backend(spark, fs):
    from rag_pipelines_spark.operators.statefs import HadoopBackend

    b = HadoopBackend(spark)
    b._fs = lambda jp: fs
    b._path = lambda p: p
    return b


def test_conditional_create_wins_the_race_exactly_once(spark):
    """Conditional tier: a rival PUT landing between build() and close()
    makes OUR commit fail with FileExistsError — the store, not a
    client-side check, refuses the second creator. Exactly one holder."""
    fs = _FakeObjectStoreFS(conditional=True)
    b = _fake_backend(spark, fs)

    def rival_commit():
        fs.on_commit = lambda: None  # rival runs once
        fs.store["fakes3://bucket/lease"] = b"rival token"

    fs.on_commit = rival_commit
    with pytest.raises(FileExistsError):
        b.create_excl("fakes3://bucket/lease", "our token")
    assert fs.store["fakes3://bucket/lease"] == b"rival token"
    # and with no rival, the conditional path acquires normally...
    fs2 = _FakeObjectStoreFS(conditional=True)
    b2 = _fake_backend(spark, fs2)
    b2.create_excl("fakes3://bucket/lease", "our token")
    assert fs2.store["fakes3://bucket/lease"] == b"our token"
    # ...and an already-held lease is refused at commit
    with pytest.raises(FileExistsError):
        b2.create_excl("fakes3://bucket/lease", "second writer")


def test_advisory_fallback_double_acquires_and_warns(spark, caplog):
    """Without the capability the SAME race silently double-acquires
    (documented advisory-grade gap: client-side check at create(),
    commit at close()) — and the downgrade logs one loud warning per
    scheme so operators can see which tier they are on."""
    import logging

    from rag_pipelines_spark.operators import statefs

    statefs._ADVISORY_WARNED.discard("fakes3")
    fs = _FakeObjectStoreFS(conditional=False)
    b = _fake_backend(spark, fs)

    def rival_commit():
        fs.on_commit = lambda: None
        fs.store["fakes3://bucket/lease"] = b"rival token"

    fs.on_commit = rival_commit
    with caplog.at_level(logging.WARNING, logger="rag_pipelines_spark.operators.statefs"):
        b.create_excl("fakes3://bucket/lease", "our token")  # no error!
    # last-writer-wins: both creators "succeeded" — the advisory gap
    assert fs.store["fakes3://bucket/lease"] == b"our token"
    assert any("ADVISORY-GRADE" in r.message for r in caplog.records)
    # warned once per scheme, not per acquisition
    n = len([r for r in caplog.records if "ADVISORY-GRADE" in r.message])
    fs.store.clear()
    with caplog.at_level(logging.WARNING, logger="rag_pipelines_spark.operators.statefs"):
        b.create_excl("fakes3://bucket/lease", "again")
    assert (
        len([r for r in caplog.records if "ADVISORY-GRADE" in r.message]) == n
    )
    # the plain create-if-absent REFUSAL still works outside the window
    with pytest.raises(FileExistsError):
        b.create_excl("fakes3://bucket/lease", "third")


def test_conditional_create_failed_write_does_not_commit(spark):
    """A write() failure inside the conditional tier must NOT commit the
    PUT: before the r8 fix the finally-block close() committed a
    truncated lease object, phantom-holding the lock until
    crashed-holder cleanup. Now the stream is aborted (or closed +
    best-effort deleted when not abortable) and the write error
    propagates — the key must be absent afterwards."""
    fs = _FakeObjectStoreFS(conditional=True)
    fs.delete = lambda jp, rec: fs.store.pop(str(jp), None) is not None
    b = _fake_backend(spark, fs)

    broken = _FakeStream(fs, "fakes3://bucket/lease", conditional=True)

    def bad_write(data):
        raise _fake_java_error("java.io.IOException", "connection reset")

    broken.write = bad_write
    orig_create = fs.createFile

    def create_with_broken_stream(jp):
        builder = orig_create(jp)
        builder.build = lambda: broken
        return builder

    fs.createFile = create_with_broken_stream
    # the write error propagates (untranslated java errors pass through
    # as-is); the invariant under test is the ABSENT key
    with pytest.raises(Exception):  # noqa: B017 — fake py4j error type
        b.create_excl("fakes3://bucket/lease", "our token")
    assert "fakes3://bucket/lease" not in fs.store


def test_failed_write_cleanup_spares_rival_lease(spark):
    """Failed-write cleanup in the non-Abortable fallback must not
    delete a COMPETITOR's lease: when our write() fails and the
    fallback close() then hits 412 (a rival committed the key between
    build() and close()), the key belongs to the rival — deleting it
    would let a third party acquire while the rival believes it holds
    the lock. The delete runs ONLY when our own close() committed."""
    fs = _FakeObjectStoreFS(conditional=True)
    deleted = []

    def tracked_delete(jp, rec):
        deleted.append(str(jp))
        return fs.store.pop(str(jp), None) is not None

    fs.delete = tracked_delete
    b = _fake_backend(spark, fs)

    broken = _FakeStream(fs, "fakes3://bucket/lease", conditional=True)

    def bad_write(data):
        raise _fake_java_error("java.io.IOException", "connection reset")

    broken.write = bad_write
    orig_create = fs.createFile

    def create_with_broken_stream(jp):
        builder = orig_create(jp)
        builder.build = lambda: broken
        return builder

    fs.createFile = create_with_broken_stream
    # the rival lands its PUT inside the close() commit window
    fs.on_commit = lambda: fs.store.setdefault(
        "fakes3://bucket/lease", b"rival token"
    )
    with pytest.raises(Exception):  # noqa: B017 — fake py4j error type
        b.create_excl("fakes3://bucket/lease", "our token")
    # the rival's lease survives, untouched by our cleanup
    assert fs.store["fakes3://bucket/lease"] == b"rival token"
    assert deleted == []


def test_capability_probe_drift_falls_back_not_crashes(spark):
    """Capability answers true but the builder rejects must() (connector
    drift): create_excl must fall back to the advisory path, not crash."""
    fs = _FakeObjectStoreFS(conditional=False)
    fs.hasPathCapability = lambda jp, cap: True  # lies
    b = _fake_backend(spark, fs)
    b.create_excl("fakes3://bucket/lease", "token")
    assert fs.store["fakes3://bucket/lease"] == b"token"
