"""Overlap independent eager materializations (optimization guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; eager `localCheckpoint` calls are only sequential because
driver code invokes them sequentially. When a query path materializes
two or more frames with NO dependency between them (e.g. the two
Count-Min partials of q_cm_join_size, or PageRank's node and edge
checkpoints), submitting those jobs from a small thread pool lets the
second job's tasks back-fill executors freed by the first job's tail —
pure wall-clock overlap, no plan or result change (each frame's rows
are exactly what the sequential call produced).

Each thunk is wrapped with `pyspark.util.inheritable_thread_target`,
so its pool thread runs with the caller's JVM local properties (job
group, job description, scheduler pool) and session tags. A bare pool
thread starts with none of them: its jobs would fall outside the
caller's job group, and a profiler that counts jobs by group (perfbench
`Tracer`, bench.py's `BENCH_profile.json`) would miss them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

__all__ = ["checkpoint_all", "run_all"]

_T = TypeVar("_T")


def run_all(*thunks: Callable[[], _T]) -> tuple[_T, ...]:
    """Run independent job-submitting callables concurrently.

    The generalization of `checkpoint_all` for work that is not a bare
    localCheckpoint — e.g. building one sketch partial per pending batch
    (each a checkpoint + a metadata count), or the two table writes of a
    two-table state commit. Results return in input order; with a single
    thunk no pool is spun up. Failure semantics differ from sequential
    execution (r10 ADVICE): ALL thunks run to completion even when an
    earlier one raises (side-effecting thunks such as overlapped parquet
    writes still execute), and the exception propagated afterwards is
    the first in INPUT order, not the first to raise temporally —
    harmless at current call sites because commit_version only flips the
    MANIFEST after its write_fn succeeds, so an orphaned side effect is
    never visible state.
    """
    if len(thunks) == 1:
        return (thunks[0](),)
    # wrapping captures the caller's properties now, on this thread
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        return tuple(f.result() for f in futures)


def checkpoint_all(*dfs: DataFrame) -> tuple[DataFrame, ...]:
    """localCheckpoint(eager=True) every frame, overlapped.

    Returns the checkpointed frames in input order. With a single frame
    this degenerates to the plain sequential call (no pool spun up).
    Exceptions from any job propagate to the caller unchanged.
    """
    return run_all(*[
        (lambda d=d: d.localCheckpoint(eager=True)) for d in dfs
    ])
