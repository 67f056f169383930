"""Per-layer tracing for the benchmark, from outside the program.

A span wraps one call into a layer. Its Spark jobs are tagged with a job
group of their own, and after the operation the span's jobs and stages
are read back from Spark's status store (`AppStatusStore`, live with
`spark.ui.enabled=false`). Spans stay in memory and are written out
once, when the run ends. A `/proc` sampler tracks the peak resident
memory of the JVM and the Python workers it forks.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


def _opt_ms(opt) -> float | None:
    """A Scala Option[java.util.Date] as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Tracer:
    """Spans tagged by job group, with the status store read after each op."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, op: int, measured: bool = True):
        """Time one layer call; its Spark jobs run under their own group.
        Spans do not nest. A span with `measured=False` times a layer
        outside the operation's measured region: it has a self time but
        stays out of the engine counters."""
        group = f"perfbench/{op}/{self._n}/{name}"
        self._n += 1
        self.sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.add_span(name, op, start, end, group, measured)

    def add_span(self, name: str, op: int, start: float, end: float, group: str,
                 measured: bool = True) -> None:
        """Record a span timed elsewhere (a streaming trigger, whose jobs
        run under the query's run id as their group)."""
        self.spans.append({"name": name, "op": op, "group": group, "start": start,
                           "end": end, "measured": measured})

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def self_time(self, op: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.op_spans(op) if s["name"] == name)

    # -- status store ------------------------------------------------------

    def _store(self):
        """The status store, once every event posted so far is applied."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return jsc.statusStore()

    def _stages(self, groups: list[str]) -> tuple[int, list[dict]]:
        store = self._store()
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        max_q = self.sc._gateway.new_array(jvm.double, 1)
        max_q[0] = 1.0
        job_ids: set[int] = set()
        for g in groups:
            job_ids.update(self.sc.statusTracker().getJobIdsForGroup(g))
        stages, seen = [], set()
        for j in sorted(job_ids):
            ids = store.job(j).stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False, no_quantiles
                )
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    key = (sid, sd.attemptId())
                    if key in seen or sd.status().toString() == "SKIPPED":
                        continue
                    seen.add(key)
                    summary = store.taskSummary(sid, sd.attemptId(), max_q)
                    max_task = (
                        summary.get().executorRunTime().apply(0) / 1000.0
                        if summary.isDefined() else 0.0
                    )
                    stages.append({
                        "tasks": sd.numTasks(),
                        "failed_tasks": sd.numFailedTasks(),
                        "task_s": sd.executorRunTime() / 1000.0,
                        "max_task_s": max_task,
                        "gc_s": sd.jvmGcTime() / 1000.0,
                        "input_bytes": sd.inputBytes(),
                        "shuffle_read_bytes": sd.shuffleReadBytes(),
                        "shuffle_write_bytes": sd.shuffleWriteBytes(),
                        "spill_bytes": sd.diskBytesSpilled(),
                        "start": _opt_ms(sd.submissionTime()),
                        "end": _opt_ms(sd.completionTime()),
                    })
        return len(job_ids), stages

    def first_job_submit(self, group: str) -> float | None:
        """Submission time of the group's first job (epoch seconds)."""
        store = self._store()
        times = [
            _opt_ms(store.job(j).submissionTime())
            for j in self.sc.statusTracker().getJobIdsForGroup(group)
        ]
        times = [t for t in times if t is not None]
        return min(times) if times else None

    def engine_counters(self, op: int) -> dict:
        """Engine counters over every job the op's measured spans ran.
        Wall time is the union of those spans, so the benchmark's own
        checks between them count neither as wall nor as driver gap."""
        spans = [s for s in self.op_spans(op) if s["measured"]]
        n_jobs, stages = self._stages(sorted({s["group"] for s in spans}))
        wall = _union_length([(s["start"], s["end"]) for s in spans])
        start, end = min(s["start"] for s in spans), max(s["end"] for s in spans)
        busy = _union_length([
            (max(s["start"], start), min(s["end"], end))
            for s in stages
            if s["start"] is not None and s["end"] is not None and s["end"] > s["start"]
        ])
        scans = [s for s in stages if s["input_bytes"] > 0]
        task_s = sum(s["task_s"] for s in stages)
        return {
            "spark.jobs": n_jobs,
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.task_s": task_s,
            "spark.max_task_s": max((s["max_task_s"] for s in stages), default=0.0),
            "spark.driver_gap_s": max(wall - busy, 0.0),
            "spark.core_util": task_s / (wall * self.cores) if wall > 0 else 0.0,
            "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spark.gc_s": sum(s["gc_s"] for s in stages),
            "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
            "spark.failed_tasks": sum(s["failed_tasks"] for s in stages),
            "io.scan_tasks": sum(s["tasks"] for s in scans),
            "io.input_bytes": sum(s["input_bytes"] for s in scans),
            "io.scan_s": sum(s["task_s"] for s in scans),
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# -- memory --------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants."""
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, []))
    return total


RSS_INTERVAL_S = 0.5  # seconds between two samples of the process tree


class RssSampler:
    """Samples the resident memory of a process tree on a thread."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
