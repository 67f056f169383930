"""Seeded end-to-end benchmark of the RAG / LLM-data engine.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts the engine's SparkSession on
local[<cores>], generates the workload's inputs from the seed, warms up
on the measured-size inputs, then runs the workload's operation as a
closed loop from one client for S seconds, checking every output. With
--trace 0 it reports the end-to-end metrics; with --trace 1 it
alternates untraced and traced operations and reports the per-layer
metrics plus the tracing overhead. The last line of standard output is
one JSON object; the lines before it print every metric with its unit
and sample count. perfbench/README.md lists workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("rag_ingest", "query_mix")
DRIVER_MEMORY = "2g"
MIN_OPS = 1  # untraced operations per run, even past --seconds
# a traced run measures at least untraced, traced, untraced: the traced
# operation sits between two untraced ones, so a steady drift (JIT
# warm-up, growing state) cancels out of trace.overhead_s
MIN_OPS_TRACED = 2
MAX_OPS = 6  # operations per run, warm-up included, even before --seconds

# (name, unit) of the end-to-end metrics every workload reports in its
# last line; the rest of the table is printed above it
END_TO_END = (("setup_s", "s"), ("wall_s", "s"))

# (name, unit) of the per-layer metrics a traced run reports; a layer the
# workload never calls reads 0
PER_LAYER = (
    ("session.start_s", "s"),
    ("trace.overhead_s", "s"),
    ("io.scan_tasks", "count"),
    ("io.input_bytes", "bytes"),
    ("io.scan_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_s", "s"),
    ("spark.max_task_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("spark.core_util", "ratio"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.failed_tasks", "count"),
    ("sources.parse_html_s", "s"),
    ("sources.fetch_enrich_s", "s"),
    ("operators.cleaning.clean_s", "s"),
    ("sources.write_jsonl_s", "s"),
    ("sources.jsonl_bytes", "bytes"),
    ("operators.dedup.line_dedup_s", "s"),
    ("operators.dedup.minhash_bands_s", "s"),
    ("operators.substrdedup.substring_dedup_s", "s"),
    ("operators.packing.pack_s", "s"),
    ("operators.dedup.affected_frac", "ratio"),
    ("operators.dedup.removed_frac", "ratio"),
    ("operators.dedup.verified_per_candidate", "ratio"),
    ("streaming.query_start_s", "s"),
    ("streaming.trigger_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("state.fold_s", "s"),
    ("state.serve_s", "s"),
    ("state.bytes_written", "bytes"),
    ("state.versions", "count"),
    ("queries.plan_s", "s"),
    ("queries.q_tpch_q1_s", "s"),
    ("queries.q_tpch_q3_s", "s"),
    ("queries.q_group_count_s", "s"),
    ("queries.q_topk_s", "s"),
    ("queries.q_agg_stats_s", "s"),
    ("queries.q_window_rank_s", "s"),
    ("queries.q_session_agg_s", "s"),
    ("queries.q_bm25_topk_s", "s"),
    ("queries.q_pretraining_prep_checksum_s", "s"),
    ("queries.q_substring_dedup_s", "s"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run outside a checkout of the engine."""
    needed = ("rag_pipelines_spark/session.py", "tools/gen_sf.py", "tools/driver_sim_lib.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        sys.exit(2)


def pin_environment(work: str, cores: int) -> dict:
    """Environment the engine runs under; recorded in the output."""
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = env["TMPDIR"]
    return env


class Session:
    """The engine's SparkSession, started through `session.get_spark`."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self) -> float:
        """Start the JVM and session; returns the seconds in get_spark."""
        from rag_pipelines_spark import session
        from rag_pipelines_spark.registry import load_all

        local = os.environ["SPARK_LOCAL_DIRS"]
        # session.py builds its default scratch path even when
        # SPARK_LOCAL_DIRS is set; keep that path inside the run's tree
        session._scratch_local_dir = lambda: local
        load_all()
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        return time.perf_counter() - t0

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot: time other guests
    of the hypervisor took from this machine's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        return 0.0
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def run_workload(args) -> int:
    from perfbench.tracing import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=os.path.join(ROOT, ".perfbench"))
    env = pin_environment(work, cores)
    session = Session(work)
    wl = None
    try:
        # set-up: process start to a live session with the registry loaded
        session_s = session.start()
        setup_s = time.perf_counter() - T_PROCESS
        spark = session.spark
        ctx = Ctx(spark=spark, seed=args.seed, work=work)
        wl = WORKLOADS[args.workload](ctx)
        prepare_s = time.perf_counter()
        facts = wl.prepare()
        prepare_s = time.perf_counter() - prepare_s
        tracer = Tracer(spark, cores) if args.trace else None

        attempted = failed = 0
        walls: list[float] = []
        traced_walls: list[float] = []
        samples: dict[str, list[float]] = {}
        layers: dict[str, list[float]] = {}

        def attempt(i: int, traced: bool):
            nonlocal attempted, failed
            attempted += 1
            try:
                op = wl.op(i, tracer if traced else None) if i else wl.warm_up()
            except Exception:
                failed += 1
                print(f"perfbench: operation {i} raised", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                return None
            print(f"perfbench: operation {i} traced={traced} wall {op.wall_s:.3f} s",
                  file=sys.stderr)
            if op.problems:
                failed += 1
                print(f"perfbench: operation {i} failed its checks: {op.problems}",
                      file=sys.stderr)
            if traced:
                op.layers.update(tracer.engine_counters(i))
            return op

        ticks = cpu_ticks()
        with RssSampler(session.jvm_pid()) as rss:
            warmup_s = time.perf_counter()
            attempt(0, traced=False)
            warmup_s = time.perf_counter() - warmup_s
            deadline = time.perf_counter() + args.seconds
            i = 1
            min_ops = MIN_OPS_TRACED if args.trace else MIN_OPS
            while attempted < MAX_OPS and not wl.exhausted:
                if (time.perf_counter() >= deadline and len(walls) >= min_ops
                        and (traced_walls or not args.trace)):
                    break
                traced = bool(args.trace) and i % 2 == 0
                op = attempt(i, traced)
                if op is not None and not op.problems:
                    (traced_walls if traced else walls).append(op.wall_s)
                    for k, v in op.samples.items():
                        samples.setdefault(k, []).append(v)
                    for k, v in op.layers.items():
                        layers.setdefault(k, []).append(v)
                i += 1
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        extra = wl.summary()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if wl is not None:
            wl.close()
        session.stop()
        shutil.rmtree(work, ignore_errors=True)

    table = {
        "setup_s": (setup_s, "s", 1),
        "wall_s": (median(walls), "s", len(walls)),
        "peak_rss_mb": (rss.peak / 2**20, "MB", 1),
        "failed_frac": (failed / attempted if attempted else 1.0, "ratio", attempted),
        "prepare_s": (prepare_s, "s", 1),
        "warmup_s": (warmup_s, "s", 1),
        # share of the host's CPU time that other guests took while this
        # run warmed up and measured: high values explain slow runs
        "host_steal_frac": (steal / total if total else 0.0, "ratio", 1),
    }
    if "batch_commit_s" in samples:
        c = samples["batch_commit_s"]
        table["batch_commit_p50_s"] = (median(c), "s", len(c))
        table["batch_commit_p90_s"] = (percentile(c, 0.9), "s", len(c))
        table["serve_p50_s"] = (median(samples["serve_s"]), "s", len(samples["serve_s"]))
    if "query_geomean_s" in samples:
        g = samples["query_geomean_s"]
        table["query_geomean_s"] = (median(g), "s", len(g))
    for k, v in extra.items():
        table[k] = (v, "ratio", 1)

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cores} driver_memory={DRIVER_MEMORY} "
          f"shuffle_partitions={env['SPARK_GRAFT_CPUS']}")
    print(f"# inputs: {json.dumps(facts, default=str)}")
    print(f"# {'metric':<40} {'value':>14} {'unit':<6} {'n':>4}")
    for name, (value, unit, n) in table.items():
        print(f"# {name:<40} {value:>14.6g} {unit:<6} {n:>4}")

    if args.trace:
        per_layer = {name: median(layers.get(name, [])) for name, _ in PER_LAYER}
        per_layer["session.start_s"] = session_s
        per_layer["trace.overhead_s"] = median(traced_walls) - median(walls)
        print(f"# trace.overhead_s compares {len(traced_walls)} traced with "
              f"{len(walls)} untraced operations")
        for name, unit in PER_LAYER:
            print(f"# {name:<40} {per_layer[name]:>14.6g} {unit:<6} "
                  f"{len(layers.get(name, traced_walls)):>4}")
        tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                  f"{args.workload}-seed{args.seed}.json"))
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": table[n][0], "unit": u} for n, u in END_TO_END}
    print(f"# process_s {time.perf_counter() - T_PROCESS:.3f}")
    print(json.dumps({
        "correct": failed == 0 and bool(walls) and (bool(traced_walls) or not args.trace),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    totals = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited {proc.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        totals["correct"] &= res["correct"]
        totals["attempted"] += res["attempted"]
        totals["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            totals["metrics"][f"{name}.{metric}"] = v
    print(json.dumps(totals))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and deletes its temporary files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    check_checkout()
    sys.path[0] = ROOT  # import perfbench.* as a package, not its files as modules
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
