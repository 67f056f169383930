"""Self-test of the benchmark's output contract.

    python3 perfbench/selftest.py [workload ...]

Runs each workload (default: every workload in BENCHMARK.json) once with
seed 3 and --seconds 1, untraced and traced, and checks that the last
line of output is one JSON object with exactly `correct`, `attempted`,
`failed` and `metrics`, that the run was correct with nothing failed, and
that the metrics are exactly BENCHMARK.json's end-to-end (untraced) or
per-layer (traced) names with their units. Then it checks that the
benchmark exits non-zero without printing a result in a directory that
holds only BENCHMARK.json and the benchmark's own files. Exits 1 on any
failure. Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(args: list[str], cwd: str) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout


def check_result(out: str, metrics: dict[str, str]) -> list[str]:
    lines = out.strip().splitlines()
    if not lines:
        return ["no output"]
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        return [f"last line is not JSON: {lines[-1][:200]}"]
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        problems.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                        f"failed={res.get('failed')}")
    got = res.get("metrics", {})
    if set(got) != set(metrics):
        problems.append(f"metric names differ: extra {sorted(set(got) - set(metrics))}, "
                        f"missing {sorted(set(metrics) - set(got))}")
    for name, m in got.items():
        if not isinstance(m.get("value"), (int, float)) or m.get("unit") != metrics.get(name):
            problems.append(f"{name}: {m}")
    return problems


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    workloads = argv or [w["name"] for w in bench["workloads"]]
    failures = 0
    for w in workloads:
        for trace, metrics in ((0, end_to_end), (1, per_layer)):
            rc, out = run(["--workload", w, "--seed", "3", "--seconds", "1",
                           "--trace", str(trace)], ROOT)
            problems = ([f"exit code {rc}"] if rc else []) + check_result(out, metrics)
            failures += bool(problems)
            print(f"{'FAIL' if problems else 'ok'} {w} trace={trace} {problems or ''}")

    # outside a checkout: only BENCHMARK.json and the benchmark's own files
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = run(["--workload", workloads[0], "--seed", "1", "--seconds", "1",
                       "--trace", "0"], bare)
        bad = rc == 0 or out.strip() != ""
        failures += bad
        print(f"{'FAIL' if bad else 'ok'} bare directory: exit code {rc}, "
              f"{len(out.strip().splitlines())} output lines")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
