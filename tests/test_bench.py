"""bench.py end to end: the headline line keeps its shape, any registered
query can be measured by name, and every reported entry has a profile
row in BENCH_profile.json.

bench.py runs as a subprocess from a copy in tmp_path (PYTHONPATH points
at the checkout), so the checked-in BENCH_profile.json is never
overwritten.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from tests.conftest import SF_DIR_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINE_KEYS = {
    "metric", "value", "unit", "queries", "core_total", "core_r4_total",
    "extras_total", "sf", "runs", "protocol", "wall_total",
}
TRACER_KEYS = {
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
    "spark.max_task_s", "spark.driver_gap_s", "spark.core_util",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.gc_s",
    "spark.spill_bytes", "spark.failed_tasks", "io.scan_tasks",
    "io.input_bytes", "io.scan_s",
}


def _run_bench(tmp_path, queries: str) -> subprocess.CompletedProcess:
    shutil.copy(os.path.join(ROOT, "bench.py"), tmp_path / "bench.py")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_SF_DIR=SF_DIR_SMOKE,
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_QUERIES=queries,
    )
    return subprocess.run(
        [sys.executable, "bench.py"], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=900,
    )


def test_bench_headline_and_profile(tmp_path):
    # q_simhash is registered but not in HEADLINE
    res = _run_bench(tmp_path, "q_topk,q_simhash")
    assert res.returncode == 0, res.stderr[-3000:]
    headline = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(headline) == HEADLINE_KEYS
    assert set(headline["queries"]) == {"q_topk", "q_simhash"}

    with open(tmp_path / "BENCH_profile.json") as f:
        profile = json.load(f)
    assert profile["runs"] == 1 and profile["cores"] >= 1
    assert set(profile["queries"]) == {"q_topk", "q_simhash"}
    for name, row in profile["queries"].items():
        assert set(row) == TRACER_KEYS | {"wall_s"}, name
        assert row["spark.jobs"] >= 1, name
        assert row["wall_s"] == headline["queries"][name], name


def test_bench_unknown_query_exits_nonzero(tmp_path):
    res = _run_bench(tmp_path, "q_topk,q_no_such_query")
    assert res.returncode != 0
    assert "q_no_such_query" in res.stderr
    assert not (tmp_path / "BENCH_profile.json").exists()
