"""Per-phase profile of q_pagerank at sf0.1 (guide §1: measure first).

Times: graph build, per-iteration wall for the current operator, and a
job/stage census via the status tracker. Noop-sink semantics: the final
frame is forced with write.format("noop").
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from pyspark.sql import SparkSession

from rag_pipelines_spark.session import SCRATCH_ROOT

spark = (
    SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    .appName("profile-pagerank")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", os.path.join(SCRATCH_ROOT, "spark-local"))
    .getOrCreate()
)

from rag_pipelines_spark.queries.graphrank import _graph_frames
from rag_pipelines_spark.operators.pagerank import pagerank

t0 = time.monotonic()
nodes, edges = _graph_frames(spark, SF)
n_nodes = nodes.count()
n_edges = edges.count()
t1 = time.monotonic()
print(f"graph build+count: {t1 - t0:.2f}s nodes={n_nodes} edges={n_edges}")

sc = spark.sparkContext
tracker = sc.statusTracker

for iters in (0, 1, 2, 8):
    j0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    t0 = time.monotonic()
    r = pagerank(nodes, edges, iters=iters)
    r.write.format("noop").mode("overwrite").save()
    t1 = time.monotonic()
    print(f"iters={iters}: {t1 - t0:.2f}s")

spark.stop()
