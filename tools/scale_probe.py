"""Linear-scaling probe: time the core dedup/text operators at 1x/2x/4x
corpus size and print the per-doubling ratio. A blocked/bucketed operator
should scale ~linearly (ratio ~2 with fixed overhead amortizing DOWN);
a quadratic one doubles its ratio every doubling. Results recorded in
SCALE.md. Run: python tools/scale_probe.py [sf_dir]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rag_pipelines_spark.io import table
from rag_pipelines_spark.operators.dedup import (
    exact_dedup,
    line_dedup,
    minhash_candidates,
    simhash_candidates,
)
from rag_pipelines_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark("scale-probe")
base = table(spark, SF, "documents")


def replicate(df, k: int):
    """k perturbed copies: unique ids, slightly different text so replicas
    are not near-dups of each other (keeps candidate growth organic)."""
    parts = [
        df.select(
            (F.col("doc_id") + 10_000_000 * i).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" replica{i}")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # materialize once so the timed operator doesn't re-run the union scan
    out = out.repartition(32).localCheckpoint()
    return out


OPS = {
    "exact_dedup": lambda d: exact_dedup(d, ["text"], "doc_id"),
    "line_dedup": lambda d: line_dedup(d, "doc_id", "text"),
    "simhash_candidates": lambda d: simhash_candidates(d, "doc_id", "text"),
    "minhash_mllib": lambda d: minhash_candidates(d, "doc_id", "text", 0.8),
}

results = {}
for k in (1, 2, 4):
    d = replicate(base, k)
    n = d.count()
    for op, fn in OPS.items():
        best = None
        for _ in range(2):
            t0 = time.time()
            fn(d).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        results.setdefault(op, []).append((n, best))
        print(f"{k}x ({n} docs) {op}: {best:.2f}s", flush=True)

print("\nper-doubling ratios (linear => ~2, quadratic => ~4):")
for op, series in results.items():
    ratios = [
        round(series[i + 1][1] / series[i][1], 2) for i in range(len(series) - 1)
    ]
    print(f"  {op}: {ratios}")
