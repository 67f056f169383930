"""Measure the bloom-prefiltered anti-join against the plain anti-join
across SF rungs: wall clock, candidate (verify-join input) fraction, and
result equality. Feeds the SCALE.md bloom table.

Usage: python tools/bloom_scale.py [sf_dir ...]   (defaults to the ladder)
Run on an otherwise idle machine — shared-JVM timing noise is ~±0.5 s.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rag_pipelines_spark.io import table  # noqa: E402
from rag_pipelines_spark.operators.bloomfilter import (  # noqa: E402
    bloom_anti_join,
    bloom_build,
    bloom_probe,
)
from rag_pipelines_spark.session import get_spark  # noqa: E402

LADDER = [
    "/root/testdata/sf0.1",
    os.path.join(ROOT, "_testdata", "sf1"),
    os.path.join(ROOT, "_testdata", "sf10"),
]


def main() -> None:
    dirs = sys.argv[1:] or LADDER
    spark = get_spark("bloom-scale")
    m_bits, k = 1 << 24, 5  # 2 MiB bitmap: ~10 bits/key up to ~1.6M keys
    print(f"m_bits=2^24 k={k}  (new = all docs, master = even doc_ids)")
    print(
        "sf_dir | docs | bcast_anti_s | shuffle_anti_s | bloom_anti_s"
        " | candidates | prune_frac"
    )
    for sf in dirs:
        d = table(spark, sf, "documents")
        new = d.select("doc_id", F.md5("text").alias("fp"))
        master = d.filter(F.col("doc_id") % 2 == 0).select(
            F.md5("text").alias("fp")
        )
        n_new = new.count()

        # tier 1: broadcast anti-join (master keys fit on every executor)
        t0 = time.time()
        n_plain = new.join(master, "fp", "left_anti").count()
        t_bcast = time.time() - t0

        # the 100 TB regime the bloom targets: master keys too big to
        # broadcast -> the plain anti-join shuffles BOTH sides on fp
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )
        try:
            t0 = time.time()
            n_shuf = new.join(master, "fp", "left_anti").count()
            t_shuffle = time.time() - t0

            t0 = time.time()
            n_bloom = bloom_anti_join(
                new, master, "fp", m_bits=m_bits, k=k
            ).count()
            t_bloom = time.time() - t0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

        words = bloom_build(master, "fp", m_bits, k)
        n_cand = bloom_probe(new, words, "fp", m_bits, k).filter(
            "_bfmaybe"
        ).count()
        assert n_bloom == n_plain == n_shuf, (n_bloom, n_plain, n_shuf)
        print(
            f"{sf} | {n_new} | {t_bcast:.2f} | {t_shuffle:.2f} | "
            f"{t_bloom:.2f} | {n_cand} | {1 - n_cand / n_new:.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
