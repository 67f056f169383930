"""Skew-mitigation evidence (SCALE.md): generate a deliberately skewed
events table (one user owning a large fraction of all rows), show the
audit catches it, quantify the task-size imbalance a key-hash exchange
would produce, and measure the mitigations actually bounding task input:

  1. AUDIT   — q_heavy_hitters' exact count flags the planted hot user.
  2. HISTO   — per-partition row counts of a repartition(user_id): the
               true task-input histogram any user_id shuffle produces
               (max vs p50 — the straggler, stated in rows not seconds
               so the number transfers to any cluster).
  3. JOIN    — sort-merge join of skewed events to a per-user dim with
               AQE skew-split OFF vs ON (wall-clock; OFF serializes the
               hot partition through one task) and the explicit
               replicated_skew_join for engines/settings without AQE.
  4. AGG     — groupBy(user).count() naive vs salted_count: for
               map-side-combinable aggregates partial aggregation
               already collapses the hot key per input partition, so
               BOTH are bounded — recorded to keep the salting story
               honest about when it is and is not needed.

Usage: python tools/skew_probe.py [--frac 0.2] [--n 10000000]
Writes nothing outside _testdata/sf-skew; prints a summary block to
paste into SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F


def timed(fn):
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    args = list(sys.argv[1:])
    frac = 0.2
    n = 10_000_000
    if "--frac" in args:
        j = args.index("--frac")
        frac = float(args[j + 1])
    if "--n" in args:
        j = args.index("--n")
        n = int(args[j + 1])

    from rag_pipelines_spark.session import get_spark
    from tools.gen_sf import gen_events

    out = os.path.join(ROOT, "_testdata", "sf-skew")
    spark = get_spark("skew-probe")
    n_users = max(n // 667, 1)  # keep the driver's ~667 events/user density
    gen_events(spark, n, n_users, hot_user_frac=frac).write.mode(
        "overwrite"
    ).parquet(f"{out}/events.parquet")

    from rag_pipelines_spark.io import table

    e = table(spark, out, "events")

    # 1. AUDIT — the exact heavy-hitter count (q_heavy_hitters shape)
    counts = e.groupBy("user_id").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.desc("n")).limit(3).collect()
    med = counts.approxQuantile("n", [0.5], 0.01)[0]
    print(f"AUDIT top users: {[(r.user_id, r.n) for r in top]}, median n={med:.0f}")

    # 2. HISTO — task-input rows for a user_id hash exchange, 32 partitions
    part_rows = (
        e.repartition(32, "user_id")
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    sizes = sorted(r.rows for r in part_rows)
    print(
        f"HISTO partition rows: max={sizes[-1]}, p50={sizes[len(sizes) // 2]}, "
        f"min={sizes[0]} (max/p50 = {sizes[-1] / max(sizes[len(sizes) // 2], 1):.1f}x)"
    )

    # 2b. HISTO-SALTED — the same exchange on (user_id, salt): the row
    # histogram a salted shuffle produces. Rows, not seconds, so the
    # before/after transfers to any cluster size.
    salted_rows = (
        e.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(8)))
        .repartition(32, "user_id", "_salt")
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    ssize = sorted(r.rows for r in salted_rows)
    print(
        f"HISTO-SALTED (8 salts) partition rows: max={ssize[-1]}, "
        f"p50={ssize[len(ssize) // 2]}, min={ssize[0]} "
        f"(max/p50 = {ssize[-1] / max(ssize[len(ssize) // 2], 1):.1f}x)"
    )

    # 3. JOIN — skewed SMJ with AQE skew split off/on + explicit salting.
    # Per-user dim; > broadcast threshold is forced off so the join is SMJ.
    dim = counts.select("user_id", (F.col("n") % 7).alias("segment"))
    dim.write.mode("overwrite").parquet(f"{out}/dim.parquet")
    dimr = spark.read.parquet(f"{out}/dim.parquet")

    def run_join():
        e.join(dimr.hint("merge"), "user_id").select(
            F.sum(F.col("value") * (F.col("segment") + 1)).alias("x")
        ).write.format("noop").mode("overwrite").save()

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t_off = min(timed(run_join) for _ in range(2))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # default thresholds need 256MB partitions; drop them so the local-mode
    # hot partition qualifies exactly like a 100x one would on a cluster.
    # Keep the advisory target well above the healthy-partition size —
    # an earlier probe run set both to 8m and the split shattered the
    # healthy partitions too (AQE-on measured SLOWER than AQE-off);
    # the skew knob must only ever bite the outlier.
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    t_on = min(timed(run_join) for _ in range(2))

    from rag_pipelines_spark.operators.skew import replicated_skew_join

    def run_salted_join():
        replicated_skew_join(e, dimr, "user_id", salt_buckets=8).select(
            F.sum(F.col("value") * (F.col("segment") + 1)).alias("x")
        ).write.format("noop").mode("overwrite").save()

    t_salt = min(timed(run_salted_join) for _ in range(2))
    print(
        f"JOIN SMJ wall: aqe_skew_off={t_off:.2f}s aqe_skew_on={t_on:.2f}s "
        f"replicated_salted={t_salt:.2f}s"
    )

    # 4. AGG — combinable aggregate: naive vs salted (both partial-agg bound)
    from rag_pipelines_spark.operators.skew import salted_count

    def run_naive():
        e.groupBy("user_id").agg(F.count("*").alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()

    def run_salted():
        salted_count(e, ["user_id"], salt_buckets=16).write.format("noop").mode(
            "overwrite"
        ).save()

    t_naive = min(timed(run_naive) for _ in range(2))
    t_salted = min(timed(run_salted) for _ in range(2))
    print(f"AGG count-per-user wall: naive={t_naive:.2f}s salted={t_salted:.2f}s")


if __name__ == "__main__":
    main()
