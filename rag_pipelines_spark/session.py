"""SparkSession builder tuned for both local testing and cluster scale.

Local mode is a single JVM with N executor threads; the settings below are
chosen so the *same* logical plans we test here behave well on a real
cluster: AQE handles runtime coalescing and skew joins, shuffle partition
count tracks core count instead of the 200 default, Arrow accelerates every
pandas_udf / toPandas boundary, and the session timezone is pinned to UTC so
timestamp semantics match the DuckDB oracle (naive-UTC parquet timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# Scratch space for state, checkpoints and sinks: `.scratch` beside the
# package, so each checkout writes into its own tree.
SCRATCH_ROOT = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", ".scratch")
)


def _scratch_local_dir() -> str:
    path = os.path.join(SCRATCH_ROOT, "spark-local")
    os.makedirs(path, exist_ok=True)
    return path


def get_spark(
    app_name: str = "rag-pipelines-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    AQE is on so that at 100 TB the runtime re-plans: small shuffle
    partitions get coalesced, skewed join partitions get split, and
    sort-merge joins downgrade to broadcast when a side turns out small.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffled-hash over sort-merge when the per-partition build side
        # fits (guide §3.1/§9): hash build skips both sort passes. r11
        # A/B at sf1 on the join-heavy set (tpch q3/q5/q9/q21,
        # q_join_inner, q_near_dedup): 22.95 -> 17.72 s at 32 cores
        # (1.30x) and 20.43 -> 17.05 s at 8 cores (1.20x), every query
        # >= 1.0x. The AQE threshold bounds the runtime SMJ->SHJ rewrite
        # to partitions whose build side is < 256 MB (with AQE
        # coalescing targeting ~64 MB partitions, an OOM-safe margin).
        # The flag also steers the STATIC planner, which picks SHJ
        # whenever stats say the build side fits a local hash map — the
        # 256m AQE bound does not apply there, so a misestimated build
        # side on a skewed or stats-poor source can OOM an executor. A
        # cluster posture with tighter build-side memory turns the flag
        # back on or lowers the threshold here.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # fixture `events.ts` is parquet TIMESTAMP(NANOS): read as long,
        # converted to micros in io.table (Spark has no ns timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # shuffle/spill scratch OUTSIDE /tmp: this host reaps stale /tmp
        # entries, and a long differential run lost in-flight
        # temp_shuffle files to it (observed: executor FileNotFound on
        # its own blockmgr dir ~20 min into an sf1 sweep). On a cluster
        # this is the same knob you point at the fast local SSD array.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS") or _scratch_local_dir(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
