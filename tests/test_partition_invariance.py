"""Partition-invariance property: every determinism claim in this repo
reduces to "the result is a pure function of the DATA, not of the physical
layout". At 100 TB the layout is never the same twice (speculative tasks,
AQE re-coalescing, skew splits, cluster resize), so any query whose output
value-hash depends on partition count is silently nondeterministic in
production — exactly the class of bug the decimal-sum / composite-min-by /
content-hash-split designs exist to prevent.

This test runs a representative slice of the oracle-checked registry twice
— once at the session default (32 shuffle partitions) and once at a
deliberately awkward prime (7) with a tiny maxPartitionBytes so scans,
shuffles, and AQE coalescing all land differently — and asserts the
canonical value-hash is identical.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from rag_pipelines_spark.registry import load_all

from tests.conftest import SF_DIR as SF
REG = load_all()

# One per determinism mechanism: decimal-sum aggregates (tpch q1/q5),
# scalar-subquery join-back equality (q15), min-by composite keeper
# (dedup), window + top-k tie-breaks (q3, window_rank), hash-based
# sampling/splits, near-dup pair generation (minhash banding), iterative
# graph convergence (dup_clusters), corpus-wide window dedup (line_dedup).
NAMES = [
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q15",
    "q_dedup_exact",
    "q_window_rank",
    "q_hash_sample",
    "q_minhash_neardup",
    "q_dup_clusters",
    "q_line_dedup",
    "q_embed_neardup",
]


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("partition-invariance-tests")


def vhash(pdf: pd.DataFrame) -> str:
    import datetime

    import numpy as np

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def cell(v):
        if v is None:
            return "<null>"
        if isinstance(v, (float, np.floating)):
            return "<null>" if pd.isna(v) else repr(float(v))
        if isinstance(v, (int, np.integer, bool)):
            return str(int(v))
        if isinstance(v, (pd.Timestamp, datetime.datetime)):
            return pd.Timestamp(v).isoformat()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        try:
            if pd.isna(v):
                return "<null>"
        except (TypeError, ValueError):
            pass
        return str(v)

    rows = sorted(tuple(cell(v) for v in r) for r in pdf.itertuples(index=False))
    return hashlib.md5(repr(rows).encode()).hexdigest()


@pytest.mark.parametrize("name", NAMES)
def test_partition_invariant(spark, name):
    baseline = vhash(REG[name].fn(spark, SF).toPandas())
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    old_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        skewed = vhash(REG[name].fn(spark, SF).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_bytes)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)
    assert skewed == baseline, f"{name} output depends on physical layout"
