"""Bloom-prefiltered anti-join (operators/bloomfilter.py): exactness vs the
plain anti-join, no-false-negative guarantee under an undersized filter,
NULL-key semantics, and the map-side prune actually pruning."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rag_pipelines_spark.operators.bloomfilter import (
    bloom_anti_join,
    bloom_build,
    bloom_probe,
)


def _ids(df):
    return sorted(r[0] for r in df.collect())


def test_matches_plain_anti_join(spark):
    new = spark.range(0, 1000).select(
        F.col("id"), F.concat(F.lit("k"), (F.col("id") % 700).cast("string")).alias("k")
    )
    master = spark.range(0, 400).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k")
    )
    got = bloom_anti_join(new, master, "k")
    want = new.join(master, "k", "left_anti")
    assert _ids(got.select("id")) == _ids(want.select("id"))
    assert sorted(got.columns) == sorted(new.columns)


@pytest.mark.parametrize("m_bits", [64, 256])
def test_undersized_filter_stays_exact(spark, m_bits):
    """An m far too small for the key count saturates the bitmap (fpp -> 1):
    pruning vanishes but the verify join keeps the result exact."""
    new = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    master = spark.range(0, 250).select(F.col("id").cast("string").alias("k"))
    got = bloom_anti_join(new, master, "k", m_bits=m_bits, k=3)
    want = new.join(master, "k", "left_anti")
    assert _ids(got) == _ids(want)


def test_null_keys_are_kept(spark):
    new = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, k string"
    )
    master = spark.createDataFrame([("a",), (None,)], "k string")
    got = bloom_anti_join(new, master, "k")
    # left_anti semantics: NULL never equals anything -> rows 2 and 3 kept
    assert _ids(got.select("id")) == [2, 3]


def test_probe_prunes_map_side(spark):
    """With a well-sized m, disjoint new keys are overwhelmingly resolved
    by the bloom probe alone (no join input), and true dups all survive it
    (no false negatives, the property the exactness argument rests on)."""
    m_bits, k = 1 << 20, 5
    master = spark.range(0, 2000).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("key")
    )
    dups = master.limit(100)
    fresh = spark.range(0, 2000).select(
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("key")
    )
    new = fresh.unionByName(dups)
    words = bloom_build(master, "key", m_bits, k)
    probed = bloom_probe(new, words, "key", m_bits, k)
    maybe_keys = {r[0] for r in probed.filter("_bfmaybe").select("key").collect()}
    dup_keys = {r[0] for r in dups.collect()}
    assert dup_keys <= maybe_keys  # zero false negatives
    # fpp at 2000 keys in 2^20 bits is ~1e-9: essentially nothing but the
    # true dups should reach the verify join (allow a tiny slack anyway)
    assert len(maybe_keys - dup_keys) <= 2


def test_bloom_state_param_mismatch_refused(spark, tmp_path):
    from rag_pipelines_spark.operators.bloomfilter import (
        bloom_state_params,
        merge_bloom,
        read_bloom_words,
    )

    st = str(tmp_path / "bloomstate")
    keys = spark.range(0, 300).select(F.col("id").cast("string").alias("fp"))
    merge_bloom(spark, keys, st, key="fp", m_bits=1 << 14, k=4, epoch=0)
    assert bloom_state_params(read_bloom_words(spark, st)) == (1 << 14, 4)
    # mixed position spaces would cause probe false negatives -> refused
    with pytest.raises(ValueError, match="refusing to merge"):
        merge_bloom(spark, keys, st, key="fp", m_bits=1 << 16, k=4, epoch=1)
    with pytest.raises(ValueError, match="refusing to merge"):
        merge_bloom(spark, keys, st, key="fp", m_bits=1 << 14, k=5, epoch=1)
    # matching params accrete == one-shot (bit_or exactness)
    more = spark.range(300, 800).select(F.col("id").cast("string").alias("fp"))
    merge_bloom(spark, more, st, key="fp", m_bits=1 << 14, k=4, epoch=1)
    got = sorted(
        map(tuple, read_bloom_words(spark, st).select("w", "bits").collect())
    )
    want = sorted(
        map(
            tuple,
            bloom_build(keys.unionByName(more), "fp", 1 << 14, 4).collect(),
        )
    )
    assert got == want


def test_bloom_empty_first_fold_pins_params(spark, tmp_path):
    """An empty first fold leaves no rows for bloom_state_params to read,
    yet it still pins (m_bits, k): a fold with other params is refused."""
    from rag_pipelines_spark.operators.bloomfilter import merge_bloom

    st = str(tmp_path / "bloom_empty_first")
    none = spark.range(0).select(F.col("id").cast("string").alias("fp"))
    merge_bloom(spark, none, st, key="fp", m_bits=1 << 14, k=4, epoch=0)
    keys = spark.range(0, 300).select(F.col("id").cast("string").alias("fp"))
    with pytest.raises(ValueError, match="refusing to merge"):
        merge_bloom(spark, keys, st, key="fp", m_bits=1 << 16, k=5, epoch=1)
