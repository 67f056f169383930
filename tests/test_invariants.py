"""Property tests: hash stability vs a local oracle, dedup invariants,
simhash behavior (SURVEY §5.4)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from rag_pipelines_spark.functions.text import fingerprint_key
from rag_pipelines_spark.operators.dedup import exact_dedup, simhash64_df
from tests.conftest import SF_DIR_SMOKE


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("invariant-tests", shuffle_partitions=4)


def test_fingerprint_matches_local_md5_batch(spark):
    """fingerprint_key == md5(url) when url set, md5(title_date) otherwise —
    checked against hashlib on a generated batch. ref: fda_watcher.py:86-93."""
    rows = [
        ("https://x/1", "Title A", "01/15/2024"),
        ("", "Title B", "01/16/2024"),
        ("  ", "pad url stays", "01/17/2024"),  # whitespace url is non-empty
        ("https://x/2", "", ""),
        ("", "", ""),
    ]
    df = spark.createDataFrame(rows, ["url", "title", "date"])
    got = {
        (r["url"], r["title"], r["date"]): r["fp"]
        for r in df.withColumn("fp", fingerprint_key("url", "title", "date")).collect()
    }
    for url, title, date in rows:
        basis = url if url != "" else f"{title}_{date}"
        assert got[(url, title, date)] == hashlib.md5(basis.encode()).hexdigest()


def test_exact_dedup_invariants(spark):
    """|output| == |distinct keys|; representative = min(order_col);
    idempotent."""
    rows = [
        ("k1", 3, "c"),
        ("k1", 1, "a"),
        ("k1", 2, "b"),
        ("k2", 9, "z"),
        ("k3", 5, "m"),
        ("k3", 5, "m"),
    ]
    df = spark.createDataFrame(rows, ["key", "ord", "val"])
    out = exact_dedup(df, ["key"], "ord")
    got = {r["key"]: (r["ord"], r["val"]) for r in out.collect()}
    assert len(got) == 3
    assert got["k1"] == (1, "a")  # min-by, not arbitrary
    again = exact_dedup(out, ["key"], "ord")
    assert sorted(r["key"] for r in again.collect()) == sorted(got)


def test_exact_dedup_tie_breaking_deterministic(spark):
    """Duplicate order_col values per key: the winner is stable across
    partitionings and all columns come from the SAME row."""
    rows = [("k", 1, "a", 10), ("k", 1, "b", 20), ("k", 1, "c", 30)]
    winners = set()
    for parts in (1, 2, 3):
        df = spark.createDataFrame(rows, ["key", "ord", "val", "x"]).repartition(
            parts
        )
        out = exact_dedup(df, ["key"], "ord").collect()
        assert len(out) == 1
        r = out[0]
        # row-consistency: (val, x) must be one of the input pairings
        assert (r["val"], r["x"]) in {("a", 10), ("b", 20), ("c", 30)}
        winners.add((r["ord"], r["val"], r["x"]))
    assert len(winners) == 1, f"tie winner varied across partitionings: {winners}"


def test_word_shingles_short_doc_semantics(spark):
    """Docs with < n tokens yield ZERO shingles (end-exclusive range
    semantics, matching the DuckDB oracles) — not one partial shingle."""
    from rag_pipelines_spark.operators.dedup import word_shingles

    rows = [(1, "a b"), (2, "one"), (3, ""), (4, "a b c d")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select(
            "doc_id", word_shingles(F.split("text", " "), 3).alias("sh")
        ).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["a b c", "b c d"]
    # cross-check against the oracle-side expression on identical rows
    import duckdb

    duck = {
        doc_id: sorted(sh)
        for doc_id, sh in duckdb.sql(
            """
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(ws) - 1, 1)),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
            FROM (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM (VALUES (1,'a b'),(2,'one'),(3,''),(4,'a b c d'))
                       t(doc_id, text))
            """
        ).fetchall()
    }
    assert got == duck


def _py_band_keys(text, n_hashes=8, bands=4, k=3):
    """md5-min over the DISTINCT shingle set, then md5 of each band's
    concatenated signatures — the band-key scheme in plain Python."""
    toks = text.split(" ")
    shingles = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    if not shingles:
        return []

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    sig = [min(md5(f"{h}|{x}") for x in shingles) for h in range(n_hashes)]
    r = n_hashes // bands
    return [(b, md5("".join(sig[b * r : (b + 1) * r]))) for b in range(bands)]


def test_minhash_band_keys_default_path_equals_shingle_set_path(spark):
    """minhash_band_keys (every shingle occurrence, no per-doc distinct)
    gives the (id, band, bkey) rows of a Python md5-min over the distinct
    shingle set: a min over a multiset is the min over its set. Edge
    rows: NULL text, '', fewer than 3 tokens, exactly 3, and a doc that
    repeats one shingle; then the smoke corpus."""
    from rag_pipelines_spark.io import table
    from rag_pipelines_spark.operators.dedup import minhash_band_keys

    edge = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a b"), (3, "a a a"), (4, "a a a a a"),
         (5, "a b c a b c d")],
        "doc_id BIGINT, text STRING",
    )
    for df in (edge, table(spark, SF_DIR_SMOKE, "documents").select("doc_id", "text")):
        got = sorted(tuple(r) for r in minhash_band_keys(df, "doc_id", "text").collect())
        want = sorted(
            (r.doc_id, b, key)
            for r in df.collect()
            if r.text is not None
            for b, key in _py_band_keys(r.text)
        )
        assert got
        assert got == want
    # docs 3 and 4 share the one distinct shingle "a a a": same four keys
    keys = {}
    for r in minhash_band_keys(edge, "doc_id", "text").collect():
        keys.setdefault(r.doc_id, []).append((r.band, r.bkey))
    assert set(keys) == {3, 4, 5}
    assert sorted(keys[3]) == sorted(keys[4])


def test_simhash_stability_and_locality(spark):
    """Equal texts hash equal; a one-token change moves few bits; disjoint
    texts differ."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox jumps over the lazy cat again and again"),
        (4, "entirely different content about spark partitions and shuffles"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = {r["doc_id"]: r["simhash"] for r in simhash64_df(df, "doc_id", "text").collect()}
    assert sh[1] == sh[2]

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert 0 < hamming(sh[1], sh[3]) <= 16  # near-dup stays close
    assert hamming(sh[1], sh[4]) > hamming(sh[1], sh[3])  # unrelated is farther


def test_connected_components_hand_graph(spark):
    """Chains, a triangle, and isolated nodes resolve to min-id components."""
    from rag_pipelines_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    #  chain 0-1-2,  triangle 4-5-6 (+ redundant edge), pair 8-9; 3,7 isolated
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (5, 6), (4, 6), (9, 8)], ["src", "dst"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 4, 7: 7, 8: 8, 9: 8}


def test_connected_components_path_graph_bounded_rounds(spark):
    """A 1000-node path (worst-case diameter) must converge within the
    O(log n) round budget of the large-star/small-star alternation — plain
    min-label propagation would need 999 rounds and silently hit the cap."""
    from rag_pipelines_spark.operators.graph import connected_components

    n = 1000
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    out = connected_components(nodes, edges, max_iterations=25).collect()
    assert len(out) == n
    assert all(r["component"] == 0 for r in out)


def test_rolling_hash_is_order_sensitive(spark):
    """Same token bag, different order -> different fingerprint (the property
    that distinguishes q_rolling_hash from q_doc_fingerprint's sorted bag)."""
    from rag_pipelines_spark.registry import load_all

    import tempfile, os
    q = load_all()["q_rolling_hash"]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "")],
            ["doc_id", "text"],
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = {r["doc_id"]: r["fp"] for r in q.fn(spark, d).collect()}
    assert rows[1] != rows[2]  # order matters
    assert rows[3] == 0  # empty doc pinned to the fold's init value


def test_minhash_neardup_finds_planted_pairs(spark):
    """Every planted mutated doc (id + 1e12, collision-proof offset)
    should be bucketed with its source by at least one of the 4 bands;
    no self-pairs; high recall."""
    from rag_pipelines_spark.registry import load_all
    from tests.conftest import SF_DIR

    q = load_all()["q_minhash_neardup"]
    pairs = {(r["a_id"], r["b_id"]) for r in q.fn(spark, SF_DIR).collect()}
    assert all(a < b for a, b in pairs)
    planted = {p for p in pairs if p[1] - p[0] == 1000000000000}
    import pyspark.sql.functions as F
    from rag_pipelines_spark.queries._util import t

    n_sources = (
        t(spark, SF_DIR, "documents").filter(F.col("doc_id") % 10 == 0).count()
    )
    assert n_sources > 0
    assert len(planted) / n_sources >= 0.8  # tail mutation rarely flips a band


def test_near_dedup_pairs_exact_vs_brute_force(spark):
    """near_dedup_pairs precision is EXACT by construction (verification
    stage): every returned pair's inter/union must equal the brute-force
    distinct-3-shingle Jaccard, and no sub-threshold pair may survive.
    Identical duplicates (jaccard 1) agree on all bands, so recall on
    them is guaranteed, not probabilistic."""
    from rag_pipelines_spark.operators.dedup import near_dedup_pairs

    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "a completely different sentence about spark shuffles and parquet"),
        (3, "the quick brown fox jumps over the lazy dog again and again today"),
        (4, "the quick brown fox jumps over the lazy dog again and again soon"),
        (5, "short doc"),  # < 3 tokens of shingle room -> no signature
        (6, "spark shuffles and parquet files compress well in practice often"),
    ]
    df = spark.createDataFrame(base, ["doc_id", "text"])
    got = {
        (r["a_id"], r["b_id"]): (r["inter_size"], r["union_size"])
        for r in near_dedup_pairs(df, "doc_id", "text", 4, 5).collect()
    }

    def sh(text):
        ws = text.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    truth = {}
    for i, (a, ta) in enumerate(base):
        for b, tb in base[i + 1 :]:
            sa, sb = sh(ta), sh(tb)
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            union = len(sa | sb)
            truth[(a, b)] = (inter, union)
    # precision: every returned pair matches brute force and clears 4/5
    for pair, (inter, union) in got.items():
        assert truth[pair] == (inter, union)
        assert 5 * inter >= 4 * union
    # guaranteed recall on exact duplicates (all 4 bands equal)
    assert (1, 3) in got
    # near-miss (one word changed at the tail) is above 0.8 here: 10
    # shared of 12 union shingles -> 50 >= 48; with md5 hashes fixed,
    # band agreement is deterministic (verified: at least one of 4 agrees)
    assert (1, 4) in got and (3, 4) in got
    # sub-threshold pairs never survive verification
    for pair in got:
        assert 5 * truth[pair][0] >= 4 * truth[pair][1]
    assert (2, 6) not in got  # jaccard well under 0.8


def test_band_pair_chunk_split_equals_unsplit(spark):
    """The hot-bucket chunk split (bucket_cap) must produce EXACTLY the
    pair set of the unsplit expansion — within-chunk + cross-chunk pairs
    tile the bucket's full upper triangle. Drilled at caps that force
    1-wide, ragged, and exact-multiple chunkings, on buckets with ids
    shared across several (band, bkey) buckets so the final distinct()
    is exercised too."""
    from rag_pipelines_spark.operators.dedup import band_candidate_pairs

    rows = []
    # bucket A: 11 ids (ragged at cap 3/4), bucket B overlaps A's ids,
    # bucket C: exactly 8 ids (exact multiple at cap 4), singleton D
    rows += [(i, 0, "A") for i in range(11)]
    rows += [(i, 1, "B") for i in range(5, 16)]
    rows += [(i, 0, "C") for i in range(20, 28)]
    rows += [(99, 2, "D")]
    bands = spark.createDataFrame(rows, ["doc_id", "band", "bkey"])
    baseline = {
        (r.a_id, r.b_id)
        for r in band_candidate_pairs(bands, "doc_id", bucket_cap=10_000)
        .collect()
    }
    assert baseline  # sanity: the fixture produces pairs
    for cap in (1, 2, 3, 4, 8):
        got = {
            (r.a_id, r.b_id)
            for r in band_candidate_pairs(bands, "doc_id", bucket_cap=cap)
            .collect()
        }
        assert got == baseline, f"bucket_cap={cap} diverged"


def test_line_dedup_idempotent(spark):
    """Dedup of a deduped corpus is the identity: after one pass every
    line is corpus-unique, so a second pass must keep everything."""
    from pyspark.sql import functions as F

    from rag_pipelines_spark.io import table
    from rag_pipelines_spark.operators.dedup import line_dedup

    d = table(spark, SF_DIR_SMOKE, "documents")
    once = line_dedup(d, "doc_id", "text")
    twice = line_dedup(
        once.select("doc_id", F.col("clean_text").alias("text")), "doc_id", "text"
    )
    diff = (
        once.alias("a")
        .join(twice.alias("b"), "doc_id")
        .filter(F.col("a.clean_text") != F.col("b.clean_text"))
        .count()
    )
    assert diff == 0


def test_dec_to_dbl_cross_engine_bitwise(spark):
    """The split int+frac decimal->double conversion must agree with DuckDB
    bit-for-bit at magnitudes where the plain CAST diverges (>15 sig
    digits — the TPC-H Q1 sf1 finding). Sums are constructed so the exact
    decimal result carries 17-18 significant digits."""
    import duckdb

    from rag_pipelines_spark.queries._util import dec, dec_to_dbl, o_dec_to_dbl

    # 1e13-magnitude values with fractional entropy: the exact decimal sum
    # is ~5e16 at scale 2 (19 significant digits)
    rows = [(i, 10**13 + i * 997 + (i * 37 % 100) / 100.0) for i in range(5000)]
    sdf = spark.createDataFrame(rows, "k long, v double").agg(
        dec_to_dbl(F.sum(dec("v", 2, 18))).alias("s")
    )
    got = sdf.collect()[0].s

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    frag = o_dec_to_dbl("SUM(CAST(v AS DECIMAL(18,2)))")
    want = con.sql(f"SELECT {frag} AS s FROM t").fetchone()[0]
    assert got.hex() == want.hex(), (got.hex(), want.hex())
    # sanity: the magnitude really is in the dangerous class (>= 17 digits)
    assert got > 1e16
