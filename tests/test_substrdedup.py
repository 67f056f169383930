"""Exact duplicated-substring dedup (operators/substrdedup.py): equality
with an in-Python brute-force reference (hand cases + hypothesis random
corpora), span-merge adjacency semantics, keeper exemption, and edge
cases (short docs, fully-duplicated docs, within-doc repeats)."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rag_pipelines_spark.operators.substrdedup import (
    duplicated_ngram_spans,
    ngram_occurrences,
    substring_dedup,
)


# ---------------------------------------------------------------------------
# Brute-force reference (token-index semantics, identical rules)
# ---------------------------------------------------------------------------


def _occurrences(docs, n):
    occ, cnt = [], Counter()
    for i, text in docs:
        s = text.split(" ")
        for p in range(len(s) - n + 1):
            g = " ".join(s[p : p + n])
            occ.append((i, p, g))
            cnt[g] += 1
    return occ, cnt


def _runs(positions):
    """Maximal runs of a sorted position set -> [(start, end)]."""
    out, start, prev = [], None, None
    for q in sorted(positions):
        if start is None:
            start = prev = q
        elif q == prev + 1:
            prev = q
        else:
            out.append((start, prev))
            start = prev = q
    if start is not None:
        out.append((start, prev))
    return out


def brute_spans(docs, n, min_count):
    occ, cnt = _occurrences(docs, n)
    dup = {g for g, c in cnt.items() if c >= min_count}
    covered = {}
    for i, p, g in occ:
        if g in dup:
            covered.setdefault(i, set()).update(range(p, p + n))
    return sorted(
        (i, s, e, e - s + 1) for i, pos in covered.items() for s, e in _runs(pos)
    )


def brute_dedup(docs, n, min_count):
    occ, cnt = _occurrences(docs, n)
    dup = {g for g, c in cnt.items() if c >= min_count}
    keeper = {}
    for i, p, g in sorted(occ):
        if g in dup and g not in keeper:
            keeper[g] = (i, p)
    covered = {}
    for i, p, g in occ:
        if g in dup and keeper[g] != (i, p):
            covered.setdefault(i, set()).update(range(p, p + n))
    out = []
    for i, text in docs:
        toks = text.split(" ")
        cov = covered.get(i, set())
        out.append((i, " ".join(t for p, t in enumerate(toks) if p not in cov)))
    return sorted(out)


def _df(spark, docs):
    return spark.createDataFrame(docs, ["doc_id", "text"])


def _spark_spans(spark, docs, n, min_count):
    rows = duplicated_ngram_spans(
        _df(spark, docs), "doc_id", "text", n=n, min_count=min_count
    ).collect()
    return sorted((r.doc_id, r.span_start, r.span_end, r.span_len) for r in rows)


def _spark_dedup(spark, docs, n, min_count):
    rows = substring_dedup(
        _df(spark, docs), "doc_id", "text", n=n, min_count=min_count
    ).collect()
    return sorted((r.doc_id, r.clean_text) for r in rows)


# ---------------------------------------------------------------------------
# Hand cases
# ---------------------------------------------------------------------------

DOCS = [
    (0, "a b c d e x y z"),  # "a b c" repeated in doc 2 and within doc 3
    (1, "p q r s t u v w"),  # unique throughout
    (2, "m m a b c d n n"),  # contains the dup gram once
    (3, "a b c a b c d e"),  # within-doc repeat, overlapping coverage
    (4, "short doc"),  # < n tokens: contributes nothing
]


def test_spans_match_brute_force(spark):
    assert _spark_spans(spark, DOCS, 3, 2) == brute_spans(DOCS, 3, 2)


def test_dedup_matches_brute_force(spark):
    assert _spark_dedup(spark, DOCS, 3, 2) == brute_dedup(DOCS, 3, 2)


def test_keeper_survives_removal(spark):
    """The global first occurrence (doc 0 here) keeps its text; later
    occurrences lose the covered tokens."""
    got = dict(_spark_dedup(spark, DOCS, 3, 2))
    assert got[0] == "a b c d e x y z"
    assert "a b c" not in got[2]
    assert got[1] == "p q r s t u v w"
    assert got[4] == "short doc"


def test_fully_duplicated_doc_empties(spark):
    docs = [(0, "a b c d"), (1, "a b c d")]
    got = dict(_spark_dedup(spark, docs, 2, 2))
    assert got[0] == "a b c d"  # keeper occurrences all in doc 0
    assert got[1] == ""


def test_null_text_returns_empty_string(spark):
    """A NULL-text document comes back as '' (the DuckDB oracle's
    answer), not NULL, alongside deduped neighbours."""
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, None), (2, "a b c d")], "doc_id INT, text STRING"
    )
    got = {
        r.doc_id: r.clean_text
        for r in substring_dedup(df, "doc_id", "text", n=2).collect()
    }
    assert got == {0: "a b c d", 1: "", 2: ""}


def test_adjacent_spans_merge(spark):
    """Two dup grams whose coverage is contiguous-but-not-overlapping in
    the probe doc merge into one maximal span."""
    docs = [
        (0, "a b x c d y"),  # keepers
        (1, "a b c d z z"),  # "a b" at 0-1, "c d" at 2-3: one run 0..3
    ]
    spans = _spark_spans(spark, docs, 2, 2)
    assert (1, 0, 3, 4) in spans
    assert spans == brute_spans(docs, 2, 2)


def test_min_count_three(spark):
    docs = [(0, "a b c"), (1, "a b d"), (2, "a b e")]
    assert _spark_spans(spark, docs, 2, 3) == brute_spans(docs, 2, 3)
    assert brute_spans(docs, 2, 3) == [(0, 0, 1, 2), (1, 0, 1, 2), (2, 0, 1, 2)]


@pytest.mark.parametrize("n", [1, 3])
def test_ngram_occurrences_match_python_reference(spark, n):
    """Every (id, pos, md5(' '.join(toks[pos:pos+n]))) and nothing else:
    NULL text, '' and docs shorter than n give no rows ('' is one empty
    token, so it gives one gram at n=1); a repeated gram gives one row
    per position."""
    docs = [
        (0, None),
        (1, ""),
        (2, "a b"),  # fewer than 3 tokens
        (3, "a b c"),  # exactly 3 tokens
        (4, "a b c a b c a"),  # repeats the gram "a b c"
        (5, "x  y"),  # an empty token between two spaces
    ]
    got = sorted(
        (r.id, r.pos, r.gh)
        for r in ngram_occurrences(
            spark.createDataFrame(docs, "doc_id INT, text STRING"), "doc_id", "text", n
        ).collect()
    )
    want = sorted(
        (i, p, hashlib.md5(" ".join(toks[p : p + n]).encode()).hexdigest())
        for i, text in docs
        if text is not None
        for toks in [text.split(" ")]
        for p in range(len(toks) - n + 1)
    )
    assert got == want
    if n == 3:
        assert [p for i, p, _ in got if i == 4] == [0, 1, 2, 3, 4]


# ---------------------------------------------------------------------------
# Property: operator == brute force on random corpora
# ---------------------------------------------------------------------------

_tok = st.sampled_from(["a", "b", "c", "d", "e"])
_doc = st.lists(_tok, min_size=0, max_size=16).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=8).map(
    lambda ds: [(i, d) for i, d in enumerate(ds)]
)


@settings(max_examples=15, deadline=None)
@given(docs=_corpus, n=st.integers(2, 4))
def test_property_matches_brute_force(spark, docs, n):
    assert _spark_spans(spark, docs, n, 2) == brute_spans(docs, n, 2)
    assert _spark_dedup(spark, docs, n, 2) == brute_dedup(docs, n, 2)


# ---------------------------------------------------------------------------
# Bloom front door: exactness + pruning (VERDICT r6 item 8)
# ---------------------------------------------------------------------------


def test_bloom_front_door_exact_and_prunes(spark):
    """The prefiltered serve join must produce the identical hit set
    (bloom = no false negatives) while demonstrably pruning the batch
    side (definitely-new grams skip the state join)."""
    from pyspark.sql import functions as F

    from rag_pipelines_spark.operators.substrdedup import (
        bloom_front_door,
        ngram_occurrences,
    )
    from tests.conftest import SF_DIR

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    occ = ngram_occurrences(d, "doc_id", "text", 8)
    dup = (
        occ.groupBy("gh").agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2).select("gh")
    )
    batch = occ.filter(F.col("id") % 3 == 2)
    n_batch = batch.count()
    filtered = bloom_front_door(batch, dup)
    n_filtered = filtered.count()
    plain_hits = sorted(
        (r.id, r.pos) for r in batch.join(dup, "gh").collect()
    )
    bloom_hits = sorted(
        (r.id, r.pos) for r in filtered.join(dup, "gh").collect()
    )
    assert bloom_hits == plain_hits            # exactness
    assert n_filtered < n_batch                # real pruning
    assert n_filtered >= len(plain_hits)       # never below the true hits
