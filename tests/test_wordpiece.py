"""WordPiece greedy segmentation (operators/wordpiece.py): equivalence
to a pure-Python longest-match-first reference (hypothesis), coverage
totality, vocabulary determinism, and the fold/scan invariants."""

from __future__ import annotations

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.wordpiece import (
    piece_candidates,
    wordpiece_encode_counts,
    wordpiece_segment,
    wordpiece_vocab,
)
from tests.conftest import SF_DIR_SMOKE


def _py_vocab(words: dict[str, int], vocab_size: int,
              max_piece_len: int = 4) -> list[str]:
    counts: dict[str, int] = {}
    for w, f in words.items():
        for s in range(len(w)):
            for l in range(2, max_piece_len + 1):
                if s + l <= len(w):
                    p = w[s:s + l]
                    counts[p] = counts.get(p, 0) + f
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [p for p, _ in ranked[:vocab_size]]


def _py_segment(word: str, vocab: set[str],
                max_piece_len: int = 4) -> list[str]:
    out, pos = [], 0
    while pos < len(word):
        step = 1
        for l in range(max_piece_len, 1, -1):  # longest first
            if word[pos:pos + l] in vocab and pos + l <= len(word):
                step = l
                break
        out.append(word[pos:pos + step])
        pos += step
    return out


def _words_df(spark, words: dict[str, int]):
    return spark.createDataFrame(
        list(words.items()), "word STRING, freq LONG"
    )


@pytest.mark.parametrize("vocab_size", [5, 50])
def test_segment_matches_python_reference(spark, vocab_size):
    words = {
        "internationalization": 3,
        "internal": 10,
        "nation": 7,
        "national": 5,
        "ization": 2,
        "ion": 9,
        "a": 4,
        "zz": 1,
    }
    df = _words_df(spark, words)
    vocab = wordpiece_vocab(df, vocab_size=vocab_size)
    vset = set(_py_vocab(words, vocab_size))
    assert {r.piece for r in vocab.collect()} == vset
    got = {
        r.word: list(r.pieces)
        for r in wordpiece_segment(df, vocab).collect()
    }
    for w in words:
        assert got[w] == _py_segment(w, vset), w


@settings(max_examples=12, deadline=None)
@given(
    st.dictionaries(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=12),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=10,
    )
)
def test_segment_property_random_words(spark, words):
    """Any word set: Spark scan == Python scan under the SAME learned
    vocabulary, and concatenating pieces reconstructs the word."""
    df = _words_df(spark, words)
    vocab = wordpiece_vocab(df, vocab_size=8)
    vset = {r.piece for r in vocab.collect()}
    for r in wordpiece_segment(df, vocab).collect():
        assert list(r.pieces) == _py_segment(r.word, vset), r.word
        assert "".join(r.pieces) == r.word


def test_encode_counts_weighted_by_freq(spark):
    words = {"abab": 3, "ab": 2}
    df = _words_df(spark, words)
    vocab = wordpiece_vocab(df, vocab_size=1)  # top piece: 'ab' (cnt 8)
    rows = {
        r.piece: (r.n_words, r.cnt)
        for r in wordpiece_encode_counts(df, vocab).collect()
    }
    # 'abab' -> [ab, ab] (freq 3, two emissions), 'ab' -> [ab] (freq 2)
    assert rows == {"ab": (2, 3 * 2 + 2 * 1)}


def test_candidates_bounded(spark):
    """Candidate explosion is <= len * (max_piece_len - 1) rows per word
    — the vocabulary-sized-frame contract."""
    df = _words_df(spark, {"abcdefgh": 1})
    n = piece_candidates(df, max_piece_len=4).count()
    assert n <= 8 * 3
    # exact: starts with room for len 2,3,4 = 7+6+5
    assert n == 18


def test_fertility_at_least_one(spark):
    """Every word emits >= 1 piece, so per-lang fertility >= 1 and
    n_pieces >= n_words."""
    from rag_pipelines_spark.queries.bpe import q_tokenizer_fertility

    rows = q_tokenizer_fertility(spark, SF_DIR_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_pieces >= r.n_words
        assert r.fertility >= 1.0
