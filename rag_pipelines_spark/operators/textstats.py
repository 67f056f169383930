"""Text analytics operators (north star §2.11): token counts, quality
ratios and the fixed-size chunker.

All per-row JVM expressions — no shuffle, safe at any scale.
The ratios feed the pretraining quality filter (plans/pretraining.py);
`char_chunks` is the body of the oracle-checked `q_chunking`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# whitespace tokens (reference-style split)
WORD_SPLIT_RE = r"\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def whitespace_token_count(col: Column | str) -> Column:
    """Token count under whitespace splitting."""
    return F.size(F.split(F.trim(_c(col)), WORD_SPLIT_RE))


def punct_ratio(col: Column | str) -> Column:
    c = _c(col)
    return (
        (F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))).cast("double")
        / F.length(c)
    )


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in stopwords])
    toks = F.split(F.lower(_c(col)), WORD_SPLIT_RE)
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).cast(
        "double"
    ) / F.size(toks)


def char_chunks(df: DataFrame, id_col: str, text_col: str, size: int = 100,
                stride: int = 80) -> DataFrame:
    """Fixed-size overlapping chunks as rows (id, chunk_idx bigint, chunk).

    Overlap = size - stride. Chunk i is substring(text, 1 + i*stride,
    size) for i in 0..floor((length - 1) / stride). NULL text explodes
    no rows; empty text gives floor(-1/stride) = -1, so sequence(0, -1)
    is the descending [0, -1] — both of its substrings are '', and the
    empty-chunk filter drops them."""
    n_chunks = F.floor((F.length(text_col) - 1) / stride).cast("int")
    exploded = df.select(
        id_col,
        text_col,
        F.explode(F.sequence(F.lit(0), n_chunks)).alias("i"),
    )
    out = exploded.select(
        id_col,
        F.col("i").cast("bigint").alias("chunk_idx"),
        F.expr(f"substring(`{text_col}`, 1 + i * {stride}, {size})").alias("chunk"),
    )
    return out.filter(F.col("chunk") != "")
