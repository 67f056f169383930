"""Text analytics operators (north star §2.11): token counts, quality
ratios, word n-grams and the fixed-size chunker.

All per-row JVM expressions — no shuffle, safe at any scale.
The ratios feed the pretraining quality filter (plans/pretraining.py);
`word_ngrams` is the one n-gram enumerator of every dedup,
decontamination, DSIR and text-statistics stage; `char_chunks` is the
body of the oracle-checked `q_chunking`.
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


def word_ngrams(df: DataFrame, toks: Column | str, n: int, *keep: str) -> DataFrame:
    """(*keep, pos, gram) — one row per n-token window of the token-array
    column `toks`: pos is the window's 0-based start, gram its tokens
    joined with single spaces. Fewer than n tokens, or NULL, gives no
    rows; a repeated gram gives one row per position. The caller owns
    the tokenization (split pattern, lowercasing, empty-token policy).

    Positions-explode (SCALE.md "Explode discipline"): the generator
    child is the cheap int `sequence(0, greatest(size - n, 0))` and the
    gram string is assembled AFTER the Generate from the once-split
    array. Exploding a gram-string array instead lets
    InferFiltersFromGenerate clone the whole string chain into the
    scan's DataFilters, where it runs interpreted (measured ~8 s extra
    on q_decontaminate at sf0.1). The `pos <= size - n` filter sits
    after the Generate too: a size filter before it is pushed below the
    projection and splits every document twice. `concat_ws`, unlike
    `array_join`, is non-nullable, so a join on `gram` infers no
    `isnotnull(gram)` filter that would assemble every gram twice.
    """
    ws = df.select(*keep, _c(toks).alias("_ws"))
    last = F.size("_ws") - n
    return (
        ws.select(
            *keep, "_ws",
            F.explode(F.sequence(F.lit(0), F.greatest(last, F.lit(0)))).alias("pos"),
        )
        .filter(F.col("pos") <= last)
        .select(
            *keep, "pos",
            F.concat_ws(" ", F.slice("_ws", F.col("pos") + 1, n)).alias("gram"),
        )
    )


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
