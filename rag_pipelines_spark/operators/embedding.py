"""Document embedding generation (north star: MLlib for embeddings/chunking).

The reference repo prepares documents *for* embedding (clean → split →
JSONL, README.md:1-14) but never embeds; this module closes that gap with
one generator — a unit-L2-norm vector per doc:

`hashed_bow_sparse` / `hashed_bow_embedding` — hashed bag-of-words, pure
JVM column expressions: token → md5-prefix bucket → per-bucket counts →
L2 normalize → (sparse rows | dense `array<double>`). The bucket hash is
`conv(substring(md5(tok),1,8),16,10) % dim`, chosen because DuckDB
computes the identical value (`('0x'||…)::BIGINT`), so the sparse form is
hash-checked by the oracle (`q_embed_generate`).

Scale: one shuffle on (id, bucket) with map-side partial counts; otherwise
embarrassingly parallel, nothing touches the driver. The normalized weight
`cnt / sqrt(sum(cnt²))` divides exact integers, so the doubles are bitwise
deterministic across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tokens(text_col) -> "F.Column":
    """ASCII-alnum tokenizer (lowercase, split on non-[a-z0-9] runs, drop
    empties) — same semantics in Java regex and DuckDB's RE2, and tokens
    are pure ASCII so md5 bytes agree too."""
    arr = F.split(F.lower(text_col), "[^a-z0-9]+")
    return F.filter(arr, lambda x: x != F.lit(""))


def token_bucket(tok, dim: int) -> "F.Column":
    """Deterministic hash bucket in [0, dim): first 8 md5 hex chars as int."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % dim


def hashed_bow_sparse(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", dim: int = 64
) -> DataFrame:
    """Sparse normalized hashed-BoW: one row per (id, bucket) with the
    L2-normalized term weight. The scale-native representation — dense
    arrays only materialize where a consumer needs fixed-width vectors."""
    counts = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .select(id_col, token_bucket(F.col("tok"), dim).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    sumsq = F.sum(F.col("cnt") * F.col("cnt")).over(Window.partitionBy(id_col))
    return counts.select(
        id_col,
        "bucket",
        (F.col("cnt").cast("double") / F.sqrt(sumsq.cast("double"))).alias("weight"),
    )


def hashed_bow_embedding(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", dim: int = 64
) -> DataFrame:
    """Dense unit-norm `array<double>` per document (docs with zero tokens
    produce no row — there is nothing to normalize)."""
    sparse = hashed_bow_sparse(df, id_col, text_col, dim)
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.try_element_at(F.col("_m"), i.cast("long")), F.lit(0.0)),
    )
    return (
        sparse.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "weight"))).alias("_m"))
        .select(id_col, dense.alias("embedding"))
    )
