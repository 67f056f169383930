"""JSONL source/sink (S5/S9), per-record layout (S7) and glob scan (S8).

JSON Lines is Spark's native JSON encoding: `df.write.json` emits one
compact object per line per partition file; `spark.read.json` with an
explicit schema skips inference (never infer in production — it's a full
extra pass). ref: fda…/combine_json_to_jsonl.py:240-263;
pdf…/combine_json_to_jsonl.py:143-150.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed JSONL sink (one object per line, non-ASCII preserved —
    Spark writes UTF-8 unescaped, matching ensure_ascii=False)."""
    df.write.mode(mode).json(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """JSONL scan with explicit schema; multiLine=False (true JSONL)."""
    return spark.read.schema(schema).json(path)


def write_per_record_json(df: DataFrame, path: str, key_col: str = "rag_id") -> None:
    """S7 parity: one directory per record key (the reference's one file per
    RAG_ID, json_split_and_clean.py:315-320). At 100 TB per-record files are
    an anti-pattern — partitionBy gives the same key-addressable layout with
    distributed writes; prefer plain JSONL + a key column for new designs.
    """
    df.write.mode("overwrite").partitionBy(key_col).json(path)


def read_jsonl_glob(
    spark: SparkSession,
    pattern: str,
    schema: StructType | str,
    with_provenance: bool = True,
) -> DataFrame:
    """S8: recursive glob scan with per-row file provenance.

    The reference globs sorted file lists (fda…/combine_json_to_jsonl.py:
    126-151); Spark's reader handles the glob and `input_file_name()`
    replaces the manual bookkeeping (deterministic content, not order —
    order is a sort key downstream, never an input property).
    """
    df = spark.read.schema(schema).json(pattern)
    if with_provenance:
        df = df.withColumn("source_file", F.input_file_name())
    return df
