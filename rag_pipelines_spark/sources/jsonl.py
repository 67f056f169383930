"""JSONL source/sink (S5/S9).

JSON Lines is Spark's native JSON encoding: `df.write.json` emits one
compact object per line per partition file; `spark.read.json` with an
explicit schema skips inference (never infer in production — it's a full
extra pass). ref: fda…/combine_json_to_jsonl.py:240-263;
pdf…/combine_json_to_jsonl.py:143-150.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed JSONL sink (one object per line, non-ASCII preserved —
    Spark writes UTF-8 unescaped, matching ensure_ascii=False)."""
    df.write.mode(mode).json(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """JSONL scan with explicit schema; multiLine=False (true JSONL)."""
    return spark.read.schema(schema).json(path)
