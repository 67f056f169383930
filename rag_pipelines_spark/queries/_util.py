"""Shared helpers for oracle-checked queries.

Determinism contract: any float that reaches a query's output must be
bit-identical between Spark and DuckDB regardless of row/partition order.
The trick used throughout: aggregate through *exact decimals* (associative
and order-independent), cast the final value to double. Per-row scalar
double math (products, divisions of identical inputs) is IEEE-deterministic
already and needs no special handling.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rag_pipelines_spark.io import table
from rag_pipelines_spark.registry import REGISTRY, register


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return table(spark, sf_dir, name)


def dec(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Cast to an exact decimal for order-independent aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dec_to_dbl(s: Column) -> Column:
    """Bit-reproducible decimal -> double.

    A plain CAST(decimal AS DOUBLE) diverges between engines once the
    value carries >15 significant digits: DuckDB converts int128 storage
    to double FIRST and divides by 10^scale SECOND (two roundings), while
    Java's BigDecimal.doubleValue rounds once — observed as a 1-ULP
    mismatch on TPC-H Q1's sum_charge at sf1 (17 digits). Splitting into
    integer + fraction makes each part exactly representable (integer
    part < 2^53, fraction numerator < 10^scale), so BOTH engines perform
    exactly one rounding per part and the final addition is exact-input
    IEEE — identical bits. Mirror: o_dec_to_dbl.
    """
    i = F.floor(s)
    return i.cast("double") + (s - i).cast("double")


def dsum(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Order-independent SUM of a double column, returned as double."""
    return dec_to_dbl(F.sum(dec(col, scale, precision)))


def davg(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided in double."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale, precision) / F.count(c)


# DuckDB-side fragments mirroring the helpers above.
def o_dec_to_dbl(sum_expr: str) -> str:
    """Mirror of dec_to_dbl (the aggregate is named twice; exact both
    times, so evaluation count can't change the value)."""
    return (
        f"(CAST(FLOOR({sum_expr}) AS DOUBLE)"
        f" + CAST({sum_expr} - FLOOR({sum_expr}) AS DOUBLE))"
    )


def o_dsum(expr: str, scale: int = 2, precision: int = 18) -> str:
    return o_dec_to_dbl(f"SUM(CAST({expr} AS DECIMAL({precision},{scale})))")


def o_davg(expr: str, scale: int = 2, precision: int = 18) -> str:
    return f"({o_dsum(expr, scale, precision)} / COUNT({expr}))"


def md5_long_digest(*cols: Column) -> Column:
    """60-bit row digest: first 15 md5 hex nibbles of the '|'-joined
    string forms, as a long. Engine-portable (md5 is md5; 15 nibbles fit
    a signed 64-bit exactly) and XOR-safe — the checksum-twin pattern
    aggregates these with bit_xor for an order-insensitive, overflow-free
    signature of an unbounded row set. Mirror: o_md5_long_digest.
    """
    return F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10).cast(
        "long"
    )


def o_md5_long_digest(*exprs: str) -> str:
    """Mirror of md5_long_digest over string-valued SQL expressions."""
    joined = " || '|' || ".join(exprs)
    return f"CAST(concat('0x', substr(md5({joined}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Checksum twins: `<base>_checksum` reduces a data-sized result to one row
# per group — count(*), optional integer sums, and bit_xor of a
# md5_long_digest over each row's rendered fields — on BOTH engines from
# the base query's own fn and oracle, so the twin certifies exactly the
# dataflow the base runs.
# ---------------------------------------------------------------------------

_TS_FORMATS = {  # fixed width: bare casts trim trailing zeros per engine
    "us": ("yyyy-MM-dd HH:mm:ss.SSSSSS", "%Y-%m-%d %H:%M:%S.%f"),
    "s": ("yyyy-MM-dd HH:mm:ss", "%Y-%m-%d %H:%M:%S"),
}


@dataclass(frozen=True)
class Part:
    """One digest field: a base column rendered to the same string in
    both engines, with at most one rendering —

      dec="p,s"     exact decimal re-cast (a 2-decimal double renders
                    alike; raw double strings hang on each engine's
                    float formatter)
      ts="us"|"s"   fixed-width timestamp, micros or seconds
      scale=k       round(x * 10^k) as BIGINT (a round-k double goes back
                    to its exact integer; no float text at all)

    ``null`` is a sentinel for a NULL field, applied after the rendering:
    concat_ws skips NULLs in Spark while || nulls out in DuckDB.
    """

    col: str
    null: str | None = None
    dec: str | None = None
    ts: str | None = None
    scale: int | None = None

    def __post_init__(self):
        if sum(r is not None for r in (self.dec, self.ts, self.scale)) > 1:
            raise ValueError(f"Part({self.col!r}): at most one rendering")

    def value(self) -> Column:
        c = F.col(self.col)
        if self.dec is not None:
            return c.cast(f"decimal({self.dec})")
        if self.scale is not None:
            return F.round(c * 10.0**self.scale).cast("long")
        return c

    def o_value(self) -> str:
        if self.dec is not None:
            return f"CAST({self.col} AS DECIMAL({self.dec}))"
        if self.scale is not None:
            return f"CAST(round({self.col} * {10**self.scale}) AS BIGINT)"
        return self.col

    def text(self) -> Column:
        if self.ts is not None:
            s = F.date_format(self.col, _TS_FORMATS[self.ts][0])
        else:
            s = self.value().cast("string")
        return s if self.null is None else F.coalesce(s, F.lit(self.null))

    def o_text(self) -> str:
        if self.ts is not None:
            s = f"strftime({self.col}, '{_TS_FORMATS[self.ts][1]}')"
        else:
            s = f"CAST({self.o_value()} AS VARCHAR)"
        return s if self.null is None else f"COALESCE({s}, '{self.null}')"


@dataclass(frozen=True)
class Key:
    """Checksum group key over a base column: the column itself,
    ``col % shards AS shard``, or ``md5-prefix(col) % buckets AS bucket``."""

    col: str
    shards: int | None = None
    buckets: int | None = None

    @property
    def alias(self) -> str:
        return "shard" if self.shards else "bucket" if self.buckets else self.col

    def column(self) -> Column:
        c = F.col(self.col)
        if self.shards:
            c = c % self.shards
        elif self.buckets:
            c = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
            c = c.cast("long") % self.buckets
        return c.alias(self.alias)

    def o_expr(self) -> str:
        if self.shards:
            return f"{self.col} % {self.shards}"
        if self.buckets:
            md5 = f"md5(CAST({self.col} AS VARCHAR))"
            return (
                f"CAST(concat('0x', substr({md5}, 1, 15)) AS BIGINT)"
                f" % {self.buckets}"
            )
        return self.col


def checksum(
    base: DataFrame,
    key: Key | None,
    count: str,
    sums: dict[str, Part],
    parts: list[Part],
) -> DataFrame:
    """Spark reducer of a checksum twin: key, count, sums, xor_sig."""
    aggs = [
        F.count("*").alias(count),
        *(F.sum(p.value()).cast("long").alias(a) for a, p in sums.items()),
        F.bit_xor(md5_long_digest(*(p.text() for p in parts))).alias("xor_sig"),
    ]
    return (base.groupBy(key.column()) if key else base).agg(*aggs)


def o_checksum(
    base_sql: str,
    key: Key | None,
    count: str,
    sums: dict[str, Part],
    parts: list[Part],
) -> str:
    """Mirror of checksum over the base query's SQL, wrapped verbatim."""
    cols = [
        *([f"{key.o_expr()} AS {key.alias}"] if key else []),
        f"COUNT(*) AS {count}",
        *(f"CAST(SUM({p.o_value()}) AS BIGINT) AS {a}" for a, p in sums.items()),
        f"bit_xor({o_md5_long_digest(*(p.o_text() for p in parts))}) AS xor_sig",
    ]
    group = f"\nGROUP BY {key.o_expr()}" if key else ""
    return f"SELECT {', '.join(cols)}\nFROM ({base_sql}) base{group}"


def register_checksum(
    base: str,
    *,
    key: str | Key | None = None,
    count: str = "n",
    sums: dict[str, str | Part] | None = None,
    parts: list[str | Part],
    doc: str,
) -> None:
    """Register ``<base>_checksum``: the registered base query's fn and
    oracle, each reduced by checksum / o_checksum. Plain strings in
    ``key``, ``sums`` and ``parts`` name base columns used as they are."""
    q = REGISTRY[base]
    k = Key(key) if isinstance(key, str) else key
    s = {a: Part(p) if isinstance(p, str) else p for a, p in (sums or {}).items()}
    ps = [Part(p) if isinstance(p, str) else p for p in parts]

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return checksum(q.fn(spark, sf_dir), k, count, s, ps)

    # reads as its base (module, source, operators) to tools/gen_registry.py
    functools.update_wrapper(fn, q.fn)
    fn.__name__ = fn.__qualname__ = f"{base}_checksum"
    register(fn.__name__, oracle=o_checksum(q.oracle, k, count, s, ps), doc=doc)(fn)
