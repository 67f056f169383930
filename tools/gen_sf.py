"""Deterministic fixture generator for scale factors the driver doesn't ship.

The driver provides sf0.001/0.01/0.1 (TESTDATA.md, read-only). For scaling
evidence beyond that (sf1 = ~6M lineitem rows) we synthesize tables with
the SAME schemas and near-identical value distributions, derived from the
sf0.1 files' observed stats (key ranges, category sets, line-count and
token-length distributions, vocab).

Everything is Spark-native column math seeded by xxhash64(id, salt) —
fully deterministic, no driver-side data, no Python RNG — so generation
itself distributes (generating sf100 on a cluster is the same program).
region/nation are fixed-size dimension tables and are copied verbatim
from the driver's sf0.1 fixtures.

Usage:
    python tools/gen_sf.py [sf] [out_dir]
    # defaults: sf=1, out_dir=<checkout>/_testdata/sf{sf}

Not driver data: oracle correctness always runs at the driver's sf0.01;
these tables are for bench/scaling runs only (point SPARK_GRAFT_SF_DIR at
the output dir).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SRC_DIR = "/root/testdata/sf0.1"  # fixed dims + distribution source

# 31-word vocabulary observed in the driver's documents.text
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

SEGMENTS = ["AUTOMOBILE", "BUILDING", "HOUSEHOLD", "MACHINERY", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["PROMO", "MEDIUM", "SMALL", "LARGE", "STANDARD", "ECONOMY"]
P_ADJ = ["large", "small", "red", "green", "steel", "brass", "round", "flat"]
P_NOUN = ["ring", "bolt", "gear", "plate", "tube", "wheel", "cap", "rod"]
LANGS = ["en", "zh", "es", "fr", "de"]  # en ~41%, rest ~15% each
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]


def _h(col: Column, salt: int) -> Column:
    return F.xxhash64(col.cast("long"), F.lit(salt))


def _mod(col: Column, salt: int, n: int) -> Column:
    return F.pmod(_h(col, salt), F.lit(n))


def _uni(col: Column, salt: int) -> Column:
    """Uniform double in [0, 1)."""
    m = 1_000_000_007
    return F.pmod(_h(col, salt), F.lit(m)).cast("double") / float(m)


def _pick(col: Column, salt: int, values: list[str]) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (_mod(col, salt, len(values)) + 1).cast("int"))


def _base(spark: SparkSession, n: int, parts: int = 32) -> DataFrame:
    return spark.range(0, n, numPartitions=parts)


def gen_customer(spark, n):
    i = F.col("id")
    return _base(spark, n).select(
        i.alias("c_custkey"),
        F.format_string("Customer#%09d", i).alias("c_name"),
        _mod(i, 11, 25).cast("int").alias("c_nationkey"),
        F.round(_uni(i, 12) * 11000 - 1000, 2).alias("c_acctbal"),
        _pick(i, 13, SEGMENTS).alias("c_mktsegment"),
    )


def gen_supplier(spark, n):
    i = F.col("id")
    return _base(spark, n).select(
        i.alias("s_suppkey"),
        F.format_string("Supplier#%09d", i).alias("s_name"),
        _mod(i, 21, 25).cast("int").alias("s_nationkey"),
        F.round(_uni(i, 22) * 11000 - 1000, 2).alias("s_acctbal"),
    )


def gen_part(spark, n):
    i = F.col("id")
    return _base(spark, n).select(
        i.alias("p_partkey"),
        F.concat_ws(" ", _pick(i, 31, P_ADJ), _pick(i, 32, P_NOUN)).alias("p_name"),
        F.concat(F.lit("Brand#"), _mod(i, 33, 25)).alias("p_brand"),
        _pick(i, 34, P_TYPES).alias("p_type"),
        (_mod(i, 35, 50) + 1).cast("int").alias("p_size"),
        F.round(F.lit(900.0) + _mod(i, 36, 1000).cast("double") / 10.0, 2).alias(
            "p_retailprice"
        ),
    )


def gen_orders(spark, n, n_cust):
    i = F.col("id")
    # orderdate: uniform days over 1995-01-01 .. 2001-08-01 (midnight, like
    # the driver fixture)
    days = _mod(i, 44, 2405)
    return _base(spark, n).select(
        i.alias("o_orderkey"),
        _mod(i, 41, n_cust).alias("o_custkey"),
        _pick(i, 42, ["O", "P", "F"]).alias("o_orderstatus"),
        F.round(_uni(i, 43) * 499000 + 1000, 2).alias("o_totalprice"),
        F.date_add(F.lit("1995-01-01").cast("date"), days.cast("int"))
        .cast("timestamp_ntz")  # driver fixtures are TIMESTAMP_NTZ parquet
        .alias("o_orderdate"),
        _pick(i, 45, PRIORITIES).alias("o_orderpriority"),
    )


def gen_lineitem(spark, n_orders, n_part, n_supp):
    """1-7 lines per order (mean 4 ≈ driver's ~4 lines/order)."""
    i = F.col("id")
    orders = _base(spark, n_orders).select(
        i.alias("l_orderkey"),
        (_mod(i, 51, 7) + 1).cast("int").alias("_nl"),
        _mod(i, 44, 2405).alias("_odays"),  # same salt as o_orderdate
    )
    lines = orders.select(
        "l_orderkey",
        "_odays",
        F.explode(F.sequence(F.lit(1), F.col("_nl"))).alias("l_linenumber"),
    )
    # per-line key: orderkey*8 + linenumber keeps hashes line-distinct
    k = (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("_k")
    lines = lines.withColumn("_k", k)
    kc = F.col("_k")
    return lines.select(
        "l_orderkey",
        _mod(kc, 52, n_part).alias("l_partkey"),
        _mod(kc, 53, n_supp).alias("l_suppkey"),
        F.col("l_linenumber").cast("int"),
        (_mod(kc, 54, 50) + 1).cast("double").alias("l_quantity"),
        F.round(_uni(kc, 55) * 104100 + 900, 2).alias("l_extendedprice"),
        (_mod(kc, 56, 11).cast("double") / 100.0).alias("l_discount"),
        (_mod(kc, 57, 9).cast("double") / 100.0).alias("l_tax"),
        _pick(kc, 58, ["N", "A", "R"]).alias("l_returnflag"),
        _pick(kc, 59, ["O", "F"]).alias("l_linestatus"),
        F.date_add(
            F.date_add(F.lit("1995-01-01").cast("date"), F.col("_odays").cast("int")),
            (_mod(kc, 60, 120) + 1).cast("int"),
        )
        .cast("timestamp_ntz")
        .alias("l_shipdate"),
    )


def gen_events(spark, n, n_users, hot_user_frac: float = 0.0):
    """`hot_user_frac` > 0 plants a deliberate heavy hitter: that fraction
    of all events is reassigned to user_id 0 (deterministically, by the
    same hash family), turning the otherwise-uniform user distribution
    into the skewed shape that overflows a single reducer — the fixture
    behind SCALE.md's skew-mitigation evidence."""
    i = F.col("id")
    span_us = 30 * 86_400 * 1_000_000
    # value ~ Exp(mean 50), like the driver's (avg 49.9, sd 49.6)
    val = F.round(F.lit(-50.0) * F.log(F.lit(1.0) - _uni(i, 63)), 4)
    user = _mod(i, 62, n_users)
    if hot_user_frac > 0.0:
        user = F.when(_uni(i, 66) < hot_user_frac, F.lit(0)).otherwise(user)
    # timestampadd on an NTZ literal: pure wall-clock integer arithmetic,
    # identical on any host/session timezone (an ltz->ntz cast would
    # shift by the session zone); fixtures expose ts as TIMESTAMP_NTZ
    offset_us = (_uni(i, 61) * span_us).cast("long")
    return (
        _base(spark, n)
        .withColumn("_us", offset_us)
        .select(
            i.alias("event_id"),
            F.expr(
                "timestampadd(MICROSECOND, _us,"
                " timestamp_ntz'2024-01-01 00:00:00')"
            ).alias("ts"),
            user.alias("user_id"),
            _pick(i, 64, EVENT_TYPES).alias("event_type"),
            val.alias("value"),
            F.concat(
                F.lit('{"k": '), _mod(i, 65, 100), F.lit("}")
            ).alias("props"),
        )
    )


def gen_documents(spark, n):
    i = F.col("id")
    n_tok = (_mod(i, 71, 91) + 10).cast("int")  # 10..100, mean ~55
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda pos: F.element_at(
                vocab,
                (F.pmod(F.xxhash64(F.col("id"), pos, F.lit(72)), F.lit(len(VOCAB))) + 1).cast(
                    "int"
                ),
            ),
        ),
    )
    lang = (
        F.when(_uni(i, 73) < 0.41, F.lit("en"))
        .when(_uni(i, 73) < 0.56, F.lit("zh"))
        .when(_uni(i, 73) < 0.71, F.lit("es"))
        .when(_uni(i, 73) < 0.86, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return (
        _base(spark, n)
        .select(
            i.alias("doc_id"),
            text.alias("text"),
            lang.alias("lang"),
            F.concat(F.lit("src"), _mod(i, 74, 20)).alias("source"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )


def gen_embeddings(spark, n, dim=64):
    i = F.col("id")
    raw = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda pos: (
            F.pmod(F.xxhash64(F.col("id"), pos, F.lit(81)), F.lit(1_000_003)).cast(
                "double"
            )
            / 1_000_003.0
            - 0.5
        ),
    )
    norm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, x: a + x * x))
    vec = F.transform(raw, lambda x: (x / norm).cast("float"))
    return _base(spark, n).select(
        i.alias("vec_id"),
        vec.alias("embedding"),
        _mod(i, 82, 10).cast("int").alias("label"),
    )


def gen_clustered_embeddings(spark, n, dim=64, n_clusters=128,
                             noise=0.35):
    """Planted-cluster embeddings (r5 verdict item #3): k hash-random
    unit centers; each vector = normalize(center[cluster(id)] +
    noise * u(id)) with u hash-uniform per (id, pos). This is the regime
    IVF indexing is FOR — real embedding corpora are clustered by
    topic/language, and the hash-uniform `gen_embeddings` fixture is its
    structureless worst case (SCALE.md documents the honest negative).
    Expected member-center cosine ≈ 1/sqrt(1 + noise^2) ≈ 0.94 at the
    default — tight clusters, near-orthogonal centers. All deterministic
    column math; generation distributes like every other fixture."""
    i = F.col("id")
    cluster = F.pmod(F.xxhash64(i, F.lit(91)), F.lit(n_clusters))
    raw = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda pos: (
            # center coordinate for this id's cluster...
            (
                F.pmod(F.xxhash64(cluster, pos, F.lit(92)), F.lit(1_000_003))
                .cast("double") / 1_000_003.0 - 0.5
            )
            # ...plus per-vector noise
            + F.lit(noise) * (
                F.pmod(F.xxhash64(i, pos, F.lit(93)), F.lit(1_000_003))
                .cast("double") / 1_000_003.0 - 0.5
            )
        ),
    )
    norm = F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, x: a + x * x))
    vec = F.transform(raw, lambda x: (x / norm).cast("float"))
    return _base(spark, n).select(
        i.alias("vec_id"),
        vec.alias("embedding"),
        cluster.cast("int").alias("label"),
    )


def main() -> None:
    args = list(sys.argv[1:])
    if "--clustered-embeddings" in args:
        # python tools/gen_sf.py --clustered-embeddings <n> <out_dir>
        j = args.index("--clustered-embeddings")
        n, out = int(args[j + 1]), args[j + 2]
        from rag_pipelines_spark.session import get_spark

        spark = get_spark("gen-clustered-emb")
        gen_clustered_embeddings(spark, n).write.mode("overwrite").parquet(
            f"{out}/embeddings.parquet"
        )
        print(f"wrote {n} clustered embeddings to {out}/embeddings.parquet")
        return
    hot_user_frac = 0.0
    if "--skew-events" in args:  # e.g. --skew-events 0.2 => user 0 owns 20%
        j = args.index("--skew-events")
        hot_user_frac = float(args[j + 1])
        del args[j : j + 2]
    sf = float(args[0]) if args else 1.0
    out = args[1] if len(args) > 1 else os.path.join(ROOT, "_testdata", f"sf{sf:g}")
    from rag_pipelines_spark.session import get_spark

    spark = get_spark("gen-sf")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    k = sf  # sf0.1 row counts x (sf / 0.1)
    counts = {
        "customer": int(150_000 * k),
        "supplier": int(10_000 * k),
        "part": int(200_000 * k),
        "orders": int(1_500_000 * k),
        "events": int(1_000_000 * k),
        "documents": int(50_000 * k),
        "embeddings": int(20_000 * k),
    }
    for name in ("region", "nation"):  # fixed dims: copy the driver's
        spark.read.parquet(f"{SRC_DIR}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}.parquet")
    gen_customer(spark, counts["customer"]).write.mode("overwrite").parquet(
        f"{out}/customer.parquet"
    )
    gen_supplier(spark, counts["supplier"]).write.mode("overwrite").parquet(
        f"{out}/supplier.parquet"
    )
    gen_part(spark, counts["part"]).write.mode("overwrite").parquet(
        f"{out}/part.parquet"
    )
    gen_orders(spark, counts["orders"], counts["customer"]).write.mode(
        "overwrite"
    ).parquet(f"{out}/orders.parquet")
    gen_lineitem(
        spark, counts["orders"], counts["part"], counts["supplier"]
    ).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    gen_events(
        spark, counts["events"], int(15_000 * k), hot_user_frac=hot_user_frac
    ).write.mode("overwrite").parquet(f"{out}/events.parquet")
    gen_documents(spark, counts["documents"]).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    gen_embeddings(spark, counts["embeddings"]).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    for name in sorted(counts):
        n = spark.read.parquet(f"{out}/{name}.parquet").count()
        print(f"{name}: {n}")
    print(f"wrote sf{sf:g} to {out}")


if __name__ == "__main__":
    main()
