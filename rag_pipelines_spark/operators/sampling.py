"""Deterministic sampling / dataset splitting for training-data pipelines.

`df.sample()` / `randomSplit()` are partition-order-dependent (seeded RNG
per partition), so the same row can land in different splits when the
input is repartitioned — unacceptable for train/val/test hygiene at
100 TB where layout changes between runs. These operators derive the
assignment from a *content hash of the row key* instead: stable under
repartitioning, cluster size, and engine (DuckDB computes the identical
bucket, so `q_hash_sample` is oracle-checked).

Bucket = first 8 md5 hex chars of the key as an int, mod `granularity`
(default 100) — uniform enough for split quotas, and adding a salt
re-draws the assignment (for k-fold rotation) without touching data.

Scale: pure row-local expressions — no shuffle, no RNG state, fully
codegen'd; a split is a filter, so it pushes down to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column | str, salt: str = "", granularity: int = 100) -> Column:
    """Stable bucket in [0, granularity) from md5(key || salt)."""
    c = F.col(key) if isinstance(key, str) else key
    keyed = F.concat(c.cast("string"), F.lit(salt))
    return F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("long") % granularity


def hash_split(
    df: DataFrame,
    key: str,
    weights: dict[str, float],
    salt: str = "",
    out: str = "split",
) -> DataFrame:
    """Assign each row to a named split with ~`weights` proportions.

    Weights must sum to 1. Assignment is by cumulative bucket ranges, so
    e.g. {train: .8, val: .1, test: .1} -> buckets [0,80) [80,90) [90,100).
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = hash_bucket(key, salt)
    expr = None
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name]
        cond = bucket < int(round(cum * 100))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out, expr)


def balance_groups(df: DataFrame, group_col: str, key_col: str, salt: str = "") -> DataFrame:
    """Deterministically downsample every group to the smallest group's
    size (uniform source mixing — the degenerate "equal weights" case of
    a mixture schedule).

    Selection is a per-group rank over md5(key||salt) — stable under any
    partitioning/layout, re-drawable via salt, and reproducible in any
    engine (same property as hash_split). Plan: one count-agg over groups
    (rows = #groups, broadcast back) + one rank window per group — no
    driver-side scalars.
    """
    cnts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    quota = F.broadcast(cnts.agg(F.min("_n").alias("_quota")))  # 1 row
    c = F.col(key_col)
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.concat(c.cast("string"), F.lit(salt))), c)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .crossJoin(quota)
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_quota")
        .withColumnRenamed("_rk", "sample_rank")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Deterministically subsample so surviving group proportions match
    `weights` — the general data-mixture schedule (balance_groups is the
    equal-weights special case).

    quota_g = floor(w_g * scale) with scale = min_g(n_g / w_g): the
    largest total size achievable without oversampling any group (no
    replication — this is a downsampling mixer). Groups absent from
    `weights` are dropped. Weights needn't sum to 1 (only ratios matter).

    Plan: per-group counts (rows = #groups) joined to the literal weight
    frame, a 1-row min for the scale, quotas broadcast back, then the
    same md5-rank window as balance_groups — layout-stable, salt-
    rotatable, engine-reproducible. The corpus shuffles once (the rank
    window's hash exchange on group); everything else is tiny-frame math.
    """
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(g, float(w)) for g, w in weights.items()],
        f"{group_col} string, _w double",
    )
    cnts = (
        df.groupBy(group_col).agg(F.count("*").alias("_n")).join(wdf, group_col)
    )
    scale = cnts.agg(F.min(F.col("_n") / F.col("_w")).alias("_scale"))  # 1 row
    quotas = F.broadcast(
        cnts.crossJoin(F.broadcast(scale)).select(
            group_col,
            F.floor(F.col("_w") * F.col("_scale")).cast("long").alias("_quota"),
        )
    )
    c = F.col(key_col)
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(c.cast("string"), F.lit(salt))), c
    )
    return (
        df.join(quotas, group_col)  # inner join: unweighted groups drop out
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_quota")
        .withColumnRenamed("_rk", "sample_rank")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    temperature: float = 2.0,
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled mixture: downsample so surviving group sizes are
    proportional to n_g^(1/T) — the multilingual/source rebalancing rule
    (T=1 keeps natural proportions, T→∞ approaches balance_groups'
    uniform mix). quota_g = floor(n_g^(1/T) * scale) with
    scale = min_g(n_g / n_g^(1/T)) — the largest total with no group
    oversampled (a downsampling mixer, like mixture_sample, whose
    weights this computes FROM the data instead of taking as input).

    Determinism: for T in {2, 4} the weight is (repeated) sqrt — an IEEE
    correctly-rounded op, so quotas are bitwise engine-portable (the
    oracle-checked tier). Other T use pow(n, 1/T), whose last ULP is
    libm-dependent — fine in production, excluded from the oracle.
    Plan: identical to mixture_sample (tiny count frame, broadcast
    quotas, one md5-rank window) — the corpus shuffles once.
    """
    n_dbl = F.col("_n").cast("double")
    if temperature == 2.0:
        wexpr = F.sqrt(n_dbl)
    elif temperature == 4.0:
        wexpr = F.sqrt(F.sqrt(n_dbl))
    else:
        wexpr = F.pow(n_dbl, F.lit(1.0 / temperature))
    cnts = (
        df.groupBy(group_col)
        .agg(F.count("*").alias("_n"))
        .withColumn("_w", wexpr)
    )
    scale = cnts.agg(F.min(n_dbl / F.col("_w")).alias("_scale"))  # 1 row
    quotas = F.broadcast(
        cnts.crossJoin(F.broadcast(scale)).select(
            group_col,
            F.floor(F.col("_w") * F.col("_scale")).cast("long").alias("_quota"),
        )
    )
    c = F.col(key_col)
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(c.cast("string"), F.lit(salt))), c
    )
    return (
        df.join(quotas, group_col)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_quota"))
        .drop("_quota")
        .withColumnRenamed("_rk", "sample_rank")
    )


def repeat_upsample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    targets: dict[str, int],
    cap: int = 4,
    salt: str = "",
) -> DataFrame:
    """Deterministic UP-sampling by integer repetition with an epoch cap —
    the complement of the downsampling mixers for data-constrained
    regimes (rare sources repeated up to `cap` times, after which a
    group saturates rather than overfitting on endless copies).

    For group g with n_g rows and target t_g: every row gets
    full = min(cap, t_g div n_g) copies; if full < cap, the first
    (t_g mod n_g) rows by md5 rank get one extra — the group lands at
    exactly t_g, or at cap*n_g when the target is unreachable under the
    cap (documented saturation, never silent over-repetition). Groups
    absent from `targets` drop (same contract as mixture_sample).

    Output: one row per COPY — (input columns, sample_rank, copy) with
    copy in 1..copies. Plan: tiny count frame joined to the literal
    target frame, quotas broadcast back, one md5-rank window, then a
    per-row explode(sequence(1, copies)) — output-sized, no extra
    shuffle beyond the rank window's group exchange.
    """
    spark = df.sparkSession
    tdf = spark.createDataFrame(
        [(g, int(v)) for g, v in targets.items()],
        f"{group_col} string, _t long",
    )
    cnts = (
        df.groupBy(group_col).agg(F.count("*").alias("_n")).join(tdf, group_col)
    )
    fulldiv = F.expr("_t div _n")  # exact integer division, never doubles
    quotas = F.broadcast(
        cnts.select(
            group_col,
            F.least(F.lit(cap).cast("long"), fulldiv).alias("_full"),
            F.when(fulldiv >= cap, F.lit(0))
            .otherwise(F.col("_t") % F.col("_n"))
            .cast("long")
            .alias("_rem"),
        )
    )
    c = F.col(key_col)
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.concat(c.cast("string"), F.lit(salt))), c
    )
    ranked = df.join(quotas, group_col).withColumn(
        "sample_rank", F.row_number().over(w)
    )
    copies = F.col("_full") + F.when(
        F.col("sample_rank") <= F.col("_rem"), 1
    ).otherwise(0)
    return (
        ranked.withColumn("_copies", copies)
        .filter(F.col("_copies") >= 1)
        .withColumn("copy", F.explode(F.sequence(F.lit(1), F.col("_copies"))))
        .drop("_full", "_rem", "_copies")
    )


def token_budget_mixture(
    df: DataFrame,
    id_col: str,
    group_col: str,
    tokens_col: str,
    budget: int,
    salt: str = "",
) -> DataFrame:
    """Admit rows per group, in deterministic md5 order, until the
    group's cumulative token count would exceed ``budget`` — the
    token-budget counterpart of mixture_sample's doc-count quotas
    (training mixtures are specified in tokens, not documents).

    Semantics (engine-portable, so DuckDB computes the same set): rank
    rows within each group by ``md5(id || salt)``; a row is admitted iff
    its INCLUSIVE running token sum is <= budget. Content-hash order
    makes the admitted set stable under repartitioning and engine.

    Scale: the naive formulation is one window over the whole corpus —
    a full shuffle ordered by hash, with each group's running sum
    serialized through one task (a popular source = one straggler).
    This implementation splits the work by the md5 PREFIX byte, which
    is order-compatible with the full hash:

      1. per (group, 256-way bucket): token sums — a map-side-combinable
         hash agg producing a tiny frame (256 x n_groups rows);
      2. bucket-level running sums classify each bucket as fully
         admitted (whole bucket fits), partial (the single bucket where
         the budget line crosses — at most one per group), or rejected;
      3. fully-admitted rows pass through via a BROADCAST semi-join
         (no corpus shuffle at all); only the partial bucket's rows —
         1/256th of one group — pay the row-level window, with the
         preceding buckets' sum folded in as a constant offset.

    Token counts must be >= 1 per row (space-split length is), so a
    budget boundary can never be straddled by zero-width rows and the
    bucket classification is exact.

    Group-cardinality bound: the broadcast bucket frames are
    256 x n_groups rows, so "no corpus shuffle at all" holds for
    mixture-sized group columns (sources/languages/domains — up to
    ~10^5 groups stays comfortably under autoBroadcastJoinThreshold).
    A high-cardinality group_col (per-user, per-url) would blow the
    broadcast; there, replace the two broadcast joins with plain
    shuffle joins — the bucket frame is still tiny relative to the
    corpus, only the co-location strategy changes.
    """
    rk = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    ranked = df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(tokens_col),
        rk.alias("_rk"),
        F.substring(rk, 1, 2).alias("_bk"),
    )
    bsum = ranked.groupBy(group_col, "_bk").agg(
        F.sum(tokens_col).alias("_btok")
    )
    wb = (
        Window.partitionBy(group_col)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bcum = bsum.withColumn(
        "_before", F.coalesce(F.sum("_btok").over(wb), F.lit(0))
    )
    full = bcum.filter(F.col("_before") + F.col("_btok") <= F.lit(budget))
    partial = bcum.filter(
        (F.col("_before") + F.col("_btok") > F.lit(budget))
        & (F.col("_before") < F.lit(budget))
    )
    admitted_full = ranked.join(
        F.broadcast(full.select(group_col, "_bk")), [group_col, "_bk"]
    )
    wr = Window.partitionBy(group_col).orderBy("_rk", id_col)
    part_rows = ranked.join(
        F.broadcast(partial.select(group_col, "_bk", "_before")),
        [group_col, "_bk"],
    )
    part_sel = (
        part_rows.withColumn("_cum_in", F.sum(tokens_col).over(wr))
        .filter(F.col("_before") + F.col("_cum_in") <= F.lit(budget))
        .drop("_before", "_cum_in")
    )
    return admitted_full.unionByName(part_sel).select(
        id_col, group_col, tokens_col
    )
