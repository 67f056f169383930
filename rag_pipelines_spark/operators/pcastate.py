"""Incremental PCA state — exact second moments accreted per batch,
principal direction served from state (streaming PCA).

The 11th continuous-ingest state family (streaming/incremental.py).
operators/pca.py fits the top component by passing over the CORPUS each
power step; that is the right shape for a one-shot fit but wrong for
continuous ingest (history re-read per fit). The sufficient statistics
for PCA are tiny and EXACTLY mergeable: n, the first moments
S1[i] = sum x_i, and the upper-triangle second moments
S2[i,j] = sum x_i * x_j — d(d+1)/2 + d + 1 numbers. Accreting them
through the rollup contract (decimal sums — associative, so N merges ==
one-shot) gives a state from which the covariance, the top component,
and projections are served WITHOUT touching history:

    C[i,j] = S2[i,j]/n - mu_i * mu_j        (served, round-9)
    v      = power iteration on the d x d frame (matvec = one tiny
             join-agg per step; d^2 rows, never the corpus)

Batch-side cost is honest and bounded: each row explodes to its
d(d+1)/2 upper-triangle products before the map-side-combinable agg —
the shuffle is always <= d(d+1)/2 + d rows regardless of batch size.
(An Arrow matmul per partition would be ~d x faster but float partials
would break the bit-exact merge contract; exactness wins here, the
same trade rollup.py makes.)

Cross-engine determinism: moments are exact DECIMAL(30,15) sums of
fp32-product doubles; every served number is engine-rounded at 9
decimals; the power recurrence from the uniform start is
sign-deterministic. The DuckDB oracle (queries/pca.py) replays
accretion + serve as MATERIALIZED chained CTEs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.rollup import merge_rollup, read_rollup
from rag_pipelines_spark.operators.vecexpr import dlit
from rag_pipelines_spark.queries._util import dec_to_dbl

__all__ = [
    "merge_pca_moments",
    "pca_covariance_from_state",
    "pca_component_from_state",
    "pca_project_from_state",
]

_DEC = "decimal(30,15)"


def _q9(c):
    """Engine-portable 9-decimal quantizer in PURE double arithmetic:
    floor(x*1e9 + 0.5)/1e9. Unlike round(double, 9) — where Spark rounds
    the SHORTEST string repr while DuckDB rounds the exact binary
    expansion, which disagree at ...0645-vs-...06449999 boundaries (hit
    by this family's power iteration at sf10, coord 24 of step 3) —
    every operation here is IEEE-defined on identical inputs, so both
    engines produce identical bits for every input."""
    return F.floor(c * 1e9 + F.lit(0.5)) / 1e9


def _moment_rows(emb: DataFrame, vec_col: str) -> DataFrame:
    """(i, j, p): per row, the d upper-triangle-with-diagonal products
    x_i * x_j for i <= j, plus the first moments as j = 0 rows
    (p = x_i; dims are 1-based so j=0 never collides)."""
    first = emb.select(
        F.posexplode(F.col(vec_col)).alias("pos", "x")
    ).select(
        (F.col("pos") + 1).alias("i"),
        F.lit(0).alias("j"),
        F.col("x").cast("double").alias("p"),
    )
    second = (
        emb.select(F.col(vec_col).alias("_v"))
        .select(F.posexplode(F.col("_v")).alias("pos_i", "xi"), "_v")
        .select(
            (F.col("pos_i") + 1).alias("i"),
            F.posexplode(
                F.expr("slice(_v, pos_i + 1, size(_v) - pos_i)")
            ).alias("off", "xj"),
            F.col("xi"),
        )
        .select(
            "i",
            (F.col("i") + F.col("off")).alias("j"),
            (F.col("xi").cast("double") * F.col("xj").cast("double")).alias(
                "p"
            ),
        )
    )
    return first.unionByName(second)


def merge_pca_moments(
    spark,
    emb: DataFrame,
    state_path: str,
    *,
    epoch: int | None = None,
    vec_col: str = "embedding",
) -> None:
    """Fold one batch's exact moments into the state: one explode to
    <= d(d+1)/2 + d rows per input row, one epoch-guarded rollup merge
    whose shuffle is moment-table-sized."""
    merge_rollup(
        spark,
        _moment_rows(emb, vec_col),
        state_path,
        keys=["i", "j"],
        measures={"p": ["sum", "count"]},
        epoch=epoch,
    )


def pca_covariance_from_state(spark, state_path: str) -> DataFrame:
    """(i, j, c) for i <= j: the served round-9 covariance
    C = S2/n - mu_i*mu_j, built entirely from the moment state (d^2-ish
    rows; the corpus is never read)."""
    st = read_rollup(spark, state_path)
    mu = st.filter(F.col("j") == 0).select(
        F.col("i").alias("mi"),
        _q9(dec_to_dbl(F.col("sum_p")) / F.col("count_p")).alias("m"),
    )
    s2 = st.filter(F.col("j") > 0)
    return (
        s2.join(mu.withColumnRenamed("mi", "i_key"), F.col("i") == F.col("i_key"))
        .withColumnRenamed("m", "m_i")
        .drop("i_key")
        .join(mu.withColumnRenamed("mi", "j_key"), F.col("j") == F.col("j_key"))
        .withColumnRenamed("m", "m_j")
        .drop("j_key")
        .select(
            "i",
            "j",
            _q9(
                dec_to_dbl(F.col("sum_p")) / F.col("count_p")
                - F.col("m_i") * F.col("m_j")
            ).alias("c"),
        )
    )


def pca_component_from_state(
    spark, state_path: str, d: int, iters: int
) -> tuple[list[float], list[float]]:
    """(v, mu): top component of the served covariance after `iters`
    power steps from the uniform start, plus the served means. Each
    step is one matvec join-agg over the d^2-row mirrored covariance —
    corpus-free."""
    cov = pca_covariance_from_state(spark, state_path)
    full = cov.unionByName(
        cov.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    ).localCheckpoint(eager=True)
    st = read_rollup(spark, state_path)
    mu_rows = (
        st.filter(F.col("j") == 0)
        .select(
            "i",
            _q9(dec_to_dbl(F.col("sum_p")) / F.col("count_p")).alias(
                "m"
            ),
        )
        .collect()
    )
    mu_map = {int(r["i"]): r["m"] for r in mu_rows}
    mu = [mu_map[i + 1] for i in range(d)]
    v = [1.0 / math.sqrt(d)] * d
    # The matvec must produce BIT-IDENTICAL w in both engines or a
    # quantize-boundary hit cascades through the remaining iterations
    # (observed at sf10: coord 24 of step 3 differed by one cast ulp).
    # c and vj are exact 1e-9-grid values, so recover their integer
    # numerators (floor(x*1e9+0.5) — exact, the grid error is << 0.5)
    # and run the whole sum in integer DECIMAL arithmetic: no
    # data-dependent double->decimal cast ever happens, and the single
    # decimal->double conversion of the exact integer sum is correctly
    # rounded in both engines. Same trick for n2 on a 1e-12 grid.
    k19 = "decimal(19,0)"
    for _ in range(iters):
        # a VALUES LocalRelation: no Python RDD (and worker) per step
        vals = ", ".join(f"({j + 1}, {dlit(v[j])})" for j in range(d))
        vdf = spark.sql(f"SELECT * FROM (VALUES {vals}) AS t(j, vj)")
        kc = F.floor(F.col("c") * 1e9 + F.lit(0.5)).cast(k19)
        kv = F.floor(F.col("vj") * 1e9 + F.lit(0.5)).cast(k19)
        w = (
            full.join(F.broadcast(vdf), "j")
            .groupBy("i")
            .agg(F.sum(kc * kv).alias("_wn"))
            .select(
                "i", (F.col("_wn").cast("double") / F.lit(1e18)).alias("w")
            )
        )
        kw = F.floor(F.col("w") * 1e12 + F.lit(0.5)).cast(k19)
        n2 = w.agg(
            (F.sum(kw * kw).cast("double") / F.lit(1e24)).alias("n2")
        )
        rows = (
            w.crossJoin(F.broadcast(n2))
            .select("i", _q9(F.col("w") / F.sqrt("n2")).alias("v"))
            .collect()
        )
        got = {int(r["i"]): r["v"] for r in rows}
        v = [got[j + 1] for j in range(d)]
    return v, mu


def pca_project_from_state(
    spark,
    df: DataFrame,
    state_path: str,
    d: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, score): score-before-ingest — project an incoming batch onto
    the component served from the moments accreted SO FAR (zero-shuffle
    literal math per row, the q_lm_from_state shape)."""
    from rag_pipelines_spark.operators.pca import _centered, _dot_dec

    v, mu = pca_component_from_state(spark, state_path, d, iters)
    xc = _centered(F.col(vec_col), mu)
    return df.select(
        F.col(id_col), _q9(dec_to_dbl(_dot_dec(xc, v))).alias("score")
    )
