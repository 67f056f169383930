"""§2.11 north-star tier — embedding post-processing: PCA top component
via distributed power iteration, projection, and linear quantization.

Three oracle-checked queries over operators/pca.py:

  q_pca_component   the fitted top principal direction after 3 bounded
                    power steps (d=64 rows; matrix-free — no covariance)
  q_pca_project     round-9 projection of every centered embedding onto
                    that direction (the "All-but-the-top" removal score)
  q_embed_quantize  per-dim linear [0,255] quantization codes

The DuckDB oracle replays the SAME bounded power recurrence as chained
CTEs (``_power_with``); every float crosses engines through the
decimal-fold / round-9 contract (queries/_util.py), and power iteration
from the uniform start is sign-deterministic, so the driver's
value-hash compare is exact.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from rag_pipelines_spark.operators.pca import (
    pca_component_frame,
    pca_project,
    quantize_linear,
)
from rag_pipelines_spark.queries._util import (
    Key,
    Part,
    o_dec_to_dbl,
    register_checksum,
    t,
)
from rag_pipelines_spark.registry import register

_D = 64
_ITERS = 3
_LEVELS = 255


def _power_with(d: int = _D, iters: int = _ITERS) -> str:
    """WITH-chain replaying power_iterate in DuckDB: mu = round-9
    column means; per step i, s{i} scores every row against v{i-1}
    (decimal-fold dots), w{i} re-aggregates the scored rows per dim,
    and v{i} normalizes round-9 through the 1-row n2 frame."""
    v0 = "[" + ", ".join([repr(1.0 / math.sqrt(d))] * d) + "]"
    sum_mean = o_dec_to_dbl(
        "SUM(CAST(CAST(e.embedding[t.dim] AS DOUBLE) AS DECIMAL(30,15)))"
    )
    parts = [
        f"""mu AS MATERIALIZED (
        SELECT t.dim AS dim, round({sum_mean} / COUNT(*), 9) AS m
        FROM embeddings e CROSS JOIN range(1, {d + 1}) t(dim)
        GROUP BY t.dim)""",
        "mu_l AS MATERIALIZED (SELECT list(m ORDER BY dim) AS mu FROM mu)",
        f"v0 AS MATERIALIZED (SELECT {v0} AS v)",
    ]
    sum_dot = o_dec_to_dbl(
        "SUM(CAST((CAST(z.x AS DOUBLE) - z.m) * z.vc AS DECIMAL(30,15)))"
    )
    sum_w = o_dec_to_dbl(
        "SUM(CAST(s.sc * (CAST(e.embedding[t.dim] AS DOUBLE) - l.m)"
        " AS DECIMAL(30,15)))"
    )
    sum_n2 = o_dec_to_dbl("SUM(CAST(w * w AS DECIMAL(30,15)))")
    for i in range(1, iters + 1):
        parts.append(
            f"""s{i} AS MATERIALIZED (
            SELECT z.vec_id AS vec_id, {sum_dot} AS sc
            FROM (SELECT e.vec_id, unnest(e.embedding) AS x,
                         unnest(l.mu) AS m, unnest(p.v) AS vc
                  FROM embeddings e CROSS JOIN mu_l l
                       CROSS JOIN v{i - 1} p) z
            GROUP BY z.vec_id)"""
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
            SELECT t.dim AS dim, {sum_w} AS w
            FROM s{i} s JOIN embeddings e USING (vec_id)
                 CROSS JOIN range(1, {d + 1}) t(dim)
                 JOIN mu l ON l.dim = t.dim
            GROUP BY t.dim)"""
        )
        parts.append(f"n2_{i} AS MATERIALIZED (SELECT {sum_n2} AS n2 FROM w{i})")
        parts.append(
            f"""v{i} AS MATERIALIZED (
            SELECT list(round(w / sqrt(n2), 9) ORDER BY dim) AS v
            FROM w{i} CROSS JOIN n2_{i})"""
        )
    return "WITH " + ",\n".join(parts)


@register(
    "q_pca_component",
    oracle=f"""
    {_power_with()}
    SELECT dim, round(w / sqrt(n2), 9) AS v
    FROM w{_ITERS} CROSS JOIN n2_{_ITERS}
    """,
    doc="top principal direction after 3 matrix-free power steps "
    "(operators/pca.py): per step one zero-shuffle literal-direction "
    "score pass + a d-row long-form agg; normalization is the broadcast "
    "1-row-agg join; no d x d covariance is ever materialized",
)
def q_pca_component(spark, sf_dir):
    return pca_component_frame(t(spark, sf_dir, "embeddings"), d=_D, iters=_ITERS)


_PP_ORACLE = f"""
    {_power_with()}
    SELECT z.vec_id AS vec_id,
           round({o_dec_to_dbl(
               "SUM(CAST((CAST(z.x AS DOUBLE) - z.m) * z.vc"
               " AS DECIMAL(30,15)))"
           )}, 9) AS score
    FROM (SELECT e.vec_id, unnest(e.embedding) AS x,
                 unnest(l.mu) AS m, unnest(p.v) AS vc
          FROM embeddings e CROSS JOIN mu_l l CROSS JOIN v{_ITERS} p) z
    GROUP BY z.vec_id
"""


@register(
    "q_pca_project",
    oracle=_PP_ORACLE,
    doc="projection of every centered embedding onto the fitted top "
    "component (All-but-the-top, Mu & Viswanath 2018) — a zero-shuffle "
    "map over literal (means, direction)",
)
def q_pca_project(spark, sf_dir):
    return pca_project(t(spark, sf_dir, "embeddings"), d=_D, iters=_ITERS)


_EQ_ORACLE = f"""
    WITH stats AS (
        SELECT t.dim AS dim,
               min(CAST(e.embedding[t.dim] AS DOUBLE)) AS lo,
               max(CAST(e.embedding[t.dim] AS DOUBLE)) AS hi
        FROM embeddings e CROSS JOIN range(1, {_D + 1}) t(dim)
        GROUP BY t.dim),
    sc AS (
        SELECT dim, lo,
               CASE WHEN hi > lo THEN round((hi - lo) / {_LEVELS}, 9)
                    ELSE 0.0 END AS s
        FROM stats)
    SELECT e.vec_id AS vec_id, c.dim AS dim,
           CASE WHEN c.s = 0 THEN 0
                ELSE least({_LEVELS},
                           CAST(floor((CAST(e.embedding[c.dim] AS DOUBLE)
                                       - c.lo) / c.s) AS BIGINT))
           END AS code
    FROM embeddings e CROSS JOIN sc c
"""


@register(
    "q_embed_quantize",
    oracle=_EQ_ORACLE,
    doc="per-dimension linear [0,255] quantization: min/max from one "
    "d-row long-form agg, round-9 scale embedded as a literal, "
    "zero-shuffle floor/clamp code assignment (operators/pca.py)",
)
def q_embed_quantize(spark, sf_dir):
    return quantize_linear(
        t(spark, sf_dir, "embeddings"), d=_D, levels=_LEVELS
    )


def _pca_state_with(d: int = _D, iters: int = _ITERS) -> str:
    """WITH-chain replaying the incremental-PCA state lifecycle
    (operators/pcastate.py) in DuckDB: exact decimal moments from the
    two accreted slices, served round-9 covariance, power steps as
    matvec aggs over the mirrored d x d frame. All CTEs MATERIALIZED
    (chained-iteration re-evaluation is exponential otherwise)."""
    v0 = "[" + ", ".join([repr(1.0 / math.sqrt(d))] * d) + "]"
    parts = [
        """hist AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 IN (0, 1))""",
        f"""m2 AS MATERIALIZED (
        SELECT ti.i AS i, tj.j AS j,
               SUM(CAST(CAST(e.embedding[ti.i] AS DOUBLE)
                        * CAST(e.embedding[tj.j] AS DOUBLE)
                        AS DECIMAL(30,15))) AS s,
               COUNT(*) AS n
        FROM hist e CROSS JOIN range(1, {d + 1}) ti(i)
             CROSS JOIN range(1, {d + 1}) tj(j)
        WHERE tj.j >= ti.i
        GROUP BY 1, 2)""",
        f"""m1 AS MATERIALIZED (
        SELECT t.dim AS i,
               floor(({o_dec_to_dbl(
                   "SUM(CAST(CAST(e.embedding[t.dim] AS DOUBLE)"
                   " AS DECIMAL(30,15)))"
               )} / COUNT(*)) * 1000000000 + 0.5) / 1000000000 AS m
        FROM hist e CROSS JOIN range(1, {d + 1}) t(dim)
        GROUP BY t.dim)""",
        "mu_l AS MATERIALIZED (SELECT list(m ORDER BY i) AS mu FROM m1)",
        f"""cov AS MATERIALIZED (
        SELECT m2.i AS i, m2.j AS j,
               floor(({o_dec_to_dbl("s")} / n - a.m * b.m)
                     * 1000000000 + 0.5) / 1000000000 AS c
        FROM m2 JOIN m1 a ON a.i = m2.i JOIN m1 b ON b.i = m2.j)""",
        """covf AS MATERIALIZED (
        SELECT i, j, c FROM cov
        UNION ALL
        SELECT j AS i, i AS j, c FROM cov WHERE i <> j)""",
        f"sv0 AS MATERIALIZED (SELECT {v0} AS v)",
    ]
    # integer-exact matvec (see operators/pcastate.py): c and v are
    # 1e-9-grid values, so the products sum EXACTLY as DECIMAL(19,0)
    # numerators — no data-dependent double->decimal cast, w and n2 are
    # bit-identical across engines
    for i in range(1, iters + 1):
        parts.append(
            f"""sw{i} AS MATERIALIZED (
            SELECT f.i AS i,
                   CAST(SUM(CAST(floor(f.c * 1000000000 + 0.5)
                                 AS DECIMAL(19,0))
                            * CAST(floor(p.v[f.j] * 1000000000 + 0.5)
                                   AS DECIMAL(19,0))) AS DOUBLE)
                   / 1e18 AS w
            FROM covf f CROSS JOIN sv{i - 1} p
            GROUP BY f.i)"""
        )
        parts.append(
            f"""sn2_{i} AS MATERIALIZED (
            SELECT CAST(SUM(CAST(floor(w * 1000000000000 + 0.5)
                                 AS DECIMAL(19,0))
                            * CAST(floor(w * 1000000000000 + 0.5)
                                   AS DECIMAL(19,0))) AS DOUBLE)
                   / 1e24 AS n2
            FROM sw{i})"""
        )
        parts.append(
            f"""sv{i} AS MATERIALIZED (
            SELECT list(floor((w / sqrt(n2)) * 1000000000 + 0.5)
                        / 1000000000 ORDER BY i) AS v
            FROM sw{i} CROSS JOIN sn2_{i})"""
        )
    return "WITH " + ",\n".join(parts)


@register(
    "q_pca_from_state",
    oracle=f"""
    {_pca_state_with()}
    SELECT z.vec_id AS vec_id,
           floor({o_dec_to_dbl(
               "SUM(CAST((CAST(z.x AS DOUBLE) - z.m) * z.vc"
               " AS DECIMAL(30,15)))"
           )} * 1000000000 + 0.5) / 1000000000 AS score
    FROM (SELECT e.vec_id, unnest(e.embedding) AS x,
                 unnest(l.mu) AS m, unnest(p.v) AS vc
          FROM embeddings e CROSS JOIN mu_l l CROSS JOIN sv{_ITERS} p
          WHERE e.vec_id % 3 = 2) z
    GROUP BY z.vec_id
    """,
    doc="score-before-ingest streaming PCA from ACCRETED state (the 11th "
    "continuous-ingest family, operators/pcastate.py): two corpus slices "
    "fold exact decimal first/second moments into rollup state (the "
    "state is d(d+1)/2 + d rows — PCA's sufficient statistics); the "
    "served covariance is power-iterated corpus-free (matvec = one tiny "
    "join-agg per step) and the incoming slice is projected onto the "
    "served component without re-reading history — state-served == "
    "one-shot recompute is what this oracle pins",
)
def q_pca_from_state(spark, sf_dir):
    import shutil

    from rag_pipelines_spark.operators.pcastate import (
        merge_pca_moments,
        pca_project_from_state,
    )
    from rag_pipelines_spark.queries.sources import _scratch

    state = _scratch("pca-serve", sf_dir)
    shutil.rmtree(state, ignore_errors=True)  # additive state: fresh per run
    e = t(spark, sf_dir, "embeddings")
    for epoch, sl in ((0, 0), (1, 1)):
        merge_pca_moments(
            spark, e.filter(F.col("vec_id") % 3 == sl), state, epoch=epoch
        )
    incoming = e.filter(F.col("vec_id") % 3 == 2)
    return pca_project_from_state(
        spark, incoming, state, d=_D, iters=_ITERS
    )


register_checksum(
    "q_pca_project",
    key=Key("vec_id", buckets=32),
    parts=["vec_id", Part("score", scale=9)],
    doc="bounded differential form of q_pca_project for the sf-scaling "
    "sweeps (headline output is one row per vector): wraps the headline "
    "fn and oracle VERBATIM, reduced to 32 md5-prefix bucket rows — "
    "count plus an XOR of per-vector digests over "
    "(vec_id, round(score*1e9))",
)


register_checksum(
    "q_embed_quantize",
    key=Key("vec_id", buckets=32),
    sums={"code_sum": "code"},
    parts=["vec_id", "dim", "code"],
    doc="bounded differential form of q_embed_quantize for the "
    "sf-scaling sweeps (headline output is n x d rows): wraps the "
    "headline fn and oracle VERBATIM, reduced to 32 md5-prefix bucket "
    "rows — count, code sum, and an XOR of per-(vector, dim) digests",
)
