"""Bit-equality pins for operators/vecexpr.py (round-10 optimization).

The flat SQL builders replace zip_with/aggregate higher-order-function
decimal folds in the hot vector paths (pca, clustering, maxsim, cosine).
The optimization contract is that they are the IDENTICAL arithmetic —
these tests pin flat == HOF bitwise on real fixture embeddings, so any
future drift in the builders (cast order, literal encoding, fold
semantics) fails loudly rather than at the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_pipelines_spark.io import table
from rag_pipelines_spark.operators.vecexpr import (
    dec_to_dbl_sql,
    dlit,
    flat_dot_dec_sql,
)
from rag_pipelines_spark.queries._util import dec_to_dbl
from tests.conftest import SF_DIR_SMOKE

_D = 64


def _emb(spark):
    return table(spark, SF_DIR_SMOKE, "embeddings")


def test_flat_dot_matches_hof_fold(spark):
    """flat_dot_dec_sql(x, literal v) == _dot_dec(x, lit_array(v)) to the
    bit, including the floor-split decimal->double publication."""
    from rag_pipelines_spark.operators.pca import _dot_dec

    v = [(-1) ** i * (0.1 + 0.01 * i) for i in range(_D)]
    hof = _emb(spark).select(
        "vec_id",
        dec_to_dbl(
            _dot_dec(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                v,
            )
        ).alias("s"),
    )
    elems = [f"CAST(`embedding`[{i}] AS DOUBLE)" for i in range(_D)]
    flat = (
        _emb(spark)
        .selectExpr(
            "vec_id",
            f"{flat_dot_dec_sql(elems, [dlit(x) for x in v])} AS _sd",
        )
        .selectExpr("vec_id", f"{dec_to_dbl_sql('_sd')} AS s")
    )
    a = {r["vec_id"]: r["s"] for r in hof.collect()}
    b = {r["vec_id"]: r["s"] for r in flat.collect()}
    assert a == b  # exact float equality, not approx


def test_dlit_round_trips_doubles(spark):
    """CAST('<repr>' AS DOUBLE) restores identical IEEE bits for
    adversarial doubles (shortest-repr boundary cases)."""
    vals = [
        0.1,
        1.0 / 3.0,
        2.2250738585072014e-308,
        1.7976931348623157e308,
        -5.551115123125783e-17,
        123456789.123456789,
    ]
    row = spark.range(1).selectExpr(
        *[f"{dlit(v)} AS c{i}" for i, v in enumerate(vals)]
    ).collect()[0]
    for i, v in enumerate(vals):
        assert row[f"c{i}"] == v and repr(row[f"c{i}"]) == repr(v)
