"""Fixed-width histogram quantiles (operators/histogram.py): quantile
error bounded by bin width, window partitioned by key (never
data-sized)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_pipelines_spark.operators.histogram import (
    histogram_partial,
    histogram_quantile,
)
from tests.conftest import SF_DIR

WIDTH = 1.0


def test_quantile_error_bounded_by_width(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "value"
    )
    hist = histogram_partial(ev, ["event_type"], "value", WIDTH)
    for prob in (0.5, 0.95):
        est = {
            r.event_type: r[f"q{int(prob * 100)}"]
            for r in histogram_quantile(hist, ["event_type"], WIDTH, prob).collect()
        }
        exact = {
            r.event_type: r.x
            for r in ev.groupBy("event_type")
            .agg(F.expr(f"percentile(value, {prob})").alias("x"))
            .collect()
        }
        for k in exact:
            assert abs(est[k] - exact[k]) <= WIDTH + 1e-9, (prob, k)


def test_quantile_of_single_bin_key(spark):
    df = spark.createDataFrame(
        [("a", 0.2), ("a", 0.3), ("a", 0.4)], "k STRING, v DOUBLE"
    )
    hist = histogram_partial(df, ["k"], "v", WIDTH)
    est = histogram_quantile(hist, ["k"], WIDTH, 0.5).collect()[0]
    # everything in bin 0: estimate interpolates inside [0, width)
    assert 0.0 <= est.q50 <= WIDTH


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=15, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-50.0, max_value=50.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=60,
    ),
    width=st.sampled_from([0.25, 1.0, 7.5]),
    prob=st.sampled_from([0.1, 0.5, 0.9]),
)
def test_quantile_error_bound_property(spark, vals, width, prob):
    """For ARBITRARY values (negatives included), any bin width, any
    probability: the histogram estimate is within one bin width of the
    empirical-CDF (inverted-CDF / type-1) quantile — the definition the
    sketch estimates. (Linear interpolation between order statistics is a
    DIFFERENT estimator whose distance from any histogram is bounded by
    the data gap, not the bin width — e.g. p10 of [0, 2, 2].)"""
    import numpy as np

    df = spark.createDataFrame([("k", float(v)) for v in vals], "k STRING, v DOUBLE")
    hist = histogram_partial(df, ["k"], "v", width)
    est = histogram_quantile(hist, ["k"], width, prob).collect()[0][1]
    true = float(
        np.percentile(np.array(vals), prob * 100, method="inverted_cdf")
    )
    assert abs(est - true) <= width + 1e-9, (vals, width, prob, est, true)


def test_null_values_excluded_from_quantiles(spark):
    """Review finding: a NULL bin sorted first and padded every cum
    count. Nulls must be ignored entirely."""
    with_nulls = spark.createDataFrame(
        [("a", None), ("a", None), ("a", 1.5), ("a", 2.5)], "k STRING, v DOUBLE"
    )
    clean = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5)], "k STRING, v DOUBLE"
    )
    h1 = histogram_partial(with_nulls, ["k"], "v", 1.0)
    h2 = histogram_partial(clean, ["k"], "v", 1.0)
    assert sorted(map(tuple, h1.collect())) == sorted(map(tuple, h2.collect()))
    e1 = histogram_quantile(h1, ["k"], 1.0, 0.5).collect()[0].q50
    e2 = histogram_quantile(h2, ["k"], 1.0, 0.5).collect()[0].q50
    assert e1 == e2 and e1 is not None
