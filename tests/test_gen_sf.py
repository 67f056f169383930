"""Generator parity: tools/gen_sf.py must emit tables whose schemas match
the driver fixtures exactly (so benches/differentials at generated SFs
exercise the very same query code paths), with deterministic content."""

from __future__ import annotations

from pathlib import Path

import pytest


@pytest.fixture(scope="module")
def spark():
    from rag_pipelines_spark.session import get_spark

    return get_spark("gen-sf-tests", shuffle_partitions=4)


DRIVER_SF = "/root/testdata/sf0.01"
TOOLS = str(Path(__file__).resolve().parent.parent / "tools")


def test_generated_schemas_match_driver_fixtures(spark, tmp_path):
    import sys

    sys.path.insert(0, TOOLS)
    import gen_sf

    out = str(tmp_path / "sfx")
    n = 500  # tiny: schema + determinism only
    gens = {
        "customer": gen_sf.gen_customer(spark, n),
        "supplier": gen_sf.gen_supplier(spark, n),
        "part": gen_sf.gen_part(spark, n),
        "orders": gen_sf.gen_orders(spark, n, n),
        "lineitem": gen_sf.gen_lineitem(spark, n, n, n),
        "events": gen_sf.gen_events(spark, n, 50),
        "documents": gen_sf.gen_documents(spark, n),
        "embeddings": gen_sf.gen_embeddings(spark, n),
    }
    from rag_pipelines_spark.io import table

    for name, df in gens.items():
        want = table(spark, DRIVER_SF, name)
        got_schema = [(f.name, f.dataType.simpleString()) for f in df.schema]
        want_schema = [(f.name, f.dataType.simpleString()) for f in want.schema]
        assert got_schema == want_schema, (name, got_schema, want_schema)

    # determinism: re-generating yields identical rows (hash-seeded, no RNG)
    a = sorted(map(tuple, gens["lineitem"].collect()))
    b = sorted(map(tuple, gen_sf.gen_lineitem(spark, n, n, n).collect()))
    assert a == b

    # referential shape: every lineitem order key exists in orders
    lk = {r.l_orderkey for r in gens["lineitem"].select("l_orderkey").distinct().collect()}
    ok = {r.o_orderkey for r in gens["orders"].select("o_orderkey").collect()}
    assert lk <= ok


def test_skewed_events_plant_heavy_hitter(spark):
    """--skew-events plants a deterministic hot user: user 0 owns ~frac of
    all rows, the rest stay ~uniform, and the schema is unchanged."""
    import sys

    sys.path.insert(0, TOOLS)
    import gen_sf

    n, users, frac = 20_000, 200, 0.25
    e = gen_sf.gen_events(spark, n, users, hot_user_frac=frac)
    counts = {r.user_id: r.n for r in e.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
    hot = counts[0]
    rest = sorted(v for k, v in counts.items() if k != 0)
    assert abs(hot / n - (frac + (1 - frac) / users)) < 0.03  # ~frac + its uniform share
    assert rest[-1] < hot / 10  # no other user is remotely close
    # deterministic: same seed family -> identical assignment
    e2 = gen_sf.gen_events(spark, n, users, hot_user_frac=frac)
    assert e.select("event_id", "user_id").exceptAll(
        e2.select("event_id", "user_id")
    ).count() == 0
