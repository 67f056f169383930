"""Deterministic sampling/splitting (operators/sampling.py) + PII redaction."""

import pytest

from rag_pipelines_spark.functions.text import redact_pii
from rag_pipelines_spark.operators.sampling import hash_bucket, hash_split


@pytest.fixture()
def ids(spark):
    return spark.range(0, 2000).withColumnRenamed("id", "doc_id")


def test_split_proportions_and_coverage(ids):
    out = hash_split(ids, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert 0.75 * 2000 < counts["train"] < 0.85 * 2000
    assert counts["val"] > 100 and counts["test"] > 100


def test_split_stable_under_repartitioning(ids):
    a = {r["doc_id"]: r["split"] for r in hash_split(ids, "doc_id", {"a": 0.5, "b": 0.5}).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(ids.repartition(17, "doc_id"), "doc_id", {"a": 0.5, "b": 0.5}).collect()
    }
    assert a == b


def test_salt_redraws_assignment(ids):
    base = {r["doc_id"]: r["split"] for r in hash_split(ids, "doc_id", {"a": 0.5, "b": 0.5}).collect()}
    salted = {
        r["doc_id"]: r["split"]
        for r in hash_split(ids, "doc_id", {"a": 0.5, "b": 0.5}, salt="fold1").collect()
    }
    moved = sum(1 for k in base if base[k] != salted[k])
    assert 400 < moved < 1600  # ~half move on an independent re-draw


def test_bad_weights_rejected(ids):
    with pytest.raises(ValueError):
        hash_split(ids, "doc_id", {"a": 0.5, "b": 0.3})


def test_redact_pii_cases(spark):
    rows = [
        (1, "mail bob.smith+x@corp.example.co then done"),
        (2, "see https://a.b/c?d=1&e=2 and http://plain.org/x"),
        (3, "call +1 (555) 010-1234 now"),
        (4, "clean text with no pii at all"),
        (5, "combo a@b.io https://x.io/u?q=a@b.io 555-010-9999 end"),
    ]
    df = spark.createDataFrame(rows, ["i", "t"]).select("i", redact_pii("t").alias("r"))
    got = {r["i"]: r["r"] for r in df.collect()}
    assert got[1] == "mail <EMAIL> then done"
    assert got[2] == "see <URL> and <URL>"
    assert got[3] == "call <PHONE> now"
    assert got[4] == "clean text with no pii at all"
    # emails redacted before URLs, phone runs last
    assert got[5] == "combo <EMAIL> <URL> <PHONE> end"


def test_mixture_sample_proportions(spark):
    from pyspark.sql import functions as F

    from rag_pipelines_spark.operators.sampling import mixture_sample

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        # groups of size 1500 / 1000 / 500
        F.when(F.col("id") < 1500, "a")
        .when(F.col("id") < 2500, "b")
        .otherwise("c")
        .alias("g"),
    )
    out = mixture_sample(df, "g", "doc_id", {"a": 0.6, "b": 0.1, "c": 0.3})
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(
        F.count("*").alias("n")).collect()}
    # binding group: c (500 rows / 0.3 weight -> scale=1666.67);
    # quotas = floor(w * scale) = a:1000, b:166, c:500
    assert counts == {"a": 1000, "b": 166, "c": 500}
    # stable under repartitioning
    again = mixture_sample(
        df.repartition(13, "doc_id"), "g", "doc_id",
        {"a": 0.6, "b": 0.1, "c": 0.3},
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_mixture_sample_drops_unweighted_groups(spark):
    from pyspark.sql import functions as F

    from rag_pipelines_spark.operators.sampling import mixture_sample

    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keep").otherwise("drop").alias("g"),
    )
    out = mixture_sample(df, "g", "doc_id", {"keep": 1.0})
    assert {r.g for r in out.collect()} == {"keep"}
    assert out.count() == 50


def test_global_ntile_matches_sql_ntile(spark):
    from pyspark.sql import functions as F

    from rag_pipelines_spark.operators.indexing import global_ntile

    # non-unique values, n not divisible by k, ties spanning block bounds
    df = spark.range(0, 103).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )
    got = global_ntile(df, "v", "doc_id", k=4, block_size=2)
    df.createOrReplaceTempView("_ntile_in")
    want = spark.sql(
        "SELECT doc_id, v, CAST(NTILE(4) OVER (ORDER BY v, doc_id) AS LONG)"
        " AS bucket FROM _ntile_in"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # n < k: every row lands in its own bucket, no division blow-up
    tiny = spark.range(0, 3).select(
        F.col("id").alias("doc_id"), F.col("id").alias("v")
    )
    assert sorted(
        r.bucket for r in global_ntile(tiny, "v", "doc_id", k=10).collect()
    ) == [1, 2, 3]


def test_aqp_sample_error_bounded(spark):
    """The 10% hash-sample SUM estimate stays within 10% relative error
    per group on the fixtures (deterministic sample => deterministic
    error, not a statistical flake)."""
    from rag_pipelines_spark.registry import load_all

    q = load_all()["q_aqp_sum"]
    from tests.conftest import SF_DIR

    rows = q.fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # rel_err is |est-exact|/|exact| (abs denominator: a negative-sum
        # group must not make this assertion pass vacuously); NULL only
        # for an exactly-zero-sum group, which the fixture doesn't have
        assert r.rel_err is not None and 0.0 <= r.rel_err <= 0.10, (
            r.event_type,
            r.rel_err,
        )


def test_temperature_sample_quotas_and_determinism(spark):
    """T=2 quotas: floor(sqrt(n_g) * min_g(n_g/sqrt(n_g))); the smallest
    group keeps (nearly) everything, bigger groups shrink toward it;
    selection equals the brute-force md5 rank."""
    import hashlib
    import math

    from rag_pipelines_spark.operators.sampling import temperature_sample

    rows = (
        [("en", i) for i in range(100)]
        + [("zh", 1000 + i) for i in range(25)]
        + [("es", 2000 + i) for i in range(4)]
    )
    df = spark.createDataFrame(rows, ["lang", "doc_id"])
    got = sorted(
        (r.lang, r.doc_id, r.sample_rank)
        for r in temperature_sample(df, "lang", "doc_id", 2.0).collect()
    )
    ns = {"en": 100, "zh": 25, "es": 4}
    scale = min(n / math.sqrt(n) for n in ns.values())  # = sqrt(4) = 2
    quotas = {g: int(math.floor(math.sqrt(n) * scale)) for g, n in ns.items()}
    assert quotas == {"en": 20, "zh": 10, "es": 4}
    want = []
    for g, n in ns.items():
        ids = [i for gg, i in rows if gg == g]
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        want += [(g, i, rk + 1) for rk, i in enumerate(ranked[: quotas[g]])]
    assert got == sorted(want)
    # natural proportions 100:25:4 compress to 20:10:4 (ratios ~ sqrt)
    # and the schedule is layout-stable:
    again = sorted(
        (r.lang, r.doc_id, r.sample_rank)
        for r in temperature_sample(
            df.repartition(7, "doc_id"), "lang", "doc_id", 2.0
        ).collect()
    )
    assert again == got


def test_temperature_one_keeps_everything(spark):
    """T=1 is the identity weights case: scale = min n^0 ... quota_g = n_g
    for every group (natural proportions preserved)."""
    from rag_pipelines_spark.operators.sampling import temperature_sample

    rows = [("a", i) for i in range(6)] + [("b", 10 + i) for i in range(3)]
    df = spark.createDataFrame(rows, ["src", "doc_id"])
    got = temperature_sample(df, "src", "doc_id", 1.0)
    assert got.count() == 9


def test_repeat_upsample_hits_targets_and_caps(spark):
    """Targets met exactly under the cap; saturation at cap*n when the
    target is unreachable; copy expansion is md5-rank deterministic."""
    import hashlib

    from rag_pipelines_spark.operators.sampling import repeat_upsample

    rows = (
        [("big", i) for i in range(10)]
        + [("rare", 100 + i) for i in range(3)]
        + [("tiny", 200 + i) for i in range(2)]
        + [("unlisted", 300)]
    )
    df = spark.createDataFrame(rows, ["src", "doc_id"])
    got = repeat_upsample(
        df, "src", "doc_id", {"big": 10, "rare": 8, "tiny": 100}, cap=4
    ).collect()
    by = {}
    for r in got:
        by.setdefault(r.src, []).append((r.doc_id, r.copy))
    # big: target == n -> 1 copy each
    assert sorted(by["big"]) == [(i, 1) for i in range(10)]
    # rare: 8 = 2*3 + 2 -> everyone 2 copies, first 2 by md5 rank get a 3rd
    assert len(by["rare"]) == 8
    ranked = sorted(
        range(100, 103),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )
    triples = sorted(i for i, c in by["rare"] if c == 3)
    assert triples == sorted(ranked[:2])
    # tiny: target 100 unreachable under cap=4 -> saturates at 4*2 = 8
    assert len(by["tiny"]) == 8
    assert all(1 <= c <= 4 for _, c in by["tiny"])
    # unlisted group drops
    assert "unlisted" not in by


def test_repeat_upsample_zero_target_drops_group(spark):
    from rag_pipelines_spark.operators.sampling import repeat_upsample

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], ["src", "doc_id"]
    )
    got = repeat_upsample(df, "src", "doc_id", {"a": 0, "b": 2}, cap=4)
    rows = got.collect()
    assert all(r.src == "b" for r in rows)
    assert sorted((r.doc_id, r.copy) for r in rows) == [(3, 1), (3, 2)]


def test_token_budget_mixture_matches_naive_cumsum(spark):
    """The two-phase bucket implementation must admit EXACTLY the naive
    set: rank by md5(id), admit while inclusive running token sum per
    group <= budget. Brute-forced in Python across budgets that land the
    boundary in different buckets, plus the all-admitted and
    nothing-admitted edges."""
    import hashlib

    from pyspark.sql import functions as F

    from rag_pipelines_spark.operators.sampling import token_budget_mixture

    rows = [(i, "s" + str(i % 3), (i * 7) % 13 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])

    def naive(budget):
        admitted = set()
        by_group: dict = {}
        for i, g, n in rows:
            by_group.setdefault(g, []).append((hashlib.md5(str(i).encode()).hexdigest(), i, n))
        for g, lst in by_group.items():
            cum = 0
            for _rk, i, n in sorted(lst):
                cum += n
                if cum <= budget:
                    admitted.add(i)
        return admitted

    for budget in (0, 1, 13, 97, 350, 10**6):
        got = {
            r["doc_id"]
            for r in token_budget_mixture(
                df, "doc_id", "source", "n_tokens", budget
            ).collect()
        }
        assert got == naive(budget), f"budget={budget}"
    # stability under repartitioning (the whole point of hash ranking)
    got_a = {
        r["doc_id"]
        for r in token_budget_mixture(
            df.repartition(13), "doc_id", "source", "n_tokens", 97
        ).collect()
    }
    assert got_a == naive(97)
