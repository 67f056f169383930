"""Differential tests: every registered query vs its DuckDB oracle.

This mirrors the driver's t2 gate (row count + schema + order-insensitive
values) at sf0.01. Rows-only queries (oracle=None) are executed and must
return a stable schema and >= 0 rows without error.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rag_pipelines_spark.registry import load_all
from tests.conftest import SF_DIR, assert_df_equal

REGISTRY = load_all()

HASH_CHECKED = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.mark.parametrize("name", HASH_CHECKED)
def test_oracle_match(spark, oracle, name):
    q = REGISTRY[name]
    spark_df = q.fn(spark, SF_DIR)
    duck_rel = oracle.sql(q.oracle)
    assert_df_equal(spark_df, duck_rel, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    q = REGISTRY[name]
    df = q.fn(spark, SF_DIR)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0


def test_registry_names_are_wired():
    """Every query's registered name must match its oracle_sql key set."""
    assert REGISTRY, "registry is empty"
    for name, q in REGISTRY.items():
        assert name == q.name


# Near-dup texts for the fuzzy slice: corpus docs 10 and 20 share all ten
# words of bench doc 970 plus one more (Jaccard 10/11); doc 30 shares 8 of
# them plus 2 others (8/12, below 0.8).
_BENCH_WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_PLANTED_DOCS = [
    (970, _BENCH_WORDS),
    (10, _BENCH_WORDS + " lambda"),
    (20, "mu " + _BENCH_WORDS),
    (30, "alpha beta gamma delta epsilon zeta eta theta nu xi"),
    (1940, "omicron pi rho sigma tau upsilon phi chi psi omega"),
    (7, _BENCH_WORDS),
    (40, "one two three four five six seven eight"),
]


def _vec(*head):
    return [float(x) for x in head] + [0.0] * (64 - len(head))


# Label 1 holds probe vector 1000 and two neighbours above cosine 0.5 (1,
# 2) plus an orthogonal one (4); label 2 repeats the shapes under another
# label, so only same-label pairs may match.
_PLANTED_VECS = [
    (1000, 1, _vec(1, 1, 1, 1)),
    (1, 1, _vec(1, 1, 1, 0.5)),
    (2, 1, _vec(1, 1, 0.5, 0.5)),
    (4, 1, _vec(0, 0, 0, 0, 1, 1, 1, 1)),
    (3, 2, _vec(1, 1, 1, 1)),
    (5, 2, _vec(1, 0.5, 0, 0, 0.25)),
]


def test_planted_twins_match_oracle(spark, tmp_path):
    """The fuzzy-decontamination and label-blocked near-dup queries whose
    results are empty on the shared fixtures, over a planted fixture with
    known matches: Spark equals the oracle and neither side is empty."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in _PLANTED_DOCS], pa.int64()),
                "text": [s for _, s in _PLANTED_DOCS],
                "lang": ["en"] * len(_PLANTED_DOCS),
                "source": ["planted"] * len(_PLANTED_DOCS),
                "n_chars": pa.array(
                    [len(s) for _, s in _PLANTED_DOCS], pa.int64()
                ),
            }
        ),
        tmp_path / "documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v for v, _, _ in _PLANTED_VECS], pa.int64()),
                "embedding": pa.array(
                    [e for _, _, e in _PLANTED_VECS], pa.list_(pa.float32())
                ),
                "label": pa.array([lb for _, lb, _ in _PLANTED_VECS], pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    con = duckdb.connect()
    for name in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path / name}.parquet'"
        )
    try:
        for name in (
            "q_fuzzy_decontaminate_small",
            "q_embed_neardup",
            "q_embed_neardup_small",
        ):
            q = REGISTRY[name]
            spark_df = q.fn(spark, str(tmp_path))
            assert_df_equal(spark_df, con.sql(q.oracle), name)
            assert spark_df.count() > 0, f"{name}: planted matches not found"
    finally:
        con.close()
