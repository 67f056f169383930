"""LM-quality tier: bigram language-model scoring (CCNet-style filter).

Engine code in operators/lm.py (scale rationale in its module docstring).
The hash-checked query keeps to integer-exact statistics; the true
log-perplexity twin is rows-only by design (cross-engine `ln` is not
bitwise-guaranteed) and is pinned by tests/test_lm.py's brute-force
differential instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rag_pipelines_spark.queries._util import t
from rag_pipelines_spark.registry import register

# The model slice: same md5 bucketing as q_hash_sample (sampling.hash_bucket)
_BUCKET_SQL = "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"


def _sql_familiarity(model_pred: str, batch_pred: str = "") -> str:
    """operators/lm.py familiarity in DuckDB: a bigram model over the docs
    `model_pred` keeps, scoring every doc, or only those `batch_pred` (a
    predicate on an unqualified doc_id) keeps."""
    p_where = f" WHERE p.{batch_pred}" if batch_pred else ""
    d_where = f" WHERE d.{batch_pred}" if batch_pred else ""
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    idx AS (
        SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM toks
    ),
    pairs AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM idx
    ),
    model AS (
        SELECT w1, w2, COUNT(*) AS c12
        FROM pairs WHERE {model_pred}
        GROUP BY w1, w2
    ),
    scored AS (
        SELECT p.doc_id,
               COUNT(*) AS n_bigrams,
               COUNT(m.c12) AS known_bigrams,
               CAST(SUM(COALESCE(m.c12, 0)) AS BIGINT) AS model_hits
        FROM pairs p LEFT JOIN model m USING (w1, w2){p_where}
        GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.known_bigrams, 0) AS known_bigrams,
           COALESCE(s.model_hits, 0) AS model_hits,
           CASE WHEN s.n_bigrams > 0
                THEN CAST(s.known_bigrams AS DOUBLE) / s.n_bigrams
           END AS familiarity
    FROM documents d LEFT JOIN scored s USING (doc_id){d_where}
    """


@register(
    "q_lm_score",
    oracle=_sql_familiarity(
        f"doc_id IN (SELECT doc_id FROM documents WHERE {_BUCKET_SQL} < 30)"
    ),
    doc="CCNet-style LM familiarity: bigram model trained on a "
    "deterministic 30%-hash slice, every doc scored by how many of its "
    "bigrams the model has seen. Integer-exact (one final IEEE division) "
    "so it hash-matches; bigrams via zero-shuffle array zip; model counts "
    "vocabulary-sized after map-side combine; scoring join AQE-managed "
    "(operators/lm.py)",
)
def q_lm_score(spark, sf_dir):
    from rag_pipelines_spark.operators.lm import familiarity, train_bigram_model

    d = t(spark, sf_dir, "documents")
    _, bi = train_bigram_model(d, model_pct=30)
    return familiarity(d, bi)


@register(
    "q_lm_from_state",
    oracle=_sql_familiarity("doc_id % 3 IN (0, 1)", "doc_id % 3 = 2"),
    doc="score-before-ingest LM familiarity from ACCRETED state: two "
    "time-sliced batches fold bigram counts into the manifest/epoch/lease "
    "rollup state (count is mergeable, so 2 merges == one-shot model over "
    "both batches), then the INCOMING third batch is scored against state "
    "alone — the continuous-ingest quality gate, with no re-read of "
    "history text (history persists only as the (w1,w2)->count table, "
    "vocabulary-sized by Zipf). The oracle recomputes the model one-shot "
    "from batches 0-1 and scores batch 2: state-served == full recompute "
    "is what the driver hash-gate certifies. Scoring against PRIOR state "
    "(not including the batch itself) keeps the statistic non-degenerate "
    "— a model containing the scored docs would make every bigram known",
)
def q_lm_from_state(spark, sf_dir):
    import shutil

    from rag_pipelines_spark.operators.lm import bigrams
    from rag_pipelines_spark.operators.rollup import merge_rollup, read_rollup
    from rag_pipelines_spark.queries.sources import _scratch

    state = _scratch("lm-serve", sf_dir)
    shutil.rmtree(state, ignore_errors=True)  # additive state: fresh per run
    d = t(spark, sf_dir, "documents")
    pairs = d.select("doc_id", F.explode(bigrams("text")).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    # tokenize-once discipline (in production each arriving batch is a
    # distinct input, grammed on arrival)
    pairs = pairs.localCheckpoint(eager=True)
    for r in (0, 1):
        merge_rollup(
            spark,
            pairs.filter(F.col("doc_id") % 3 == r),
            state,
            keys=["w1", "w2"],
            measures={"doc_id": ["count"]},
            epoch=r,
        )
    model = read_rollup(spark, state).select(
        "w1", "w2", F.col("count_doc_id").alias("c12")
    )
    batch = pairs.filter(F.col("doc_id") % 3 == 2)
    scored = (
        batch.join(model, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count("c12").alias("known_bigrams"),
            F.sum(F.coalesce("c12", F.lit(0))).alias("model_hits"),
        )
    )
    return (
        d.filter(F.col("doc_id") % 3 == 2)
        .select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("known_bigrams", F.lit(0)).alias("known_bigrams"),
            F.coalesce("model_hits", F.lit(0)).alias("model_hits"),
            F.when(
                F.col("n_bigrams") > 0,
                F.col("known_bigrams").cast("double") / F.col("n_bigrams"),
            ).alias("familiarity"),
        )
    )


@register(
    "q_lm_perplexity",
    doc="true add-one-smoothed bigram log-perplexity per doc (the CCNet "
    "statistic). rows-only BY DESIGN: cross-engine ln() is not "
    "correctly-rounded-guaranteed, so the hash-checked tier is "
    "q_lm_score's integer-exact familiarity; this twin is pinned by the "
    "brute-force differential in tests/test_lm.py",
)
def q_lm_perplexity(spark, sf_dir):
    from rag_pipelines_spark.operators.lm import perplexity, train_bigram_model

    d = t(spark, sf_dir, "documents")
    uni, bi = train_bigram_model(d, model_pct=30)
    return perplexity(d, uni, bi)
