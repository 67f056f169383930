"""Pretraining data-prep pipeline: the LLM-corpus lifecycle composed from
this repo's operators as lazy DataFrame programs.

quality gate -> corpus-wide line dedup -> minhash near-dedup ->
benchmark decontamination -> token counting + sequence packing

This is the north-star composition (the reference's clean/dedup/publish
lifecycle generalized to training-data prep). Every stage is
DataFrame-in/DataFrame-out; the only shuffles are the ones each operator
already owns (line window, signature agg, band join, packing window), and
nothing ever collects to the driver — stage attrition counts come back as
a small aggregated DataFrame, not driver-side actions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.dedup import (
    band_losers,
    line_dedup,
    minhash_band_keys,
)
from rag_pipelines_spark.operators.packing import pack_sequences
from rag_pipelines_spark.operators.textstats import (
    punct_ratio,
    stopword_ratio,
    whitespace_token_count,
    word_ngrams,
)

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")


@dataclass
class PretrainingPrepResult:
    packed: DataFrame  # surviving docs + seq_id/seq_start packing layout
    stage_counts: DataFrame  # (stage, n_docs) attrition ledger, lazy
    # stage frames persisted when persist_stages=True; call unpersist()
    # once packed/stage_counts are consumed, or the cached partitions
    # outlive the call and squeeze storage memory in long-lived sessions
    persisted: tuple[DataFrame, ...] = ()

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


def pretraining_prep_pipeline(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.005,
    gram_n: int = 5,
    token_budget: int = 512,
    pack_shards: int = 32,
    persist_stages: bool = True,
    shard_col: Column | None = None,
) -> PretrainingPrepResult:
    """Compose the four gates + packing over a raw document frame.

    `bench` carries (bench_id, text) rows of evaluation content whose
    gram_n-grams must not survive into training data (decontamination:
    a doc sharing ANY gram with bench is dropped — the conservative
    exact-substring policy; the bench gram set broadcasts, the corpus
    never shuffles for this stage).

    persist_stages: the line-dedup and near-dedup outputs each feed 2+
    downstream branches; without a cut, Spark re-executes the whole stage
    prefix per branch — the uncut executed plan holds NINE scans of the
    documents source and zero ReusedExchange nodes. At sf0.1 the cut is
    time-neutral (recompute is cheap, cache build isn't free), but at
    corpus scale 9 passes over 100 TB vs 1 is decisive, so the cut is the
    default. MEMORY_AND_DISK (spills, never OOMs); a cluster run of the
    full lifecycle would typically write each stage's survivors to
    storage instead — same cut, durable — and callers composing that way
    can pass persist_stages=False and checkpoint externally.
    """
    base = docs.select(F.col(id_col), F.col(text_col))

    # 1. quality gate — pure row-local column math, pushes into the scan
    toks = whitespace_token_count(F.col(text_col))
    quality = base.filter(
        (toks >= min_tokens)
        & (punct_ratio(F.col(text_col)) < max_punct_ratio)
        & (stopword_ratio(F.col(text_col), _STOPWORDS) > min_stopword_ratio)
    )

    # 2. corpus-wide line dedup (first-occurrence keeper), drop emptied docs
    lined = (
        line_dedup(quality, id_col, text_col, out_col="_clean")
        .filter(F.length("_clean") > 0)
        .select(F.col(id_col), F.col("_clean").alias(text_col))
    )
    if persist_stages:
        from pyspark import StorageLevel

        lined = lined.persist(StorageLevel.MEMORY_AND_DISK)

    # 3. minhash near-dedup: band collisions keep the smaller id
    dup_ids = band_losers(minhash_band_keys(lined, id_col, text_col), id_col)
    deduped = lined.join(dup_ids, id_col, "left_anti")
    if persist_stages:
        from pyspark import StorageLevel

        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)

    # 4. decontamination: any shared gram_n-gram with bench drops the doc;
    # the bench gram set broadcasts
    ws = F.split(F.lower(text_col), r"\s+")
    bench_grams = F.broadcast(
        word_ngrams(bench, ws, gram_n).select("gram").distinct()
    )
    contaminated = (
        word_ngrams(deduped, ws, gram_n, id_col)
        .join(bench_grams, "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    decontaminated = deduped.join(contaminated, id_col, "left_anti")

    # 5. token counting + sequence packing. The packing prefix-sum window
    # partitions on pack_shard = pmod(xxhash64(id), pack_shards): every
    # shard is an independent token stream packed in parallel (how real
    # packers shard the corpus), so the window shuffle is a normal hashed
    # exchange — never a single-partition global sort. A sequence is
    # identified by (pack_shard, seq_id).
    # shard_col overrides the shard assignment expression; the default
    # xxhash64 is Spark-only, so cross-engine checksum twins pass an
    # md5-prefix shard both engines compute identically.
    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(pack_shards))
    )
    counted = decontaminated.withColumn(
        "n_tokens", whitespace_token_count(F.col(text_col)).cast("long")
    ).withColumn("pack_shard", shard)
    packed = pack_sequences(
        counted, group_col="pack_shard", order_col=id_col,
        token_col="n_tokens", budget=token_budget,
    )

    def cnt(df, stage):
        return df.agg(
            F.lit(stage).alias("stage"), F.count("*").cast("long").alias("n_docs")
        )

    stage_counts = (
        cnt(base, "0_input")
        .unionByName(cnt(quality, "1_quality"))
        .unionByName(cnt(lined, "2_line_dedup"))
        .unionByName(cnt(deduped, "3_near_dedup"))
        .unionByName(cnt(decontaminated, "4_decontaminated"))
    )
    return PretrainingPrepResult(
        packed=packed,
        stage_counts=stage_counts,
        persisted=(lined, deduped) if persist_stages else (),
    )
