"""Exact duplicated-substring detection and removal (n-gram spans).

The corpus-dedup tier the engine still lacked between line-level dedup
(operators/dedup.py::line_dedup — whole lines) and document-level MinHash
(whole documents): find every token n-gram that occurs >= min_count times
ANYWHERE in the corpus, merge the hits into maximal per-document spans,
and optionally cut the duplicated spans out (keeping each gram's single
global first occurrence), in the spirit of exact substring deduplication
for LLM training data ("Deduplicating Training Data Makes Language Models
Better", Lee et al. 2022). The reference repo normalizes/dedups at the
whole-record tier only (json_split_and_clean.py dedups exact records);
this operator is the §2.11 north-star extension of that idea to
sub-document granularity.

Spark-first design (and the 100 TB argument):

  * grams are built per row with pure column math — positions-explode of
    ``sequence(0, size-n)``, each position slicing the once-split token
    array — so gram construction is embarrassingly parallel with ZERO
    shuffle, no Python and no interpreted lambda;
  * the one corpus-sized shuffle is the gram-frequency hash aggregate,
    which map-side combines (partial counts per partition before the
    exchange). Grams travel as md5 digests, not strings: fixed 32-byte
    shuffle width regardless of n, and md5 is engine-portable so the
    DuckDB oracle runs the identical keys. 128-bit collisions are
    negligible at any realistic corpus size (birthday bound ~2^64 grams);
  * the duplicated-gram set is usually a small fraction of all grams —
    the join back to positions is an equi-join on the digest that AQE
    converts to a broadcast when the dup set is small;
  * span merging and keeper selection are windows partitioned by doc id
    and by gram digest respectively — both bounded partitions (doc
    length / gram occurrence count), never a global sort;
  * removal re-shuffles only token rows on (doc, pos) — O(corpus tokens),
    the same inherent lower bound line_dedup documents: content must
    co-locate to compare.

Determinism: the keeper occurrence per gram is the lexicographic min
(doc id, position) — stable under any partitioning; reassembly sorts
collected (pos, tok) structs, so output never depends on row arrival
order. Both registered queries hash-match a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.dedup import rebuild_affected

__all__ = [
    "ngram_occurrences",
    "merge_covered_spans",
    "duplicated_ngram_spans",
    "substring_dedup",
    "bloom_front_door",
]


def ngram_occurrences(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, pos, gh) — every token n-gram occurrence, gh = md5 of the
    space-joined gram. pos is the 0-based index of the gram's first token.
    Docs with fewer than n tokens contribute nothing. Positions-explode
    (SCALE.md): the token array is materialized once, then sliced per
    exploded position in a plain codegen'd projection."""
    toks = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("toks")
    ).filter(F.size("toks") >= n)
    gram = F.array_join(F.slice("toks", F.col("pos") + 1, n), " ")
    return toks.select(
        "id", "toks", F.explode(F.sequence(F.lit(0), F.size("toks") - n)).alias("pos")
    ).select("id", "pos", F.md5(gram).alias("gh"))


def _dup_occurrences(occ: DataFrame, min_count: int) -> DataFrame:
    """Occurrences of grams seen >= min_count times corpus-wide."""
    dup = (
        occ.groupBy("gh")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gh")
    )
    return occ.join(dup, "gh")


def duplicated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal per-document token spans covered by duplicated n-grams.

    Returns (id_col, span_start, span_end, span_len): every maximal run of
    token positions covered by at least one occurrence of a gram that
    appears >= min_count times anywhere in the corpus (including the
    keeper occurrence — this is the detection view; removal exempts the
    keeper). span_end is inclusive; span_len = span_end - span_start + 1.

    Merging is the classic island scheme: a hit starts a new island iff
    its start exceeds (running max end of prior hits) + 1, so touching
    spans fuse into one maximal covered run.

    occ is materialized once (same two-branch recompute as
    substring_dedup — see that docstring).
    """
    occ = ngram_occurrences(df, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    hits = _dup_occurrences(occ, min_count)
    return merge_covered_spans(hits, n, id_col)


def bloom_front_door(
    batch_occ: DataFrame,
    dup_grams: DataFrame,
    *,
    m_bits: int = 1 << 20,
    k: int = 5,
    words: DataFrame | None = None,
) -> DataFrame:
    """Bloom prefilter in front of the gram-state probe join: batch gram
    occurrences whose digest is DEFINITELY not in the duplicated-gram set
    never enter the state equi-join.

    The serve join in q_substring_from_state is
    ``batch_occ ⋈ dup_grams on gh``; its shuffled batch side is every gram
    occurrence of the batch, though the overwhelming majority of grams are
    not duplicated (Zipf tail — measured ~99% singleton at sf1, SCALE.md).
    The front door builds a Bloom digest over the dup digests
    (operators/bloomfilter.py: (w, bits) words frame, m/8 bytes broadcast,
    k broadcast-hash-join probes — all map-side, zero shuffle) and keeps
    only the maybe-dup occurrences: shuffled volume drops from |batch
    grams| to |dup hits| + fpp·|batch grams|. Bloom filters have no false
    negatives, so the surviving join output — and every served span — is
    EXACTLY the unfiltered join's (driver-gate hash-checked).

    Pass ``words`` to serve from a PERSISTED bloom (merge_bloom sibling
    state, rebuilt at compaction cadence when the dup set changes); by
    default the digest is built inline — one pass over the (small) dup
    set, amortized across every batch served against the same state
    version. When the dup set is broadcastable AQE already plans a
    broadcast join and the front door adds only the m/8-byte probe; its
    regime is the 100 TB one where the dup set exceeds broadcast range
    but its bloom does not (the bloom_anti_join tiering argument).
    """
    from rag_pipelines_spark.operators.bloomfilter import bloom_build, bloom_probe

    if words is None:
        words = bloom_build(dup_grams.select("gh"), "gh", m_bits, k)
    probed = bloom_probe(batch_occ, words, "gh", m_bits, k)
    return probed.filter(F.col("_bfmaybe")).drop("_bfmaybe")


def merge_covered_spans(hits: DataFrame, n: int, id_col: str) -> DataFrame:
    """(id_col, span_start, span_end, span_len) — maximal covered runs of
    an (id, pos) hit frame where each hit covers [pos, pos+n-1]. Island
    windows partition by doc id (bounded by doc length). Shared by the
    full-recompute path and the state-served path."""
    hits = hits.select(
        "id", F.col("pos").alias("s"), (F.col("pos") + n - 1).alias("e")
    )
    by_pos = Window.partitionBy("id").orderBy("s")
    prior = by_pos.rowsBetween(Window.unboundedPreceding, -1)
    runmax = F.max("e").over(prior)
    island_flag = F.when(
        runmax.isNull() | (F.col("s") > runmax + 1), 1
    ).otherwise(0)
    run = by_pos.rowsBetween(Window.unboundedPreceding, 0)
    islands = hits.withColumn("island", F.sum(island_flag).over(run))
    return (
        islands.groupBy("id", "island")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"))
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Cut duplicated n-gram occurrences out of every document, keeping
    each gram's single global first occurrence (min (doc id, pos)).

    A token is removed iff some NON-keeper occurrence of a duplicated gram
    covers its position — even if a keeper occurrence of another gram also
    covers it (removal wins; the rule is positional, deterministic, and
    identical in the SQL oracle). Documents keep their surviving tokens in
    original order, space-joined; a doc whose every token was covered
    comes back as the empty string.

    The occurrence frame feeds two plan branches (the gram-count
    aggregate and the join probe side) whose exchanges do not
    canonicalize to one, so without materialization the gram build — an
    md5 per token n-gram, the dominant per-row cost — runs TWICE
    (measured: ~2x the scan cost at sf0.1, r10). localCheckpoint runs
    it once; the stored frame is (id, pos, 32-char digest) — O(corpus
    tokens), the op's documented shuffle lower bound anyway.
    """
    occ = ngram_occurrences(df, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    w = Window.partitionBy("gh").orderBy("id", "pos")
    nonkeeper = (
        _dup_occurrences(occ, min_count)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
    )
    # Materialized once: the removal-position table is the DECISION
    # table (guide §8) — output-sized (non-keeper span positions only) —
    # and it feeds two branches below (the affected-doc set and the
    # anti-join probe), which would otherwise recompute the dup-window
    # subtree per branch.
    covered = (
        nonkeeper.select(
            "id",
            F.explode(F.sequence("pos", F.col("pos") + n - 1)).alias("cpos"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Only AFFECTED documents (any covered position — r11: measured 4.9 %
    # of docs at sf0.1, ~0 % at the synthetic sf1; a minority in real
    # corpora too) pay the token rebuild; see rebuild_affected.
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    return rebuild_affected(src, covered, " ", out_col).withColumnRenamed(
        "id", id_col
    )
