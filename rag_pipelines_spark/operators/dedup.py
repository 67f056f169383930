"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale contract: no all-pairs comparison ever materializes. Candidate pairs
always come from an equi-join on a *blocking key* (hash band / simhash
prefix / shingle bucket), so shuffle volume stays O(corpus), and the
expensive verification (exact Jaccard / edit distance) runs only on
candidates.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from rag_pipelines_spark.operators.state import (
    append_state,
    compact_append_state,
    live_version_dir,
)
from rag_pipelines_spark.operators.statefs import backend_for

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """One row per key, deterministically keeping the min(order_col) row.

    Equivalent to the reference's md5-RAG_ID one-record-per-URL guarantee
    (ref: fda_watcher.py:86-93,327-329) but deterministic under parallelism
    (dropDuplicates keeps an arbitrary row; min-by keeps a stable one).
    Single hash-aggregate shuffle on the key.

    Ties on order_col are broken by a row-content hash folded into a
    composite (order_col, hash) struct ordering — min_by alone would keep
    whichever duplicate a partition merge encountered first, and each
    column's min_by could even come from *different* tied rows. The shared
    composite key makes every output column come from the same, stable
    winning row (rows identical in all non-key columns are interchangeable,
    so a 64-bit hash collision between them is harmless).
    """
    others = [c for c in df.columns if c not in key_cols]
    tie = F.xxhash64(*[F.col(c) for c in others]) if others else F.lit(0)
    ordk = F.struct(F.col(order_col).alias("o"), tie.alias("t"))
    return df.groupBy(*key_cols).agg(
        *[F.min_by(c, ordk).alias(c) for c in others]
    )


def word_shingles(ws, shingle_size: int = 3):
    """Distinct word n-gram shingles of a token-array column (Arrow UDF).

    Semantics (pinned by tests/test_invariants.py and the DuckDB oracles):
      * fewer than `shingle_size` tokens -> EMPTY array (range-based,
        end-exclusive — never a partial shingle);
      * null token array -> null (split(NULL) is NULL end-to-end in SQL);
      * distinct keeps FIRST occurrence order (array_distinct semantics =
        dict.fromkeys).

    Only callers that need the distinct *set* as one array use it:
    near_dedup_pairs (exact Jaccard verification) and minhash_candidates
    (HashingTF input). minhash_band_keys' default path needs no array —
    it explodes shingle strings by positions-explode (SCALE.md), which
    is codegen'd and beats this UDF's Python hop. Within an array, the
    Arrow-batched join beats a column-expression formulation (transform
    over sequence): higher-order lambdas evaluate interpreted per element,
    measured ~9 s for 5000 docs × ~100 shingles at sf0.1 vs ~0.3 s
    batched.
    """
    @pandas_udf("array<string>")
    def f(s: pd.Series) -> pd.Series:
        out = []
        for toks in s:
            if toks is None:
                out.append(None)
                continue
            n = len(toks) - (shingle_size - 1)
            if n <= 0:
                out.append([])
                continue
            out.append(
                list(
                    dict.fromkeys(
                        " ".join(toks[i : i + shingle_size]) for i in range(n)
                    )
                )
            )
        return pd.Series(out)

    return f(ws)


# ---------------------------------------------------------------------------
# SimHash (64-bit, per-bit majority vote) — pure JVM expressions
# ---------------------------------------------------------------------------


def simhash64_df(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64, hash_fn=None
) -> DataFrame:
    """bits-wide SimHash per document.

    Shape: explode distinct tokens -> token hash -> one aggregation computing
    per-bit majority votes -> bitwise assemble. One shuffle on the doc
    id; all math stays in whole-stage codegen (no Python, no UDF).

    hash_fn maps a token Column to a long Column; default xxhash64 (fastest,
    JVM-native). An md5-derived hash (same hex in any engine) makes the
    result portable for cross-engine verification at bits<=60.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    # explode_outer + null-guarded hash: empty/whitespace-only docs keep
    # their row and land on simhash 0 (no token -> no vote -> all bits 0)
    toks = df.select(
        F.col(id_col),
        F.explode_outer(
            F.filter(
                F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+")),
                lambda x: x != F.lit(""),
            )
        ).alias("tok"),
    ).withColumn("h", F.when(F.col("tok").isNotNull(), hash_fn(F.col("tok"))))

    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                (F.shiftright("h", i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sim = F.lit(0).cast("long")
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = sim.bitwiseOR(F.shiftleft(bit, i))
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, prefix_bits: int = 16
) -> DataFrame:
    """Near-dup candidate pairs: block on the simhash high bits, verify by
    Hamming distance <= 3 (bit_count of xor). Equi-join on the prefix —
    no cartesian."""
    sh = simhash64_df(df, id_col, text_col).withColumn(
        "band", F.shiftrightunsigned("simhash", 64 - prefix_bits)
    )
    a = sh.select(
        F.col(id_col).alias("a_id"),
        F.col("simhash").alias("a_sh"),
        "band",
    )
    b = sh.select(
        F.col(id_col).alias("b_id"),
        F.col("simhash").alias("b_sh"),
        F.col("band").alias("b_band"),
    )
    pairs = a.join(b, (a.band == b.b_band) & (F.col("b_id") > F.col("a_id")))
    hamming = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh")))
    return pairs.select("a_id", "b_id", hamming.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (pyspark.ml) — banding via approxSimilarityJoin
# ---------------------------------------------------------------------------


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hash_tables: int = 5,
    shingle_size: int = 3,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Near-dup candidate pairs via MinHashLSH over word shingles.

    shingle -> HashingTF sparse vector -> MinHashLSH(seed=42) ->
    approxSimilarityJoin at jaccard-distance <= 1-threshold. The LSH join
    is an equi-join on (hash table, band value) internally — O(n) shuffle.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # token array materialized once per row — a raw split expression inside
    # the lambda would re-split per element (O(tokens^2))
    toks = df.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("ws")
    )
    docs = toks.select(
        F.col(id_col), word_shingles(F.col("ws"), shingle_size).alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=num_features
    )
    feat = tf.transform(docs)
    lsh = MinHashLSH(
        inputCol="features", outputCol="bands", numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(
        feat, feat, 1.0 - threshold, distCol="jaccard_dist"
    )
    return (
        joined.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("a_id"),
            F.col(f"datasetB.{id_col}").alias("b_id"),
            F.col("jaccard_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Line-level corpus dedup (C4/RefinedWeb-style)
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = ". ",
    out_col: str = "clean_text",
) -> DataFrame:
    """Remove every line except its FIRST corpus-wide occurrence, then
    reassemble each document (C4's line-level dedup generalized).

    First occurrence = min (doc id, line position) lexicographically, so
    the result is deterministic under any partitioning. Two inherent
    shuffles: (1) window over the line value to pick the keeper — shuffle
    volume is O(corpus text), the op's lower bound since line content must
    co-locate to compare; (2) re-agg by doc id to rebuild the text
    (collect_list + array_sort on position, so rebuild order never depends
    on row arrival). Docs whose every line was a duplicate come back with
    an empty string (left join against the input id set).
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _sep_regex(sep))).alias("pos", "line"),
    )
    w = Window.partitionBy("line").orderBy(id_col, "pos")
    # The keeper decision needs the global window (shuffle lower bound),
    # but the REBUILD does not need the whole corpus: only docs that
    # LOST a line can change (r11: 8 of 5000 docs at sf0.1). Keep only
    # the output-sized removal events (the guide §8 decision table,
    # materialized once — it feeds the affected-id set and the
    # anti-join probe) and rebuild just those docs (rebuild_affected).
    # lazy: the decision table is materialized by whichever consumer's
    # broadcast build touches it first inside the final action — an
    # eager checkpoint here cost one extra blocking job per call
    # (measured ~+0.15 s at sf0.1 where the whole query is ~0.6 s)
    removed = (
        lines.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(id_col, "pos")
        .localCheckpoint(eager=False)
    )
    return rebuild_affected(df.select(id_col, text_col), removed, sep, out_col)


def _sep_regex(sep: str) -> str:
    """`sep` escaped for F.split's regex argument."""
    return "".join("\\" + c if c in r"\.[]{}()*+?^$|" else c for c in sep)


def rebuild_affected(
    src: DataFrame, removed: DataFrame, sep: str, out_col: str
) -> DataFrame:
    """(id, out_col) for every (id, text) row of `src`: documents with a
    row in the (id, pos) removal table are split on `sep`, lose those
    positions and are re-joined with `sep` in position order; every
    other document passes its text through. NULL text comes back as ''
    (it never splits into removable pieces), and so does a document
    whose every piece was removed.

    Only AFFECTED documents pay the explode + (id, pos) shuffle + sorted
    reassembly: split-on-sep then join-with-sep is the identity for
    every string (consecutive/trailing separators round-trip as empty
    pieces), so an untouched document's rebuilt form IS its original
    text, and the corpus-sized rebuild shrinks to the affected fraction
    at any scale. The affected-id joins broadcast a tiny set.

    Single-branch pass-through (src LEFT JOIN the affected-sized
    rebuild, coalesce to the original text) instead of a
    union(untouched, affected): a union splices TWO copies of the
    source subtree into every downstream consumer, and in persist-free
    compositions (q_pretraining_prep's registered form) that fan-out
    compounds multiplicatively through later stages — measured 16->60
    exchanges in prep's static plan before this form. "" is non-NULL,
    so the coalesce keeps fully-removed docs empty.
    """
    id_col, text_col = src.columns
    pos = removed.columns[1]
    affected = removed.select(id_col).distinct()
    src = src.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("_txt")
    )
    aff = src.join(affected, id_col)
    pieces = aff.select(
        F.col(id_col),
        F.posexplode(F.split(F.col("_txt"), _sep_regex(sep))).alias(pos, "_piece"),
    )
    kept = pieces.join(removed, [id_col, pos], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(pos, "_piece"))),
                lambda s: s["_piece"],
            ),
            sep,
        ).alias(out_col)
    )
    aff_out = affected.join(rebuilt, id_col, "left").select(
        id_col, F.coalesce(out_col, F.lit("")).alias("_aff_txt")
    )
    return src.join(aff_out, id_col, "left").select(
        F.col(id_col),
        F.coalesce("_aff_txt", "_txt").alias(out_col),
    )


# ---------------------------------------------------------------------------
# Incremental near-dedup: new batches vs persisted signature state
# ---------------------------------------------------------------------------


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bkey) deterministic md5 min-hash band keys.

    Same scheme as q_minhash_neardup: per-seed min over shingle md5s,
    computed as plain projected columns under a hash-agg (codegen +
    map-side combine — never an interpreted per-element lambda), then
    `bands` keys of `n_hashes/bands` signatures each. Deterministic in
    any engine/partitioning (md5 is md5), so state written today matches
    signatures computed by any future job.

    `shingles_df` lets a caller that already built the (id, shingles)
    frame (e.g. near_dedup_pairs, which also needs the sets for exact
    verification) share the construction instead of duplicating it.
    Without it, shingles are built by positions-explode (SCALE.md) with no
    per-doc distinct: a min over a multiset equals the min over its set,
    so the signatures match the distinct-set path exactly.
    """
    rows_per_band = n_hashes // bands
    if shingles_df is not None:
        ex = shingles_df.select(F.col(id_col), F.explode("shingles").alias("x"))
    else:
        ws = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("ws")
        ).filter(F.size("ws") >= shingle_size)
        ex = ws.select(
            id_col, "ws",
            F.explode(F.sequence(F.lit(0), F.size("ws") - shingle_size)).alias("i"),
        ).select(
            id_col,
            F.array_join(F.slice("ws", F.col("i") + 1, shingle_size), " ").alias("x"),
        )
    sig = ex.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("x")))).alias(f"s{s}")
            for s in range(n_hashes)
        ]
    )
    band_arr = F.array(
        *[
            F.md5(
                F.concat(
                    *[F.col(f"s{b * rows_per_band + i}") for i in range(rows_per_band)]
                )
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "bkey")
    )


def band_candidate_pairs(
    bands: DataFrame, id_col: str, bucket_cap: int = 8192
) -> DataFrame:
    """Distinct (a_id, b_id) candidate pairs from an (id, band, bkey)
    frame — ids sharing any band bucket, a_id < b_id.

    Pairs come from COLLECTED buckets, not a bands self-join: a shingle
    UDF in the input (the `shingles_df` path of minhash_band_keys)
    defeats exchange-reuse canonicalization, so a self-join would
    compute the whole signature subtree once PER SIDE (measured 2x at
    sf10 — SCALE.md). groupBy(band,bkey) + per-bucket expansion runs
    signatures once and shuffles once; the expansion work is output-sized
    (LSH buckets hold a handful of near-dups each), never corpus-sized.

    Expansion is TWO chained Generates — (pos, a) rows, then each row
    explodes only its suffix slice — so per-row memory stays O(s) for a
    bucket of size s, never the O(s^2) single-row blob a nested transform
    would build (a degenerate bucket of identical boilerplate would hit
    the 2 GB row limit there; here its pairs spread across rows and spill
    like any join output).

    HOT buckets split (r9): a bucket larger than `bucket_cap` would
    serialize its whole s^2/2 expansion through the ONE task that owns
    its (band, bkey) shuffle key — the q_minhash_neardup sf100
    straggler (one dup-dense band bucket, everything else idle). Such a
    bucket's sorted ids split into m = ceil(s/cap) chunks and every
    chunk pair (ci <= cj) becomes its OWN row, repartitioned on
    (band, bkey, ci, cj) so the m(m+1)/2 expansion tasks spread across
    the cluster. The extra shuffle moves chunk-pair rows of <= 2*cap
    ids each — s*m ids per hot bucket, a 1/cap fraction of that
    bucket's pair OUTPUT, so the redistribution is always cheaper than
    the work it parallelizes. Pair set is exactly the union of
    within-chunk and cross-chunk pairs; ids are bucket-sorted, so
    cross-chunk rows need no suffix slice (every ca element < every cb
    element up to the final a<b filter).
    """
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    small = buckets.filter(F.size("ids") <= bucket_cap)
    step1 = small.select("ids", F.posexplode("ids").alias("_i", "a_id"))
    small_pairs = step1.select(
        "a_id",
        F.explode(
            F.slice("ids", F.col("_i") + F.lit(2), F.size("ids"))
        ).alias("b_id"),
    )

    big = buckets.filter(F.size("ids") > bucket_cap).withColumn(
        "_m", F.ceil(F.size("ids") / F.lit(bucket_cap)).cast("int")
    )
    by_ci = big.select(
        "band",
        "bkey",
        "ids",
        "_m",
        F.explode(F.sequence(F.lit(0), F.col("_m") - 1)).alias("_ci"),
    )
    by_cj = by_ci.select(
        "band",
        "bkey",
        "ids",
        "_ci",
        F.explode(F.sequence(F.col("_ci"), F.col("_m") - 1)).alias("_cj"),
    )
    chunked = by_cj.select(
        "band",
        "bkey",
        "_ci",
        "_cj",
        F.slice("ids", F.col("_ci") * bucket_cap + 1, bucket_cap).alias("ca"),
        F.slice("ids", F.col("_cj") * bucket_cap + 1, bucket_cap).alias("cb"),
    ).repartition("band", "bkey", "_ci", "_cj")
    step1b = chunked.select(
        "cb",
        (F.col("_ci") == F.col("_cj")).alias("_same"),
        F.posexplode("ca").alias("_i", "a_id"),
    )
    big_pairs = step1b.select(
        "a_id",
        F.explode(
            F.when(
                F.col("_same"),
                F.slice("cb", F.col("_i") + F.lit(2), F.size("cb")),
            ).otherwise(F.col("cb"))
        ).alias("b_id"),
    )

    return (
        small_pairs.unionByName(big_pairs)
        # strict < : position-based expansion would emit (x, x) if an id
        # ever appeared twice in a bucket (duplicate input ids); the
        # join formulation's a_id < b_id predicate excluded those
        .filter(F.col("a_id") < F.col("b_id"))
        .distinct()
    )


def near_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_size: int = 3,
) -> DataFrame:
    """Verified near-duplicate pairs: md5-minhash band candidates, then
    EXACT set-Jaccard verification at threshold_num/threshold_den.

    The full near-dedup pipeline (candidates -> verify) in one operator,
    hash-checkable in any engine because every stage is deterministic:
    md5 min-hashes (minhash_band_keys), bucket-collected candidate pairs
    (band_candidate_pairs), then exact Jaccard over the distinct shingle
    sets. The threshold compare is INTEGER cross-multiplication
    (den*inter >= num*union) — float division would flip rows whose exact
    Jaccard is a representable boundary like 4/5 (same rule as PPJoin in
    operators/setjoin.py).

    Scale: candidates never come from an all-pairs product; verification
    fetches the two shingle arrays per candidate via two equi-joins on id
    (shuffle keyed on id, candidate-sized probe side), so post-LSH work
    is output-sized. `array_intersect` on the already-distinct shingle
    arrays gives the exact intersection cardinality. The shingle frame
    feeds three plan branches (band keys + both verify sides) and the
    Arrow-UDF subtree defeats exchange reuse, so it is materialized ONCE
    via localCheckpoint (r10: Spark recomputed it per branch — three
    full shingle passes). The storage cost is the distinct-shingle
    arrays — the frame a scale deployment persists or writes out anyway
    (SCALE.md signatures-once discipline).
    """
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("ws"))
    sh = (
        toks.select(
            F.col(id_col),
            word_shingles(F.col("ws"), shingle_size).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
        .localCheckpoint(eager=True)
    )
    keys = minhash_band_keys(
        df, id_col, text_col, n_hashes, bands, shingle_size, shingles_df=sh
    )
    cand = band_candidate_pairs(keys, id_col)
    a_sh = sh.select(F.col(id_col).alias("a_id"), F.col("shingles").alias("a_sh"))
    b_sh = sh.select(F.col(id_col).alias("b_id"), F.col("shingles").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    return (
        cand.join(a_sh, "a_id")
        .join(b_sh, "b_id")
        .select(
            "a_id",
            "b_id",
            inter.alias("inter_size"),
            union.alias("union_size"),
        )
        .filter(
            F.lit(threshold_den) * F.col("inter_size")
            >= F.lit(threshold_num) * F.col("union_size")
        )
    )


# The near-dup state is an append-style state: the exactly-once append,
# the manifest addressing and the compaction rewrite are
# operators/state.py's append_state / compact_append_state (crash drills:
# tests/test_incremental_neardup.py).
_ND_STATE = "neardup state"


def neardup_state_dir(state_path: str) -> str | None:
    """Resolve the LIVE version directory of an incremental_neardup state.

    Thin wrapper over operators/state.py::live_version_dir (see that
    module for the layout and the refuse-to-look-empty contract).
    """
    return live_version_dir(state_path, what=_ND_STATE)


def incremental_neardup(
    spark,
    batch: DataFrame,
    state_path: str,
    id_col: str,
    text_col: str,
    epoch: int | None = None,
) -> DataFrame:
    """Near-dup-filter a new batch against ALL previously accepted content,
    without ever touching the old corpus text.

    The persisted state holds only (id, band, bkey) rows — ~200 bytes/doc
    regardless of document size, so at 100 TB of accepted text the state
    is a few hundred GB of keys, partitionable and broadcast-prunable by
    bkey. A new batch is dropped if any of its band keys (a) collides
    with state, or (b) collides with a smaller-id batch doc (deterministic
    within-batch keeper). Survivors' band keys append to state; returns
    the surviving rows of `batch`.

    The append runs under operators/state.py::append_state (lease, first
    init, checkpoint-reset and replay guards, commit marker); a crashed
    append leaves only uncommitted temp files, so retrying the batch is
    safe and idempotent w.r.t. verdicts (replayed content collides with
    its own accepted keys).

    `epoch` (foreachBatch's epoch_id) upgrades that idempotence from
    "verdicts preserved" to "OUTPUT preserved": state rows carry the
    epoch they were appended in and collision checks see only EARLIER
    epochs, so a replayed micro-batch either redoes the append (marker
    absent; the crash-window duplicates this can leave are invisible to
    the left_semi collision probes and swept by compaction's
    dropDuplicates) or skips it (marker present) — and either way returns
    the SAME `clean` set, letting downstream epoch-guarded merges (corpus
    stats, rollup) repair themselves after a mid-batch crash. A state dir
    must be used consistently with or without epochs (the column is part
    of the parquet schema).
    """
    new_bands = minhash_band_keys(batch, id_col, text_col).localCheckpoint(
        eager=True
    )

    live = neardup_state_dir(state_path)
    state_exists = live is not None and any(
        n.endswith(".parquet") for n in backend_for(live).listdir(live)
    )
    dup_vs_state = None
    if state_exists:
        state = spark.read.parquet(live)
        if epoch is not None:
            # replay-stable: this epoch's own keys never count as
            # collisions (a checkpoint reset raises in append_state
            # before anything is written)
            state = state.filter(
                F.col("epoch").isNull() | (F.col("epoch") < epoch)
            )
        dup_vs_state = (
            new_bands.join(state, ["band", "bkey"], "left_semi")
            .select(id_col)
            .distinct()
        )
    a = new_bands.select(
        F.col(id_col).alias("_a_id"), "band", "bkey"
    )
    b = new_bands.select(F.col(id_col).alias("_b_id"), "band", "bkey")
    dup_in_batch = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("_b_id") < F.col("_a_id"))
        .select(F.col("_a_id").alias(id_col))
        .distinct()
    )
    dups = (
        dup_in_batch.unionByName(dup_vs_state).distinct()
        if dup_vs_state is not None
        else dup_in_batch
    )
    clean = batch.join(dups, id_col, "left_anti").localCheckpoint(eager=True)

    def _append(vdir: str) -> None:
        # append_state re-resolves the live dir under the lease: a
        # compaction since the probe above may have swapped versions.
        # Verdicts stay valid: compaction is a pure row-preserving
        # repartition that carries the max epoch's marker forward.
        # Only the SURVIVORS' keys append (one row set per accepted doc).
        keys = new_bands.join(clean.select(id_col), id_col, "left_semi")
        if epoch is not None:
            keys = keys.withColumn("epoch", F.lit(epoch))
        keys.write.mode("append").parquet(vdir)

    append_state(state_path, what=_ND_STATE, epoch=epoch, write=_append)
    return clean


def compact_neardup_state(
    spark, state_path: str, num_partitions: int | None = None
) -> int:
    """Rewrite the accreted incremental_neardup state into a bounded,
    bkey-clustered file set; returns the state row count.

    incremental_neardup appends one small parquet file-set per batch, so a
    daily cadence over years accretes thousands of files (listing +
    footer-read overhead starts to dominate the (band,bkey) probe join).
    Compaction reads the whole live version ONCE and rewrites it
    hash-partitioned on bkey — collision probes against compacted state
    shuffle-prune to the matching partitions, and the file count is fixed
    at num_partitions regardless of how many batches accreted. Cadence
    guidance in SCALE.md: compact when the file count exceeds ~10x
    cluster parallelism.

    Thin wrapper over operators/state.py::compact_append_state, which
    owns the crash-safe choreography (new version dir, atomic MANIFEST
    flip, newest epoch marker carried forward, predecessor kept one
    generation, orphans GC'd) and the dropDuplicates that reclaims
    crash-window doubled keys. Single-writer via the shared lease.
    """
    return compact_append_state(
        spark, state_path, what=_ND_STATE, cluster_col="bkey",
        num_partitions=num_partitions,
    )
