"""Similarity search over embedding columns (north star §2.11).

Three tiers, same output contract (query id, candidate id, cosine, rank):

1. `cosine_topk_bruteforce` — exact baseline. Broadcast the (small) query
   set against the corpus; cosines from one Arrow-batched numpy pass
   (`_cosine_udf`, the scorer every tier here shares). O(|Q|·N·d) but
   embarrassingly parallel, no shuffle of the corpus.
2. `cosine_topk_lsh` — random-hyperplane LSH: sign-bit sketches bucket the
   corpus; candidates come from an equi-join on (table, bucket), exact
   cosine re-scores candidates only. Recall tunable via tables/bits.
3. `cosine_topk_ivf` — IVF-style: k sampled centroids partition the corpus
   (nearest-centroid assignment); queries probe `nprobe` nearest cells.
   The centroid assignment is one Arrow-batched matmul against the
   driver-collected centroids (`_hash_cells`, shared with the MaxSim
   pruned tier in operators/retrieval.py).

At 100 TB the corpus never moves: buckets/cells are computed in place and
the join key is the bucket id — shuffle volume is O(candidates).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k: broadcast queries × corpus, window-rank per query.
    A null embedding scores a null cosine, ranked last."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb")
    )
    c = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_emb"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("q_id") != F.col("c_id"))
    scored = pairs.withColumn(
        "cosine", _cosine_udf()(F.col("q_emb"), F.col("c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes (xorshift-free LCG on the
    driver — tiny, broadcast as literals)."""
    state = seed or 1
    planes = []
    for _ in range(tables):
        tbl = []
        for _ in range(bits):
            vec = []
            for _ in range(dim):
                state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
                vec.append(((state >> 33) / float(1 << 31)) - 1.0)
            tbl.append(vec)
        planes.append(tbl)
    return planes


def _buckets_udf(planes):
    """All-table bucket ids in one Arrow-batched matmul.

    The per-table column-expression formulation evaluated tables×bits
    interpreted higher-order folds per row — measured ~9 s for
    2000×64 vectors × 48 planes at sf0.1. One numpy ``(n,d) @ (d, T·B)``
    matmul per Arrow batch does the same work in milliseconds; this is the
    sanctioned dense-linear-algebra pandas_udf case (SCALE.md). Returns
    ``array<long>`` of length `tables` (bucket id per table); a null
    embedding yields a null bucket array (posexplode then drops the row,
    matching the null-propagation of column-expression dots).
    """
    mats = np.asarray(planes, dtype=np.float64)  # (T, B, D)
    t_count, b_count, _ = mats.shape
    proj = mats.reshape(t_count * b_count, -1).T  # (D, T*B)
    weights = np.int64(1) << np.arange(b_count, dtype=np.int64)

    @pandas_udf("array<long>")
    def f(v: pd.Series) -> pd.Series:
        vals = v.tolist()
        live = [i for i, t in enumerate(vals) if t is not None]
        out = [None] * len(vals)
        if live:
            x = np.asarray([vals[i] for i in live], dtype=np.float64)  # (n, D)
            bits = (x @ proj) > 0.0  # sign sketch, all tables at once
            ids = (bits.reshape(-1, t_count, b_count) * weights).sum(axis=2)
            for j, i in enumerate(live):
                out[i] = ids[j].tolist()
        return pd.Series(out, dtype=object)

    return f


def _cosine_udf():
    """Arrow-batched cosine over candidate pairs (numpy row-wise).

    Null on either side (or a zero norm) yields a null cosine: comparison
    predicates drop the pair, and a descending rank puts it last."""
    @pandas_udf("double")
    def f(a: pd.Series, b: pd.Series) -> pd.Series:
        av, bv = a.tolist(), b.tolist()
        live = [
            i for i in range(len(av)) if av[i] is not None and bv[i] is not None
        ]
        out = np.full(len(av), np.nan)
        if live:
            x = np.asarray([av[i] for i in live], dtype=np.float64)
            y = np.asarray([bv[i] for i in live], dtype=np.float64)
            num = (x * y).sum(axis=1)
            den = np.sqrt((x * x).sum(axis=1)) * np.sqrt((y * y).sum(axis=1))
            out[live] = num / den
        return pd.Series(out)

    return f


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share a sign-sketch bucket in any table.

    Equi-join on (table_idx, bucket) — no cartesian; exact cosine re-ranks
    the candidate set.

    One scan per side: every table's bucket comes out of a single
    Arrow-batched matmul (`_buckets_udf`) materialized as an array column,
    then posexploded (cheap generator input — no InferFiltersFromGenerate
    clone, SCALE.md), instead of `tables` unioned scans each folding
    interpreted dot products. Cross-table dedup happens AFTER scoring as a
    (q_id, c_id) max-agg, so the shuffle carries one double per candidate
    pair, never the embedding arrays.
    """
    planes = _hyperplanes(dim, bits, tables, seed)
    bucketer = _buckets_udf(planes)

    def bucketize(df: DataFrame, idc: str, vecc: str, prefix: str) -> DataFrame:
        return (
            df.select(
                F.col(idc).alias(f"{prefix}_id"),
                F.col(vecc).alias(f"{prefix}_emb"),
                bucketer(F.col(vecc)).alias("_bks"),
            )
            .select(
                f"{prefix}_id",
                f"{prefix}_emb",
                F.posexplode("_bks").alias(f"{prefix}_table", f"{prefix}_bucket"),
            )
        )

    qb = bucketize(queries, id_col, vec_col, "q")
    cb = bucketize(corpus, id_col, vec_col, "c")
    cand = (
        qb.join(
            cb,
            (qb.q_table == cb.c_table) & (qb.q_bucket == cb.c_bucket),
        )
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_emb", "c_id", "c_emb")
    )
    # identical pairs from different tables have identical cosine: max-agg
    # dedups them with map-side combine, shuffling (id, id, double) only
    scored = (
        cand.withColumn("cosine", _cosine_udf()(F.col("q_emb"), F.col("c_emb")))
        .groupBy("q_id", "c_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )


def cosine_pairs_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    threshold: float | None = None,
) -> DataFrame:
    """Self-join candidate pairs with exact cosine — never all-pairs.

    The corpus is sign-sketch bucketed once (`_buckets_udf`, one Arrow
    matmul per batch), candidates are the (a_id < b_id) pairs that share a
    (table, bucket) key in ANY table — an equi-join, so at 100 TB the
    shuffle is keyed by bucket and volume is O(candidates), not O(n²).
    Exact cosine scores candidate rows before dedup, so the cross-table
    dedup (max-agg) shuffles one double per pair, never the vectors.
    Recall is tunable via bits (bucket granularity) / tables (OR-ing);
    an optional `threshold` filters after exact scoring.

    Output: (a_id, b_id, cosine), a_id < b_id.
    """
    planes = _hyperplanes(dim, bits, tables, seed)
    bucketer = _buckets_udf(planes)
    bucketed = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_emb"),
        bucketer(F.col(vec_col)).alias("_bks"),
    ).select("_id", "_emb", F.posexplode("_bks").alias("_table", "_bucket"))
    a = bucketed.select(
        F.col("_id").alias("a_id"), F.col("_emb").alias("a_emb"), "_table", "_bucket"
    )
    b = bucketed.select(
        F.col("_id").alias("b_id"), F.col("_emb").alias("b_emb"), "_table", "_bucket"
    )
    cand = a.join(b, ["_table", "_bucket"]).filter(F.col("a_id") < F.col("b_id"))
    scored = (
        cand.withColumn("cosine", _cosine_udf()(F.col("a_emb"), F.col("b_emb")))
        .groupBy("a_id", "b_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    if threshold is not None:
        scored = scored.filter(F.col("cosine") >= threshold)
    return scored


def _collect_cents(cents: DataFrame):
    """Centroids to the driver as (cells, matrix). Centroid-sized —
    n_cells × dim doubles (448×64 ≈ 230 KB); the tier where this stops
    being tiny (~10^6 cells) is coarse-quantizer territory, where the
    centroid table itself gets an index — out of scope here."""
    rows = cents.select("cell", "cent_emb").collect()
    cells = np.asarray([r["cell"] for r in rows], dtype=np.int64)
    mat = np.asarray([r["cent_emb"] for r in rows], dtype=np.float64)
    return cells, mat


def _nearest_cells_udf(cells, mat, probes: int):
    """Top-`probes` cells per vector in one Arrow-batched matmul.

    The previous column-expression formulation folded n_cells
    interpreted dot products per row — measured 27 s to assign
    200k×64d against 448 centroids vs ~2 s for the ``(n,d) @ (d,C)``
    numpy path (the same sanctioned dense-linear-algebra pandas_udf
    case as the LSH bucketer). Deterministic: candidates ordered by
    (-sim, cell), ties broken on cell id exactly like the old struct
    sort; null embedding -> null array (explode drops the row)."""
    mat_t = mat.T  # (D, C)

    @pandas_udf("array<long>")
    def f(v: pd.Series) -> pd.Series:
        vals = v.tolist()
        live = [i for i, t in enumerate(vals) if t is not None]
        out = [None] * len(vals)
        if live:
            x = np.asarray([vals[i] for i in live], dtype=np.float64)
            sims = x @ mat_t  # (n, C)
            p = min(probes, sims.shape[1])
            if p < sims.shape[1]:
                part = np.argpartition(-sims, p - 1, axis=1)[:, :p]
            else:
                part = np.tile(np.arange(sims.shape[1]), (len(live), 1))
            for j, i in enumerate(live):
                order = sorted(part[j], key=lambda c: (-sims[j, c], cells[c]))
                out[i] = [int(cells[c]) for c in order]
        return pd.Series(out, dtype=object)

    return f


def kmeans_refine(
    corpus: DataFrame,
    cents: DataFrame,
    vec_col: str = "embedding",
    n_iters: int = 2,
) -> DataFrame:
    """Lloyd iterations over (cell, cent_emb) centroids, all DataFrame ops.

    Per iteration: (1) every corpus vector picks its nearest centroid via
    the Arrow-batched matmul against the driver-collected centroid matrix
    (map-only — the corpus never shuffles to be assigned); (2) new
    centroids = element-wise means via posexplode + partial/final agg
    keyed on (cell, pos) — the only shuffle, sized O(corpus × dim)
    scalars with map-side combine. Cells that lose all members drop out
    (standard Lloyd behavior); callers get <= the input cell count back.
    Means sum floats in partition order, so refined centroids are not
    bitwise-portable — fine for ANN bucketing, which is verified by
    recall, not hashes.
    """
    for _ in range(n_iters):
        cells, mat = _collect_cents(cents)
        nearest = _nearest_cells_udf(cells, mat, 1)
        assigned = corpus.select(
            F.element_at(nearest(F.col(vec_col)), 1).alias("cell"),
            F.posexplode(vec_col).alias("pos", "x"),
        )
        cents = (
            assigned.groupBy("cell", "pos")
            .agg((F.sum("x") / F.count("*")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cent_emb")
            )
            # centroid-sized materialization per iteration: without it the
            # lineage re-runs every PRIOR Lloyd pass for each new
            # broadcast/action (measured 100 s vs ~8 s for 2 iterations at
            # 20k x 64d), and iteration cost would grow quadratically
            .localCheckpoint(eager=True)
        )
    return cents


def _hash_cells(src: DataFrame, n_cells: int, seed: int, refine_iters: int):
    """IVF cells of a (cent_src, cent_emb) frame, collected as (cells,
    matrix): the `n_cells` vectors first in (xxhash64(cent_src, seed),
    cent_src) order, numbered 1.. in that order, then `refine_iters`
    Lloyd passes over every `cent_emb` of `src` (`kmeans_refine`).

    xxhash64 takes the seed as a second argument; string + int would cast
    the id to double (NULL for non-numeric ids) and break determinism.
    orderBy+limit compiles to TakeOrderedAndProject (top-N per partition,
    merge on driver) — no global sort. The row_number window then runs on
    the n_cells-row survivor frame only.
    """
    cents = (
        src.withColumn("h", F.xxhash64(F.col("cent_src"), F.lit(seed)))
        .orderBy("h", "cent_src")
        .limit(n_cells)
        .withColumn(
            "cell",
            # deliberately-unpartitioned window over the n_cells-row survivor
            # frame (tiny by construction); it runs in the collect below, so
            # no query plan carries it
            F.row_number().over(Window.orderBy(F.col("h"), F.col("cent_src"))),
        )
        .select("cell", "cent_emb")
    )
    if refine_iters > 0:
        cents = kmeans_refine(
            src.select("cent_emb"), cents, vec_col="cent_emb", n_iters=refine_iters
        )
    return _collect_cents(cents)


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-style approximate top-k.

    Centroids = deterministic sample of corpus vectors (hash-ordered),
    optionally Lloyd-refined (`refine_iters` — tighter cells, better
    recall per probe, same dataflow). Corpus rows are assigned to their
    nearest centroid once; queries probe their `nprobe` nearest cells only.
    """
    # Nearest-cell assignment is one Arrow-batched matmul against the
    # driver-collected centroid matrix (embedded in the UDF closure —
    # Spark broadcasts the serialized function to executors once). Zero
    # shuffle of the corpus; the only data-sized shuffle in the whole
    # operator is the (cell) candidate equi-join below.
    cells, mat = _hash_cells(
        corpus.select(
            F.col(id_col).alias("cent_src"), F.col(vec_col).alias("cent_emb")
        ),
        n_cells, seed, refine_iters,
    )

    def assign(df: DataFrame, idc: str, vecc: str, prefix: str, probes: int) -> DataFrame:
        nearest = _nearest_cells_udf(cells, mat, probes)
        return (
            df.select(
                F.col(idc).alias(f"{prefix}_id"),
                F.col(vecc).alias(f"{prefix}_emb"),
                F.explode(nearest(F.col(vecc))).alias("cell"),
            )
        )

    qa = assign(queries, id_col, vec_col, "q", nprobe)
    ca = assign(corpus, id_col, vec_col, "c", 1)
    cand = (
        qa.join(ca, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_emb", "c_id", "c_emb")
        .dropDuplicates(["q_id", "c_id"])
    )
    scored = cand.withColumn(
        "cosine", _cosine_udf()(F.col("q_emb"), F.col("c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cosine", "rank")
    )
