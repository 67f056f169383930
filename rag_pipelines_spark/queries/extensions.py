"""§2.11 — LLM-data-pipeline extensions (north star): exact/near dedup,
embedding similarity search, text analytics, chunking, fingerprinting.

Scale design notes (per operator, for the 100 TB case):
  * near-dup (MinHash/SimHash/n-gram): always *block first* (bands/buckets),
    never all-pairs — candidate pairs come from an equi-join on the bucket
    key, so the shuffle is O(data), not O(data²).
  * cosine top-k: brute force is the verifiable baseline; the scale path is
    LSH bucketing (operators/similarity.py) where only same-bucket pairs
    join. Dot products stay JVM-side via zip_with/aggregate — no Python.
  * analytics/chunking: pure per-row column expressions — embarrassingly
    parallel, no shuffle at all.

Float determinism: per-element products are computed in double (exact for
fp32 inputs), then summed as decimal(30,15) — order-independent; final
cosine assembled in double from identical components (see _util docstring).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from rag_pipelines_spark.operators.textstats import word_ngrams
from rag_pipelines_spark.operators.vecexpr import cos9, dot_dec, norm2
from rag_pipelines_spark.registry import register
from rag_pipelines_spark.queries._util import (
    Key,
    Part,
    md5_long_digest,
    register_checksum,
    t,
)

# ---------------------------------------------------------------------------
# Text analytics
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")


@register(
    "q_token_stats",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(ws)) AS BIGINT) AS total_tokens,
           CAST(SUM(len(list_distinct(ws))) AS BIGINT) AS total_uniq_tokens,
           MAX(len(ws)) AS max_tokens
    FROM toks
    GROUP BY lang
    """,
    doc="token counting per document, rolled up per language "
    "(whitespace tokenizer; GPT-2-style subword count in q_bpe_token_count)",
)
def q_token_stats(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    return (
        d.select("lang", F.size(ws).alias("n_tok"), F.size(F.array_distinct(ws)).alias("n_uniq"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_uniq").alias("total_uniq_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
    )


@register(
    "q_lang_dist",
    oracle="""
    SELECT lang,
           COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE) * 100.0
               / (SELECT COUNT(*) FROM documents) AS pct
    FROM documents
    GROUP BY lang
    """,
    doc="language distribution with percentage",
)
def q_lang_dist(spark, sf_dir):
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    # Single pass: per-lang counts, then the grand total as an unpartitioned
    # window over the (tiny) aggregated frame — no second scan of the corpus,
    # no driver-side action. The window shuffles only #langs rows.
    per_lang = d.groupBy("lang").agg(F.count("*").alias("n"))
    # deliberately-unpartitioned grand total over the #langs-row aggregate
    # frame — tiny by construction, allowlisted in the test_plans.py lint
    total = F.sum("n").over(W.partitionBy())
    return per_lang.select(
        "lang",
        "n",
        (F.col("n").cast("double") * 100.0 / total).alias("pct"),
    )


@register(
    "q_lang_id",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents
    ),
    hits AS (
        SELECT doc_id, lang,
               len(list_filter(ws, x -> x IN ('{_STOPWORDS[0]}','{_STOPWORDS[1]}','{_STOPWORDS[2]}','{_STOPWORDS[3]}','{_STOPWORDS[4]}'))) AS en_hits,
               len(list_filter(ws, x -> x IN ('el','la','que','de','los'))) AS es_hits,
               len(list_filter(ws, x -> x IN ('der','und','die','das','ein'))) AS de_hits,
               len(ws) AS n_tok
        FROM toks
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                WHEN de_hits > 0 THEN 'de'
                ELSE 'und' END AS guessed_lang,
           CAST(en_hits AS DOUBLE) / n_tok AS en_stopword_ratio
    FROM hits
    """,
    doc="language-ID heuristic: stopword-hit voting (n-gram variant would "
    "use the same shape over character shingles)",
)
def q_lang_id(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")

    def hits(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(ws, lambda x: F.array_contains(arr, x)))

    en = hits(_STOPWORDS[:5])
    es = hits(["el", "la", "que", "de", "los"])
    de = hits(["der", "und", "die", "das", "ein"])
    guess = (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        guess.alias("guessed_lang"),
        (en.cast("double") / F.size(ws)).alias("en_stopword_ratio"),
    )


@register(
    "q_quality_score",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               length(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                   AS n_punct,
               len(list_filter(string_split(lower(text), ' '),
                   x -> x IN ('{_STOPWORDS[0]}','{_STOPWORDS[1]}','{_STOPWORDS[2]}','{_STOPWORDS[3]}','{_STOPWORDS[4]}','{_STOPWORDS[5]}','{_STOPWORDS[6]}','{_STOPWORDS[7]}','{_STOPWORDS[8]}','{_STOPWORDS[9]}'))) AS n_stop
        FROM documents
    )
    SELECT doc_id,
           CAST(n_punct AS DOUBLE) / n_chars_m AS punct_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_chars_m AS DOUBLE) / n_tokens AS avg_token_len,
           CASE WHEN n_tokens >= 20
                     AND CAST(n_stop AS DOUBLE) / n_tokens > 0.01
                     AND CAST(n_punct AS DOUBLE) / n_chars_m < 0.2
                THEN 1 ELSE 0 END AS passes_quality
    FROM m
    """,
    doc="quality scoring: length/punctuation/stopword ratios + gate "
    "(Gopher/C4-style heuristics, all pure column expressions)",
)
def q_quality_score(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    n_chars = F.length("text")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda x: F.array_contains(stop_arr, x))
    )
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = n_stop.cast("double") / n_tokens
    return d.select(
        "doc_id",
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (n_chars.cast("double") / n_tokens).alias("avg_token_len"),
        F.when((n_tokens >= 20) & (stop_ratio > 0.01) & (punct_ratio < 0.2), 1)
        .otherwise(0)
        .alias("passes_quality"),
    )


@register(
    "q_gopher_rules",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               string_split(lower(text), ' ') AS lws,
               text
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(ws) AS n_words,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS word_chars,
               CAST(len(regexp_extract_all(text, '#')) AS BIGINT)
                   + CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT)
                   AS n_symbols,
               CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
                   AS BIGINT) AS alpha_words,
               CAST(len(list_filter(lws,
                   x -> x IN ('{_STOPWORDS[0]}','{_STOPWORDS[1]}','{_STOPWORDS[2]}','{_STOPWORDS[3]}','{_STOPWORDS[4]}')))
                   AS BIGINT) AS stop_hits
        FROM toks
    )
    SELECT doc_id, n_words, word_chars, n_symbols, alpha_words, stop_hits,
           CASE WHEN n_words >= 50 AND n_words <= 100000
                     AND 3 * n_words <= word_chars
                     AND word_chars <= 10 * n_words
                     AND 10 * n_symbols < n_words
                     AND 5 * alpha_words > 4 * n_words
                     AND stop_hits >= 2
                THEN 1 ELSE 0 END AS passes_gopher
    FROM m
    """,
    doc="Gopher quality rules (Rae et al. 2021) as ONE composite gate: "
    "word-count bounds, mean word length in [3,10], symbol-to-word ratio "
    "< 0.1, alphabetic-word fraction > 0.8, stop-word presence >= 2. "
    "Every threshold is evaluated in exact INTEGER cross-multiplication "
    "(3*n <= chars <= 10*n, not chars/n vs a float) so the verdict can "
    "never flip on a boundary between engines; pure per-row column math "
    "— map-only, zero shuffle, scan-bandwidth-bound at 100 TB",
)
def q_gopher_rules(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    lws = F.split(F.lower("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS[:5]])
    n_words = F.size(ws).cast("bigint")
    word_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "bigint"
    )
    n_symbols = (
        F.size(F.regexp_extract_all("text", F.lit("#"), 0))
        + F.size(F.regexp_extract_all("text", F.lit(r"\.\.\."), 0))
    ).cast("bigint")
    alpha_words = F.size(
        F.filter(ws, lambda x: x.rlike("[A-Za-z]"))
    ).cast("bigint")
    stop_hits = F.size(
        F.filter(lws, lambda x: F.array_contains(stop_arr, x))
    ).cast("bigint")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_symbols.alias("n_symbols"),
        alpha_words.alias("alpha_words"),
        stop_hits.alias("stop_hits"),
    )
    passes = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (3 * F.col("n_words") <= F.col("word_chars"))
        & (F.col("word_chars") <= 10 * F.col("n_words"))
        & (10 * F.col("n_symbols") < F.col("n_words"))
        & (5 * F.col("alpha_words") > 4 * F.col("n_words"))
        & (F.col("stop_hits") >= 2)
    )
    return m.select(
        "*", F.when(passes, 1).otherwise(0).alias("passes_gopher")
    )


# ---------------------------------------------------------------------------
# Chunking
# ---------------------------------------------------------------------------


# Size-100, stride-80 chunk rows (q_chunking, q_chunk_udtf).
_SQL_CHUNKS = """
    WITH idx AS (
        SELECT doc_id, text,
               unnest(range(0, (length(text) - 1) // 80 + 1)) AS i
        FROM documents
    )
    SELECT doc_id, i AS chunk_idx,
           substring(text, 1 + i * 80, 100) AS chunk
    FROM idx
    WHERE substring(text, 1 + i * 80, 100) <> ''
    """


@register(
    "q_chunking",
    oracle=_SQL_CHUNKS,
    doc="fixed-size overlapping chunking (size=100, stride=80) via "
    "explode(sequence) — pure column math, no shuffle",
)
def q_chunking(spark, sf_dir):
    from rag_pipelines_spark.operators.textstats import char_chunks

    return char_chunks(t(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Fingerprinting / dedup extensions
# ---------------------------------------------------------------------------


@register(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS bag_fingerprint
    FROM documents
    """,
    doc="document fingerprint: md5 over the sorted distinct token bag "
    "(order-insensitive content signature; order-sensitive rolling-hash "
    "variant in q_rolling_hash)",
)
def q_doc_fingerprint(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    bag = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))), " "
    )
    return d.select("doc_id", F.md5(bag).alias("bag_fingerprint"))


@register(
    "q_ngram_jaccard",
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2])) AS shingles
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               len(list_intersect(a.shingles, b.shingles)) AS n_common,
               len(list_distinct(list_concat(a.shingles, b.shingles))) AS n_union
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
    )
    SELECT a_id, b_id,
           CAST(n_common AS DOUBLE) / n_union AS jaccard
    FROM pairs
    """,
    doc="word-3-gram shingle Jaccard between neighbor docs, lang-blocked "
    "(the verification kernel of near-dedup; candidate generation at scale "
    "= MinHash banding, operators/dedup.py)",
)
def q_ngram_jaccard(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # materialize the token array ONCE per row: referencing the split
    # expression inside the transform lambda would re-split the text per
    # element (O(tokens^2) — measured 8s -> 0.5s at sf0.1)
    from rag_pipelines_spark.operators.dedup import word_shingles

    toks = d.select("doc_id", "lang", F.split("text", " ").alias("ws"))
    # word_shingles materializes from the ws array column ONCE per row (see
    # note above) and yields an EMPTY array for docs with <3 tokens, matching
    # the oracle's end-exclusive range semantics.
    sh = toks.select(
        "doc_id", "lang", word_shingles(F.col("ws"), 3).alias("shingles")
    )
    a = sh.select(
        F.col("doc_id").alias("a_id"),
        F.col("lang").alias("a_lang"),
        F.col("shingles").alias("a_sh"),
    )
    b = sh.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("shingles").alias("b_sh"),
    )
    pairs = a.join(b, (a.a_lang == b.b_lang) & (b.b_id == a.a_id + 1))
    n_common = F.size(F.array_intersect("a_sh", "b_sh"))
    n_union = F.size(F.array_union("a_sh", "b_sh"))
    return pairs.select(
        "a_id", "b_id", (n_common.cast("double") / n_union).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

@register(
    "q_cosine_topk",
    oracle="""
    WITH norms AS (
        SELECT vec_id, embedding,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS n2
        FROM (SELECT vec_id, embedding, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id, embedding
    ),
    pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               q.embedding AS q_emb, c.embedding AS c_emb,
               q.n2 AS qn2, c.n2 AS cn2
        FROM norms q, norms c
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    dots AS (
        SELECT q_id, c_id, qn2, cn2,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS dot
        FROM (SELECT q_id, c_id, qn2, cn2,
                     unnest(q_emb) AS x, unnest(c_emb) AS y FROM pairs)
        GROUP BY q_id, c_id, qn2, cn2
    ),
    scored AS (
        SELECT q_id, c_id,
               round(dot / (sqrt(qn2) * sqrt(cn2)), 9) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY round(dot / (sqrt(qn2) * sqrt(cn2)), 9) DESC,
                                           c_id) AS rk
        FROM dots
    )
    SELECT q_id, c_id, cosine, rk
    FROM scored WHERE rk <= 5
    """,
    doc="exact cosine top-k (brute force baseline): JVM-side zip_with dot "
    "products, window top-k per query. Scale path = LSH bucketing "
    "(operators/similarity.py) so candidates come from an equi-join",
)
def q_cosine_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    # norms once per VECTOR, not per pair (3x less decimal-fold work)
    norms = e.select("vec_id", "embedding", norm2(F.col("embedding")).alias("n2"))
    q = norms.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("qn2"),
    )
    c = norms.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.col("n2").alias("cn2"),
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("q_id") != F.col("c_id"))
    dots = pairs.select(
        "q_id",
        "c_id",
        "qn2",
        "cn2",
        dot_dec(F.col("q_emb"), F.col("c_emb")).cast("double").alias("dot"),
    )
    cosine = cos9(F.col("dot"), F.col("qn2"), F.col("cn2"))
    w = W.partitionBy("q_id").orderBy(cosine.desc(), F.col("c_id"))
    return (
        dots.withColumn("cosine", cosine)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id", "cosine", "rk")
    )


def _sql_label_norms(src: str) -> str:
    """(vec_id, label, embedding, n2) rows of `src`, n2 the exact-decimal
    squared norm (vecexpr.norm2)."""
    return f"""
        SELECT vec_id, label, embedding,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS n2
        FROM (SELECT vec_id, label, embedding, unnest(embedding) AS x
              FROM {src})
        GROUP BY vec_id, label, embedding
    """


def _sql_label_dots(pairs: str) -> str:
    """el/dots CTEs: exact-decimal dot (vecexpr.dot_dec) of every
    (a_id, b_id) norm-row pair the `pairs` join keeps."""
    return f"""
    el AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.n2 AS na2, b.n2 AS nb2,
               unnest(a.embedding) AS x, unnest(b.embedding) AS y
        FROM {pairs}
    ),
    dots AS (
        SELECT a_id, b_id, na2, nb2,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS dot
        FROM el GROUP BY a_id, b_id, na2, nb2
    )"""


@register(
    "q_embed_neardup",
    oracle=f"""
    WITH norms AS ({_sql_label_norms("embeddings")}),
    {_sql_label_dots(
        "norms a JOIN norms b ON a.label = b.label AND b.vec_id > a.vec_id"
    )}
    SELECT a_id, b_id, round(dot / (sqrt(na2) * sqrt(nb2)), 9) AS cosine
    FROM dots
    WHERE round(dot / (sqrt(na2) * sqrt(nb2)), 9) >= 0.5
    """,
    doc="embedding-cosine near-dup pairs, blocked on label (at scale the "
    "block key is an LSH bucket — same join shape, operators/similarity.py)",
)
def q_embed_neardup(spark, sf_dir):
    return _label_neardup_pairs(
        spark, sf_dir, None, F.col("b_id") > F.col("a_id")
    )


def _label_neardup_pairs(spark, sf_dir, probe_filter, pair_cond):
    """(a_id, b_id, cosine): embedding pairs in the same label block that
    pass `pair_cond` (over a_id, b_id), with exact round-9 cosine >= 0.5.
    The probe side is the embeddings slice `probe_filter` keeps (all of
    them when None)."""
    from rag_pipelines_spark.operators.similarity import _cosine_udf

    e = t(spark, sf_dir, "embeddings")
    norms = e.select(
        "vec_id", "label", "embedding", norm2(F.col("embedding")).alias("n2")
    )
    a = norms.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
        F.col("n2").alias("na2"),
    )
    b = norms if probe_filter is None else norms.filter(probe_filter)
    b = b.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"),
        F.col("n2").alias("nb2"),
    )
    pairs = a.join(b, (F.col("a_label") == F.col("b_label")) & pair_cond)
    # Cheap double prefilter before the exact-decimal scoring: a float64
    # 64-dim cosine is within ~1e-12 of the exact value, so a 1e-6 margin
    # can never drop a pair the exact filter would keep — the hash-checked
    # output stays bit-identical. The exact cosine must be GUARDED by the
    # UDF column (F.when), not filtered as a separate conjunct: a plain
    # deterministic `cosine >= 0.5` predicate gets pushed below the
    # ArrowEvalPython node into the join condition, where the interpreted
    # decimal fold then runs on every joined pair (that pushdown is what
    # made the unprefiltered version 22 s at sf0.1 — the fold was in the
    # BroadcastHashJoin's condition). Referencing the UDF output makes the
    # predicate unpushable and when() short-circuits the fold to
    # near-threshold survivors only (22 s -> ~2 s).
    approx = _cosine_udf()(F.col("a_emb"), F.col("b_emb"))
    exact = cos9(
        dot_dec(F.col("a_emb"), F.col("b_emb")).cast("double"),
        F.col("na2"),
        F.col("nb2"),
    )
    cosine = F.when(F.col("_cos_approx") >= 0.5 - 1e-6, exact)
    return (
        pairs.withColumn("_cos_approx", approx)
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= 0.5)
        .select("a_id", "b_id", "cosine")
    )


def _sql_minhash_bands(tok: str) -> str:
    """sh/sig/bands CTEs replaying operators/dedup.py minhash_band_keys
    over the `tok` relation's (doc_id, ws) word arrays: distinct word
    3-gram shingles, 8 md5 min-hashes, 4 bands of 2."""
    sigs = ",\n".join(
        f"list_aggregate(list_transform(shingles, x -> md5('{i}|' || x)), "
        f"'min') AS s{i}"
        for i in range(8)
    )
    return f"""
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(ws) - 1, 1)),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
        FROM {tok}
    ),
    sig AS (
        SELECT doc_id,
               {sigs}
        FROM sh
    ),
    bands AS (
        SELECT doc_id, 0 AS band, md5(s0 || s1) AS bkey FROM sig
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig
    )"""


# The planted near-dup corpus (_planted_neardup_corpus) and its bands.
_SQL_PLANTED_NEARDUP = f"""corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000000000, text || ' near dup tail'
        FROM documents WHERE doc_id % 10 = 0
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
    {_sql_minhash_bands("tok")}"""

# band_candidate_pairs: distinct (a_id < b_id) pairs sharing a band bucket
_SQL_BAND_PAIRS = """
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
"""


def _planted_neardup_corpus(spark, sf_dir):
    """(doc_id, text) documents plus planted near-dups: every 10th doc
    re-appears with a 3-word tail, so verification has known positives
    AND known sub-threshold rejects (short docs fall under 0.8). The id
    offset (1e12) is beyond any fixture range: at sf10 a +100000 offset
    would COLLIDE with real doc_ids, planting duplicate ids."""
    d = t(spark, sf_dir, "documents")
    mutated = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(1000000000000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup tail")).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(mutated)


@register(
    "q_near_dedup",
    oracle=f"""
    WITH {_SQL_PLANTED_NEARDUP},
    cand AS ({_SQL_BAND_PAIRS}),
    v AS (
        SELECT c.a_id, c.b_id,
               len(list_intersect(sa.shingles, sb.shingles)) AS inter_size,
               len(sa.shingles) + len(sb.shingles)
                   - len(list_intersect(sa.shingles, sb.shingles)) AS union_size
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id
    )
    SELECT a_id, b_id, inter_size, union_size
    FROM v
    WHERE 5 * inter_size >= 4 * union_size
    """,
    doc="the FULL near-dedup pipeline, hash-checked end-to-end: md5-minhash "
    "band candidates (same signatures as q_minhash_neardup) + EXACT "
    "set-Jaccard verification at 0.8 via integer cross-multiplication "
    "(5*inter >= 4*union — float division would flip boundary pairs). "
    "Promoted from rows-only in r7: the MLlib twin q_near_dedup_mllib "
    "keeps the production pyspark.ml path under a rows-only check. "
    "operators/dedup.py near_dedup_pairs",
)
def q_near_dedup(spark, sf_dir):
    from rag_pipelines_spark.operators.dedup import near_dedup_pairs

    return near_dedup_pairs(
        _planted_neardup_corpus(spark, sf_dir),
        id_col="doc_id", text_col="text", threshold_num=4, threshold_den=5,
    )


@register(
    "q_near_dedup_filter",
    oracle=f"""
    WITH {_SQL_PLANTED_NEARDUP},
    cand AS ({_SQL_BAND_PAIRS}),
    losers AS (
        SELECT DISTINCT c.b_id
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a_id
        JOIN sh sb ON sb.doc_id = c.b_id
        WHERE 5 * len(list_intersect(sa.shingles, sb.shingles))
              >= 4 * (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles)))
    )
    SELECT c.doc_id, length(c.text) AS n_chars
    FROM corpus c
    LEFT JOIN losers l ON l.b_id = c.doc_id
    WHERE l.b_id IS NULL
    """,
    doc="corpus-level near-dedup FILTER: the production move on top of "
    "q_near_dedup's verified pairs — drop every doc that is the larger "
    "id of a verified pair (greedy smaller-id keeper; transitive-closure "
    "clustering is q_dup_clusters' job), keep the rest. One broadcast-able "
    "anti-join over the loser id set; output bounded to (id, n_chars) so "
    "the row stays hash-comparable at every SF",
)
def q_near_dedup_filter(spark, sf_dir):
    from rag_pipelines_spark.operators.dedup import near_dedup_pairs

    corpus = _planted_neardup_corpus(spark, sf_dir)
    losers = (
        near_dedup_pairs(corpus, "doc_id", "text", 4, 5)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    return corpus.join(losers, "doc_id", "left_anti").select(
        "doc_id", F.length("text").alias("n_chars")
    )


@register(
    "q_near_dedup_mllib",
    oracle=None,  # MinHashLSH hash family is engine-specific — rows-only
    doc="near-dedup candidates via MinHashLSH over word shingles "
    "(pyspark.ml); deterministic seed, banding via approxSimilarityJoin. "
    "Production rows-only twin of the oracle-checked q_near_dedup "
    "(md5-minhash + exact-Jaccard verify)",
)
def q_near_dedup_mllib(spark, sf_dir):
    from rag_pipelines_spark.operators.dedup import minhash_candidates

    d = t(spark, sf_dir, "documents")
    return minhash_candidates(d, id_col="doc_id", text_col="text", threshold=0.8)


@register(
    "q_simhash",
    oracle=None,  # 64-bit simhash via xxhash64 — Spark-specific hash — rows-only
    doc="64-bit SimHash per document (xxhash64 token hashes, per-bit "
    "majority vote) — pure column expressions, no Python",
)
def q_simhash(spark, sf_dir):
    from rag_pipelines_spark.operators.dedup import simhash64_df

    d = t(spark, sf_dir, "documents")
    return simhash64_df(d, id_col="doc_id", text_col="text")


@register(
    "q_ann_lsh",
    oracle=None,  # approximate by design — recall vs brute force asserted in tests
    doc="approximate NN via random-hyperplane LSH buckets (equi-join on "
    "(table,bucket), exact re-rank of candidates only) — the 100 TB scale "
    "path for q_cosine_topk; operators/similarity.py",
)
def q_ann_lsh(spark, sf_dir):
    from rag_pipelines_spark.operators.similarity import cosine_topk_lsh

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return cosine_topk_lsh(q, e, dim=64, k=5, bits=4, tables=12)


@register(
    "q_ann_ivf",
    oracle=None,  # approximate by design — rows-only
    doc="approximate NN via IVF cells (nearest-centroid partitioning, "
    "nprobe probing) — operators/similarity.py",
)
def q_ann_ivf(spark, sf_dir):
    from rag_pipelines_spark.operators.similarity import cosine_topk_ivf

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return cosine_topk_ivf(q, e, k=5, n_cells=16, nprobe=4)


# Recursive reachability over consecutive same-lang doc pairs: the
# connected components of q_dup_clusters and q_split_leakage_safe.
_SQL_CC_REACH = """
    WITH RECURSIVE
    e0 AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM documents a JOIN documents b
          ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
    ),
    edges AS (
        SELECT a_id, b_id FROM e0
        UNION
        SELECT b_id, a_id FROM e0
    ),
    reach AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT reach.node, edges.b_id AS r
        FROM reach JOIN edges ON edges.a_id = reach.r
    )"""


@register(
    "q_dup_clusters",
    oracle=f"""{_SQL_CC_REACH}
    SELECT node AS doc_id,
           MIN(r) AS cluster_id,
           node = MIN(r) AS is_representative
    FROM reach
    GROUP BY node
    """,
    doc="dup-cluster resolution: connected components over verified "
    "near-dup pairs (edges = consecutive same-lang docs here), iterative "
    "min-label propagation vs a DuckDB recursive-CTE reachability oracle. "
    "operators/graph.py; cluster id = min doc id (deterministic keeper)",
)
def q_dup_clusters(spark, sf_dir):
    from rag_pipelines_spark.operators.graph import dup_clusters

    d = t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"))
    candidates = a.join(
        b, (F.col("b_id") == F.col("a_id") + 1) & (F.col("a_lang") == F.col("b_lang"))
    ).select("a_id", "b_id")
    return dup_clusters(candidates, d.select("doc_id"), id_col="doc_id")


@register(
    "q_split_leakage_safe",
    oracle=f"""{_SQL_CC_REACH},
    clusters AS (
        SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, cluster_id,
               CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)),
                                        1, 15)) AS BIGINT) % 100 AS b
        FROM clusters) z
    """,
    doc="leakage-safe train/val/test split: documents are assigned by "
    "the md5 bucket of their dup-CLUSTER representative (connected "
    "components over verified near-dup pairs), so a whole near-dup "
    "cluster moves as one unit and no training near-duplicate can leak "
    "into eval — the guard a per-document random split cannot give. "
    "Split assignment is one zero-shuffle column map after clustering "
    "(operators/graph.py::leakage_safe_split)",
)
def q_split_leakage_safe(spark, sf_dir):
    from rag_pipelines_spark.operators.graph import (
        dup_clusters,
        leakage_safe_split,
    )

    d = t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"))
    b = d.select(F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"))
    candidates = a.join(
        b,
        (F.col("b_id") == F.col("a_id") + 1)
        & (F.col("a_lang") == F.col("b_lang")),
    ).select("a_id", "b_id")
    clusters = dup_clusters(
        candidates, d.select("doc_id"), id_col="doc_id"
    ).select("doc_id", "cluster_id")
    return leakage_safe_split(clusters)


@register(
    "q_ngram_diversity",
    oracle=r"""
    WITH tok AS (
        SELECT lang, string_split_regex(text, '\s+') AS ws FROM documents
    ),
    pos AS (
        SELECT lang, ws, unnest(range(1, greatest(len(ws), 1) + 1)) AS i
        FROM tok
    ),
    uni AS (
        SELECT lang, ws[i] AS g FROM pos
        WHERE i <= len(ws) AND ws[i] <> ''
    ),
    bi AS (
        SELECT lang, ws[i] || ' ' || ws[i + 1] AS g FROM pos
        WHERE i < len(ws) AND ws[i] <> '' AND ws[i + 1] <> ''
    )
    SELECT u.lang,
           u.n_words, u.n_distinct_words,
           CAST(u.n_distinct_words AS DOUBLE)
               / CAST(u.n_words AS DOUBLE) AS ttr,
           b.n_bigrams, b.n_distinct_bigrams,
           CAST(b.n_distinct_bigrams AS DOUBLE)
               / CAST(b.n_bigrams AS DOUBLE) AS bigram_diversity
    FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_words
          FROM uni GROUP BY lang) u
    JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_bigrams
          FROM bi GROUP BY lang) b
      ON u.lang = b.lang
    """,
    doc="corpus diversity statistics per language: type-token ratio and "
    "bigram diversity (distinct/total) — the standard repetitiveness / "
    "mode-collapse screens for generated or scraped training data "
    "(low bigram diversity flags boilerplate-heavy slices before "
    "training sees them). Counts are exact hash-agg distincts; the two "
    "ratios divide identical integer-valued doubles, so bits match "
    "cross-engine; shuffles are |langs|-sized after map-side combine",
)
def q_ngram_diversity(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # under \s+ an empty token occurs only at the two ends, so removing it
    # drops exactly the oracle's uni- and bigrams that touch an empty token
    ws = F.array_remove(F.split("text", r"\s+"), "")
    uni, bi = (word_ngrams(d, ws, k, "lang") for k in (1, 2))
    u = uni.groupBy("lang").agg(
        F.count("*").alias("n_words"),
        F.countDistinct("gram").alias("n_distinct_words"),
    )
    b = bi.groupBy("lang").agg(
        F.count("*").alias("n_bigrams"),
        F.countDistinct("gram").alias("n_distinct_bigrams"),
    )
    return u.join(b, "lang").select(
        "lang",
        "n_words",
        "n_distinct_words",
        (
            F.col("n_distinct_words").cast("double")
            / F.col("n_words").cast("double")
        ).alias("ttr"),
        "n_bigrams",
        "n_distinct_bigrams",
        (
            F.col("n_distinct_bigrams").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("bigram_diversity"),
    )


@register(
    "q_embed_generate",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT doc_id,
               ('0x' || substring(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
               COUNT(*) AS cnt
        FROM toks GROUP BY doc_id, bucket
    )
    SELECT doc_id, bucket,
           CAST(cnt AS DOUBLE)
               / sqrt(CAST(SUM(cnt * cnt) OVER (PARTITION BY doc_id) AS DOUBLE))
               AS weight
    FROM counts
    """,
    doc="embedding generation: hashed bag-of-words, sparse L2-normalized "
    "(token -> md5-prefix bucket -> count -> normalize; dense array "
    "variant in operators/embedding.py). Bitwise-deterministic "
    "doubles: exact-int count / sqrt(exact-int sum of squares)",
)
def q_embed_generate(spark, sf_dir):
    from rag_pipelines_spark.operators.embedding import hashed_bow_sparse

    return hashed_bow_sparse(t(spark, sf_dir, "documents"), "doc_id", "text", dim=64)


@register(
    "q_hash_sample",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    doc="deterministic train/val/test split via content-hash buckets "
    "(operators/sampling.py): stable under repartitioning/cluster resize, "
    "unlike seeded randomSplit whose draw depends on partition layout",
)
def q_hash_sample(spark, sf_dir):
    from rag_pipelines_spark.operators.sampling import hash_bucket, hash_split

    d = t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).withColumn(
        "bucket", hash_bucket("doc_id")
    )


@register(
    "q_pii_redact",
    oracle=r"""
    WITH p AS (
        SELECT doc_id,
               substring(text, 1, 80)
                   || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or https://ex.org/d/'
                   || CAST(doc_id AS VARCHAR)
                   || ' tel +1 (555) 010-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                   AS t
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
               '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
    FROM p
    """,
    doc="PII redaction (emails -> <EMAIL>, URLs -> <URL>, phone runs -> "
    "<PHONE>) over text with synthesized PII; functions/text.py "
    "redact_pii. Pure regexp_replace chain — row-local, codegen'd",
)
def q_pii_redact(spark, sf_dir):
    from rag_pipelines_spark.functions.text import redact_pii

    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    pii = F.concat(
        F.substring("text", 1, 80),
        F.lit(" contact user"), did,
        F.lit("@example.com or https://ex.org/d/"), did,
        F.lit(" tel +1 (555) 010-"), F.lpad(did, 4, "0"),
    )
    return d.select("doc_id", redact_pii(pii).alias("redacted"))


# ---------------------------------------------------------------------------
# Data-quality expectations / stratified sampling / UDTF surface
# ---------------------------------------------------------------------------


@register(
    "q_dq_expectations",
    oracle="""
    SELECT 'nonempty_text' AS rule, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN length(text) > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_violations,
           CAST(SUM(CASE WHEN length(text) > 0 THEN 0 ELSE 1 END) AS DOUBLE)
               / COUNT(*) AS violation_rate
    FROM documents
    UNION ALL
    SELECT 'known_lang', COUNT(*),
           CAST(SUM(CASE WHEN lang IN ('en','de','zh','fr','es') THEN 0
                         ELSE 1 END) AS BIGINT),
           CAST(SUM(CASE WHEN lang IN ('en','de','zh','fr','es') THEN 0
                         ELSE 1 END) AS DOUBLE) / COUNT(*)
    FROM documents
    UNION ALL
    SELECT 'n_chars_consistent', COUNT(*),
           CAST(SUM(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END)
               AS BIGINT),
           CAST(SUM(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END)
               AS DOUBLE) / COUNT(*)
    FROM documents
    """,
    doc="declarative data-quality audit: every rule compiles into one "
    "aggregate pass (operators/expectations.py). Generalizes the "
    "reference's pydantic gate + dead-letter flow "
    "(pubmed_enrichment.py:58-64,384,450-456)",
)
def q_dq_expectations(spark, sf_dir):
    from rag_pipelines_spark.operators.expectations import check_expectations

    d = t(spark, sf_dir, "documents")
    return check_expectations(
        d,
        {
            "nonempty_text": F.length("text") > 0,
            "known_lang": F.col("lang").isin("en", "de", "zh", "fr", "es"),
            "n_chars_consistent": F.col("n_chars") == F.length("text"),
        },
    )


@register(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, source, rk FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents) s
    WHERE rk <= 3
    """,
    doc="deterministic stratified sample: exactly k rows per stratum, "
    "chosen by content-hash order (stable under repartitioning, unlike "
    "sampleBy's bernoulli draw). Balanced-subsampling op for training "
    "pipelines; complements q_hash_sample's proportional split",
)
def q_stratified_sample(spark, sf_dir):
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
    )


@register(
    "q_chunk_udtf",
    oracle=_SQL_CHUNKS,
    doc="Python UDTF chunker (Spark 4 lateral table function, Arrow "
    "batched) — same oracle as q_chunking, proving the UDTF and the "
    "pure-column explode(sequence) plan are equivalent; the column "
    "version is the production path (functions/udtfs.py)",
)
def q_chunk_udtf(spark, sf_dir):
    from rag_pipelines_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    t(spark, sf_dir, "documents").createOrReplaceTempView("_docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk
        FROM _docs_for_udtf d, LATERAL chunk_udtf(d.text) c
        """
    )


@register(
    "q_minhash_neardup",
    oracle=f"""
    WITH {_SQL_PLANTED_NEARDUP}
    {_SQL_BAND_PAIRS}""",
    doc="hand-rolled MinHash LSH near-dedup, fully hash-checked end-to-end "
    "(unlike the MLlib q_near_dedup, whose random hash families force a "
    "rows-only check): 8 deterministic md5 min-hashes over word-3-gram "
    "shingles, 4 bands of 2, candidates from the band-bucket equi-join — "
    "never an all-pairs compare. Planted near-dups (every 10th doc + "
    "mutated tail) give known ground truth",
)
def q_minhash_neardup(spark, sf_dir):
    from rag_pipelines_spark.operators.dedup import (
        band_candidate_pairs,
        minhash_band_keys,
    )

    corpus = _planted_neardup_corpus(spark, sf_dir)

    # signatures are explode + codegen'd hash-agg (NOT interpreted
    # array_min(transform) per seed — see minhash_band_keys); the same
    # operator feeds incremental_neardup's persisted state, so batch and
    # incremental paths can never disagree on what counts as a dup.
    # Pair expansion rationale (collected buckets, two chained Generates,
    # strict <) lives on band_candidate_pairs, which q_near_dedup's
    # verified pipeline shares.
    bands = minhash_band_keys(corpus, "doc_id", "text")
    return band_candidate_pairs(bands, "doc_id")


register_checksum(
    "q_minhash_neardup",
    count="n_pairs",
    parts=["a_id", "b_id"],
    doc="bounded differential form of q_minhash_neardup for the sf10 "
    "scaling rung (SCALE.md): the candidate-pair set reduced to ONE row — "
    "pair count plus an order-insensitive XOR of 60-bit md5 pair digests, "
    "so any missing/extra/swapped candidate flips the signature. At sf10 "
    "the raw pair list is 5.4M rows (template-heavy synthetic docs "
    "bucket together); the verified q_near_dedup output stays small "
    "because exact-Jaccard verification rejects the template collisions",
)


_SIMHASH_BITS = 60  # 15 md5 hex chars -> fits a signed 64-bit long exactly


def _simhash_md5_oracle() -> str:
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(_SIMHASH_BITS)
    )
    assemble = "\n         + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM tok WHERE tok <> ''
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM h GROUP BY doc_id
    ),
    asm AS (
        SELECT doc_id,
               {assemble} AS simhash
        FROM votes
    )
    SELECT d.doc_id, CAST(COALESCE(a.simhash, 0) AS BIGINT) AS simhash
    FROM documents d LEFT JOIN asm a USING (doc_id)
    """


def _md5_long(c, hex_chars: int = 15):
    """First hex_chars nibbles of md5 as a long — identical in any engine
    that has md5 (engine-portable replacement for xxhash64)."""
    return F.conv(F.substring(F.md5(c), 1, hex_chars), 16, 10).cast("long")


@register(
    "q_simhash_md5",
    oracle=_simhash_md5_oracle(),
    doc="60-bit SimHash per document with an md5-derived token hash — the "
    "engine-portable twin of q_simhash (whose xxhash64 is Spark-only, "
    "forcing rows-only), hash-checked bit-for-bit against DuckDB. Same "
    "plan shape: explode distinct tokens, one map-side-combinable "
    "aggregation of 60 per-bit majority votes, bitwise assemble — no UDF",
)
def q_simhash_md5(spark, sf_dir):
    from rag_pipelines_spark.operators.dedup import simhash64_df

    d = t(spark, sf_dir, "documents")
    return simhash64_df(
        d, id_col="doc_id", text_col="text", bits=_SIMHASH_BITS, hash_fn=_md5_long
    )


@register(
    "q_rolling_hash",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(
                   ws, x -> CAST(concat('0x', substr(md5(x), 1, 7)) AS BIGINT)
               ) AS hs
        FROM tok
    )
    SELECT doc_id,
           CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT), hs),
               (a, b) -> (a * 1000003 + b) % 2147483647
           ) AS BIGINT) AS fp
    FROM h
    """,
    doc="order-sensitive document fingerprint: polynomial rolling hash "
    "(base 1000003 mod 2^31-1) folded over 28-bit md5 token hashes — "
    "unlike q_doc_fingerprint's sorted-bag md5, reordering tokens changes "
    "this fp. Pure per-row fold (F.aggregate), zero shuffle; acc*base "
    "stays < 2^52 so the fold never overflows a long",
)
def q_rolling_hash(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda x: x != F.lit("")).alias("ws"),
    )
    hashed = toks.select(
        "doc_id",
        F.transform(F.col("ws"), lambda x: _md5_long(x, 7)).alias("hs"),
    )
    fp = F.aggregate(
        F.col("hs"),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(1000003) + x) % F.lit(2147483647),
    )
    return hashed.select("doc_id", fp.alias("fp"))


_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


@register(
    "q_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(
               text,
               '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'
           )) AS n_bpe_pieces,
           len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
               AS n_ws_tokens
    FROM documents
    """,
    doc="BPE-ish token counting: pieces under the GPT-2-style pre-tokenizer "
    "regex (contraction suffixes / letter runs / digit runs / punct runs / "
    "whitespace) next to plain whitespace token counts — the standard "
    "~tokens-per-doc estimator when no tokenizer model is shippable. "
    "Java regex and RE2 agree on this pattern (no backtracking constructs); "
    "per-row only, no shuffle",
)
def q_bpe_token_count(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)).alias(
            "n_bpe_pieces"
        ),
        F.size(
            F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
        ).alias("n_ws_tokens"),
    )


@register(
    "q_decontaminate",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(ws) - 3, 1)),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                        ws[i+3] || ' ' || ws[i+4])) AS sh
        FROM tok
    ),
    bench AS (
        SELECT doc_id AS bench_id, unnest(sh) AS gram
        FROM sh WHERE doc_id % 50 = 0
    ),
    corpus AS (SELECT doc_id, unnest(sh) AS gram FROM sh)
    SELECT c.doc_id, COUNT(DISTINCT b.bench_id) AS n_bench_hits
    FROM corpus c JOIN bench b USING (gram)
    WHERE c.doc_id <> b.bench_id
    GROUP BY c.doc_id
    """,
    doc="benchmark decontamination: flag training docs sharing any word "
    "5-gram with a benchmark set (here: every 50th doc stands in for the "
    "eval benchmark). Bench grams are tiny -> broadcast; the corpus is "
    "touched once (explode is map-side); one agg shuffle on doc_id. The "
    "standard eval-leakage gate an LLM data pipeline runs before training",
)
def q_decontaminate(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    # duplicate grams per doc are harmless: COUNT(DISTINCT bench_id)
    # absorbs them, so the result matches the oracle's list_distinct form
    bench = word_ngrams(
        d.filter(F.col("doc_id") % 50 == 0), ws, 5, "doc_id"
    ).select(F.col("doc_id").alias("bench_id"), "gram")
    corpus = word_ngrams(d, ws, 5, "doc_id")
    return (
        corpus.join(F.broadcast(bench), "gram")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id")
        .agg(F.countDistinct("bench_id").alias("n_bench_hits"))
    )


@register(
    "q_repetition_score",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               len(string_split(text, chr(10))) AS n_lines,
               len(list_distinct(string_split(text, chr(10)))) AS n_uniq,
               string_split(lower(text), ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(ws), 1)),
                      i -> ws[i] || ' ' || ws[i+1])) AS gram
        FROM base WHERE len(ws) >= 2
    ),
    gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram),
    gstat AS (
        SELECT doc_id, MAX(c) AS max_c, SUM(c) AS n_grams
        FROM gc GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_lines - b.n_uniq AS DOUBLE) / b.n_lines AS dup_line_frac,
           COALESCE(CAST(g.max_c AS DOUBLE) / g.n_grams, 0.0)
               AS top_bigram_frac
    FROM base b LEFT JOIN gstat g USING (doc_id)
    """,
    doc="Gopher-style repetition gates: duplicate-line fraction (row-local "
    "array math, zero shuffle) and top-bigram mass fraction (explode -> "
    "two map-side-combinable aggs on doc_id -> broadcast-back join). "
    "Catches the looping/boilerplate docs that length or stopword gates "
    "(q_quality_score) miss",
)
def q_repetition_score(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    lines = F.split("text", "\n")
    base = d.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_uniq"),
        F.split(F.lower("text"), " ").alias("ws"),
    )
    gc = (
        word_ngrams(base, "ws", 2, "doc_id")
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    gstat = gc.groupBy("doc_id").agg(
        F.max("c").alias("max_c"), F.sum("c").alias("n_grams")
    )
    return base.join(gstat, "doc_id", "left").select(
        "doc_id",
        (
            (F.col("n_lines") - F.col("n_uniq")).cast("double") / F.col("n_lines")
        ).alias("dup_line_frac"),
        F.coalesce(
            F.col("max_c").cast("double") / F.col("n_grams"), F.lit(0.0)
        ).alias("top_bigram_frac"),
    )


@register(
    "q_pack_sequences",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    laid AS (
        SELECT doc_id, source, n_tok,
               CAST(SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS seq_start
        FROM tok
    )
    SELECT doc_id, source, n_tok, seq_start, seq_start // 512 AS seq_id
    FROM laid
    """,
    doc="sequence packing: documents laid head-to-tail per source stream, "
    "each assigned to the 512-token training sequence its first token "
    "lands in — one window shuffle on the stream key, exact integer math "
    "(operators/packing.py). The post-dedup step that stops short docs "
    "wasting context-window slots",
)
def q_pack_sequences(spark, sf_dir):
    from rag_pipelines_spark.operators.packing import pack_sequences

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    return pack_sequences(d, "source", "doc_id", "n_tok", budget=512)


@register(
    "q_balance_sources",
    oracle="""
    WITH quota AS (
        SELECT MIN(n) AS q FROM (
            SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
    ),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS sample_rank
        FROM documents
    )
    SELECT r.doc_id, r.source, r.sample_rank
    FROM ranked r, quota
    WHERE r.sample_rank <= quota.q
    """,
    doc="uniform source mixing: every source deterministically downsampled "
    "to the smallest source's size via md5-rank (stable under layout, "
    "salt-rotatable) — the equal-weights case of a data-mixture schedule "
    "(operators/sampling.py balance_groups)",
)
def q_balance_sources(spark, sf_dir):
    from rag_pipelines_spark.operators.sampling import balance_groups

    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return balance_groups(d, "source", "doc_id")


@register(
    "q_line_dedup",
    oracle="""
    WITH arrs AS (
        SELECT doc_id, string_split(text, '. ') AS arr FROM documents
    ),
    idx AS (
        SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i FROM arrs
    ),
    lines AS (
        SELECT doc_id, i - 1 AS pos, arr[i] AS line FROM idx
    ),
    keeper AS (
        SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        FROM lines
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS clean_text
        FROM keeper WHERE rn = 1 GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
    doc="corpus-wide line-level dedup (C4/RefinedWeb): every sentence kept "
    "only at its first (doc_id, pos) occurrence, docs reassembled in "
    "position order — operators/dedup.py line_dedup",
)
def q_line_dedup(spark, sf_dir):
    from rag_pipelines_spark.operators.dedup import line_dedup

    d = t(spark, sf_dir, "documents")
    return line_dedup(d, id_col="doc_id", text_col="text")


@register(
    "q_pretraining_prep",
    oracle=None,  # composition of individually hash-checked stages
    doc="the composed pretraining data-prep lifecycle (quality gate -> "
    "corpus line dedup -> minhash near-dedup -> benchmark decontamination "
    "-> token packing) as one lazy program; every stage is separately "
    "oracle-checked (q_quality_score / q_line_dedup / q_minhash_neardup / "
    "q_decontaminate / q_pack_sequences) — plans/pretraining.py",
)
def q_pretraining_prep(spark, sf_dir):
    from rag_pipelines_spark.plans.pretraining import pretraining_prep_pipeline

    d = t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    # persist_stages=False: the registered query hands back a bare
    # DataFrame, so nobody could call result.unpersist() — caches would
    # outlive the call in the driver's long-lived session. Exchange-reuse
    # recomputation is acceptable at bench SFs; cluster compositions call
    # the pipeline directly and own the persist lifecycle.
    return pretraining_prep_pipeline(d, bench, persist_stages=False).packed


# Staged-CTE oracle of the composed lifecycle, shared by the full
# checksum twin and the sf100-bounded variant — {corpus_pred} narrows the
# CORPUS side only (the 5-gram/shingle CTEs that OOM DuckDB at sf100);
# the benchmark side stays the full table in both. The near-dedup stage
# is _sql_minhash_bands over the line-deduped `mtok` words.
_PRETRAIN_CHECKSUM_ORACLE_TMPL = rf"""
    WITH quality AS (
        SELECT doc_id, text FROM documents
        WHERE {{corpus_pred}} len(string_split_regex(trim(text), '\s+')) >= 10
          AND CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                   AS DOUBLE) / length(text) < 0.2
          AND CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                  x -> x IN ('the','a','of','and','to','in','is','on','for','it')))
                   AS DOUBLE)
              / len(string_split_regex(lower(text), '\s+')) > 0.005
    ),
    arrs AS (SELECT doc_id, string_split(text, '. ') AS arr FROM quality),
    idx AS (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i FROM arrs),
    lns AS (SELECT doc_id, i - 1 AS pos, arr[i] AS line FROM idx),
    keeper AS (
        SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        FROM lns
    ),
    lined AS (
        SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS text
        FROM keeper WHERE rn = 1 GROUP BY doc_id
        HAVING length(string_agg(line, '. ' ORDER BY pos)) > 0
    ),
    mtok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM lined),
    {_sql_minhash_bands('mtok')},
    dups AS (
        SELECT DISTINCT b.doc_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    deduped AS (
        SELECT doc_id, text FROM lined
        WHERE doc_id NOT IN (SELECT doc_id FROM dups)
    ),
    b_tok AS (
        SELECT string_split_regex(lower(text), '\s+') AS ws
        FROM documents WHERE doc_id % 97 = 0
    ),
    bench_grams AS (
        SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                        ws[i+3] || ' ' || ws[i+4] AS gram
        FROM (SELECT ws, unnest(range(1, greatest(len(ws) - 4, 1) + 1)) AS i
              FROM b_tok)
        WHERE i <= len(ws) - 4
    ),
    c_tok AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM deduped
    ),
    contaminated AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 4, 1) + 1)) AS i
              FROM c_tok)
        WHERE i <= len(ws) - 4
          AND (ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
               ws[i+3] || ' ' || ws[i+4]) IN (SELECT gram FROM bench_grams)
    ),
    counted AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 32 AS pack_shard
        FROM deduped
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    laid AS (
        SELECT doc_id, n_tokens, pack_shard,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY pack_shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS seq_start
        FROM counted
    )
    SELECT pack_shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT seq_start // 512) AS BIGINT) AS n_seqs,
           CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
           bit_xor(CAST(concat('0x', substr(md5(
               CAST(doc_id AS VARCHAR) || '|' || CAST(n_tokens AS VARCHAR) || '|' ||
               CAST(seq_start AS VARCHAR) || '|' ||
               CAST(seq_start // 512 AS VARCHAR)), 1, 15)) AS BIGINT)) AS xor_sig
    FROM laid
    GROUP BY pack_shard ORDER BY pack_shard
    """


def _pretrain_checksum(spark, sf_dir, corpus_pred=None):
    """The composed lifecycle over the documents `corpus_pred` keeps (all
    of them when None) against the %97 benchmark slice of the full table,
    reduced to the per-shard rows of _PRETRAIN_CHECKSUM_ORACLE_TMPL."""
    from rag_pipelines_spark.plans.pretraining import pretraining_prep_pipeline

    d = t(spark, sf_dir, "documents")
    corpus = d if corpus_pred is None else d.filter(corpus_pred)
    bench = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(32),
    )
    packed = pretraining_prep_pipeline(
        corpus, bench, persist_stages=False, shard_col=shard
    ).packed
    seq_id = F.expr("seq_start div 512")
    return (
        packed.groupBy("pack_shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(seq_id).cast("long").alias("n_seqs"),
            F.sum("n_tokens").alias("tok_sum"),
            F.bit_xor(
                md5_long_digest(
                    F.col("doc_id"), F.col("n_tokens"), F.col("seq_start"), seq_id
                )
            ).alias("xor_sig"),
        )
        .orderBy("pack_shard")
    )


@register(
    "q_pretraining_prep_checksum",
    oracle=_PRETRAIN_CHECKSUM_ORACLE_TMPL.format(corpus_pred=""),
    doc="hash-certified twin of the flagship composed lifecycle "
    "(q_pretraining_prep): the staged CTE oracle replays quality gate -> "
    "corpus line dedup -> md5-minhash near-dedup -> 5-gram benchmark "
    "decontamination -> per-shard prefix-sum packing, and the result is "
    "reduced to 32 per-shard rows (doc count, sequence count, token sum, "
    "bit_xor of per-doc layout digests) so every surviving doc's packed "
    "position is pinned. The only semantic substitution vs the headline "
    "query is the shard key: pmod(md5-prefix, 32) instead of "
    "pmod(xxhash64, 32), because DuckDB has no xxhash64 — an explicit "
    "shard_col the pipeline accepts for exactly this purpose",
)
def q_pretraining_prep_checksum(spark, sf_dir):
    return _pretrain_checksum(spark, sf_dir)


@register(
    "q_pretraining_prep_checksum_small",
    oracle=_PRETRAIN_CHECKSUM_ORACLE_TMPL.format(
        corpus_pred="doc_id % 10 = 0 AND"
    ),
    doc="sf100-grade bounded twin of the flagship lifecycle (the "
    "q_fuzzy_decontaminate_small pattern): the SAME composed pipeline "
    "and the SAME staged-CTE oracle, with the corpus side narrowed to "
    "the deterministic doc_id % 10 == 0 tenth — the benchmark side and "
    "every pipeline stage stay identical. Exists because the full "
    "twin's DuckDB oracle OOMs >52 GiB at sf100 (a VERIFY-side ceiling, "
    "not a plan defect): at sf100 this variant still pushes 500k docs "
    "through quality -> line dedup -> minhash -> decontaminate -> pack "
    "while the oracle stays within DuckDB's memory, so the lifecycle "
    "keeps a hash-certified row on the top rung of the scale ladder",
)
def q_pretraining_prep_checksum_small(spark, sf_dir):
    return _pretrain_checksum(spark, sf_dir, F.col("doc_id") % 10 == 0)


# tok/pos/grams/feats CTEs of operators/dsir.py hashed_ngram_features:
# every word uni- and bigram of a doc, md5-hashed into 10k buckets.
_SQL_HASHED_FEATS = r"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
        FROM documents
    ),
    pos AS (
        SELECT doc_id, ws, unnest(range(1, greatest(len(ws), 1) + 1)) AS i
        FROM tok
    ),
    grams AS (
        SELECT doc_id, ws[i] AS g FROM pos WHERE i <= len(ws)
        UNION ALL
        SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM pos
        WHERE i < len(ws)
    ),
    feats AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 10000
                   AS bucket
        FROM grams
    )"""

# DSIR's bucket-count join (given raw_counts(bucket, cr); the target is
# every 50th doc) and its per-doc score: the 6-decimal log-ratios summed
# as DECIMAL(28,6), then split at the floor so both engines render the
# same double.
_SQL_DSIR_COUNTS = """tgt_counts AS (
        SELECT bucket, COUNT(*) AS ct FROM feats
        WHERE doc_id % 50 = 0 GROUP BY bucket
    ),
    counts AS (
        SELECT COALESCE(r.bucket, t.bucket) AS bucket,
               COALESCE(cr, 0) AS cr, COALESCE(ct, 0) AS ct
        FROM raw_counts r FULL OUTER JOIN tgt_counts t ON r.bucket = t.bucket
    )"""

_SQL_DSIR_LOGW = """(CAST(FLOOR(SUM(CAST(lr AS DECIMAL(28,6)))) AS DOUBLE)
            + CAST(SUM(CAST(lr AS DECIMAL(28,6)))
                   - FLOOR(SUM(CAST(lr AS DECIMAL(28,6)))) AS DOUBLE)) AS logw"""

_DSIR_ORACLE = f"""{_SQL_HASHED_FEATS},
    raw_counts AS (SELECT bucket, COUNT(*) AS cr FROM feats GROUP BY bucket),
    {_SQL_DSIR_COUNTS},
    lr AS (
        SELECT bucket,
               round(ln((ct + 1) / CAST((SELECT SUM(ct) FROM counts) + 10000
                                        AS DOUBLE))
                   - ln((cr + 1) / CAST((SELECT SUM(cr) FROM counts) + 10000
                                        AS DOUBLE)), 6) AS lr
        FROM counts
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           {_SQL_DSIR_LOGW}
    FROM feats f JOIN lr USING (bucket)
    GROUP BY f.doc_id
    """


@register(
    "q_dsir_weights",
    oracle=_DSIR_ORACLE,
    doc="DSIR importance weighting (Xie et al. 2023, operators/dsir.py): "
    "score every corpus doc by sum of ln p_target/p_raw over its hashed "
    "word uni+bigram features (10k buckets, add-1 smoothing); every 50th "
    "doc stands in for the curated target set. Deterministic top-k "
    "selection = ORDER BY (logw DESC, doc_id) on this output. Both "
    "n-gram distributions are bucket-count hash-aggs (shuffle = 10k rows, "
    "never the corpus), the log-ratio table broadcasts, totals come from "
    "a broadcast 1-row agg over the 10k-row counts frame (r9: replaced "
    "the tiny-frame window so no lint exemption is needed), and per-doc "
    "scores decimal-fold round-6 log-ratios so both engines produce "
    "identical doubles",
)
def q_dsir_weights(spark, sf_dir):
    from rag_pipelines_spark.operators.dsir import dsir_logweights

    d = t(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 50 == 0)
    return dsir_logweights(d, target, "doc_id", "text", n_buckets=10_000)


register_checksum(
    "q_dsir_weights",
    key=Key("doc_id", buckets=32),
    count="n_docs",
    sums={"feats_sum": "n_feats"},
    parts=["doc_id", "n_feats", Part("logw", scale=6)],
    doc="bounded differential form of q_dsir_weights for the sf-scaling "
    "sweeps (output is one row per corpus doc — over the harness row cap "
    "from sf100 on): wraps the headline fn and oracle VERBATIM (shared "
    "_DSIR_ORACLE constant — the two cannot diverge) and reduces to 32 "
    "md5-prefix bucket rows: doc count, feature total, and an XOR of "
    "per-doc digests over (doc_id, n_feats, round(logw*1e6)). logw is a "
    "6-decimal decimal sum rendered to double, so logw*1e6 rounds back "
    "to the exact integer in both engines — floats never enter the md5 "
    "digest as formatted strings",
)


def _q_dsir_select_fn(spark, sf_dir):
    from rag_pipelines_spark.operators.dsir import dsir_gumbel_topk

    d = t(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 50 == 0)
    return dsir_gumbel_topk(
        d, target, "doc_id", "text", k=100, n_buckets=10_000
    )


register(
    "q_dsir_select",
    oracle=f"""
    SELECT doc_id, n_feats, logw, sample_rank FROM (
        SELECT doc_id, n_feats, logw,
               row_number() OVER (ORDER BY logw + round(-ln(-ln(
                   (CAST(concat('0x', substr(md5(
                        CAST(doc_id AS VARCHAR) || '|gumbel'), 1, 15))
                        AS BIGINT) + 1) / 1152921504606846978.0)), 6)
                   DESC, doc_id) AS sample_rank
        FROM ({_DSIR_ORACLE}) base
    ) WHERE sample_rank <= 100
    """,
    doc="DSIR's selection step end-to-end: sample 100 docs without "
    "replacement with probability proportional to exp(logw) via "
    "Gumbel-top-k (Kool et al. 2019) — noise seeded from md5(id|salt) "
    "so both engines, and any partitioning, draw the IDENTICAL sample; "
    "round-6 on the noise kills libm ulp divergence before the "
    "rank-deciding addition. The top-k executes as "
    "TakeOrderedAndProject (per-partition heaps + k-row driver merge), "
    "never a global sort (operators/dsir.py dsir_gumbel_topk)",
)(_q_dsir_select_fn)


@register(
    "q_dsir_from_state",
    oracle=f"""{_SQL_HASHED_FEATS},
    raw_counts AS (
        SELECT bucket, COUNT(*) AS cr FROM feats
        WHERE doc_id % 3 IN (0, 1) GROUP BY bucket
    ),
    {_SQL_DSIR_COUNTS},
    tot AS (SELECT SUM(cr) AS rt, SUM(ct) AS tt FROM counts),
    lr AS (
        SELECT bucket,
               round(ln((ct + 1) / CAST(tt + 10000 AS DOUBLE))
                   - ln((cr + 1) / CAST(rt + 10000 AS DOUBLE)), 6) AS lr
        FROM counts, tot
    ),
    scored AS (
        SELECT f.doc_id,
               COALESCE(l.lr, (
                   SELECT round(ln(1 / CAST(tt + 10000 AS DOUBLE))
                              - ln(1 / CAST(rt + 10000 AS DOUBLE)), 6)
                   FROM tot
               )) AS lr
        FROM feats f LEFT JOIN lr l USING (bucket)
        WHERE f.doc_id % 3 = 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           {_SQL_DSIR_LOGW}
    FROM scored GROUP BY doc_id
    """,
    doc="score-before-ingest DSIR from ACCRETED state (the 9th "
    "continuous-ingest family): two time-sliced corpus batches fold "
    "their hashed-feature bucket counts into manifest/epoch/lease "
    "rollup state (counts are mergeable, so 2 merges == one-shot agg "
    "over both batches); the target-side distribution is computed ONCE "
    "from the curated set and FROZEN into its own state (the annstate "
    "frozen-seeds discipline); then the INCOMING third batch is scored "
    "against state alone — history persists only as the <=10k-row "
    "bucket-count table, never as text. Batch features hitting buckets "
    "neither distribution has seen score the smoothed (0,0) default "
    "lr. The oracle recomputes both distributions one-shot and scores "
    "batch 2: state-served == full recompute is what the hash gate "
    "certifies (operators/dsir.py dsir_score_against)",
)
def q_dsir_from_state(spark, sf_dir):
    import os
    import shutil

    from rag_pipelines_spark.operators.dsir import (
        dsir_score_against,
        hashed_ngram_features,
    )
    from rag_pipelines_spark.operators.rollup import merge_rollup, read_rollup
    from rag_pipelines_spark.queries.sources import _scratch

    state = _scratch("dsir-serve", sf_dir)
    shutil.rmtree(state, ignore_errors=True)  # additive state: fresh per run
    d = t(spark, sf_dir, "documents")
    # gram-once discipline (in production each arriving batch is a
    # distinct input, featurized on arrival)
    feats = hashed_ngram_features(d, "doc_id", "text", 10_000).localCheckpoint(
        eager=True
    )
    # frozen target distribution: written once at state init
    merge_rollup(
        spark,
        feats.filter(F.col("doc_id") % 50 == 0),
        os.path.join(state, "target"),
        keys=["bucket"],
        measures={"doc_id": ["count"]},
        epoch=0,
    )
    # raw-side bucket counts accrete batch by batch
    for r in (0, 1):
        merge_rollup(
            spark,
            feats.filter(F.col("doc_id") % 3 == r),
            os.path.join(state, "raw"),
            keys=["bucket"],
            measures={"doc_id": ["count"]},
            epoch=r,
        )
    raw = read_rollup(spark, os.path.join(state, "raw")).select(
        "bucket", F.col("count_doc_id").alias("cr")
    )
    tgt = read_rollup(spark, os.path.join(state, "target")).select(
        "bucket", F.col("count_doc_id").alias("ct")
    )
    batch = feats.filter(F.col("doc_id") % 3 == 2)
    return dsir_score_against(batch, raw, tgt, "doc_id", n_buckets=10_000)


# Per-lang md5 rank of every document: the layout-stable selection order
# of operators/sampling.py's mixture samplers.
_SQL_LANG_MD5_RANK = """r AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS sample_rank
        FROM documents
    )"""

# Quota tail of the downsampling mixture oracles: given w(lang, wt) and
# s(scale), keep each lang's first floor(wt * scale) docs by md5 rank
# (mixture_sample, temperature_sample).
_SQL_MIXTURE_TAIL = f"""q AS (
        SELECT w.lang, CAST(FLOOR(w.wt * s.scale) AS BIGINT) AS quota
        FROM w, s
    ),
    {_SQL_LANG_MD5_RANK}
    SELECT r.doc_id, r.lang, r.sample_rank
    FROM r JOIN q USING (lang)
    WHERE r.sample_rank <= q.quota
    """


@register(
    "q_mixture_weights",
    oracle=f"""
    WITH n AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    w(lang, wt) AS (VALUES ('en', 0.5), ('zh', 0.3), ('es', 0.2)),
    s AS (SELECT MIN(n.cnt / w.wt) AS scale FROM n JOIN w USING (lang)),
    {_SQL_MIXTURE_TAIL}""",
    doc="weighted data-mixture schedule: downsample so surviving language "
    "proportions match target weights en:zh:es = 5:3:2 (unweighted langs "
    "drop). quota_g = floor(w_g * min_g(n_g/w_g)) — the largest total with "
    "no group oversampled; md5-rank selection is layout-stable and engine-"
    "reproducible (operators/sampling.py mixture_sample; balance_groups is "
    "the equal-weights case)",
)
def q_mixture_weights(spark, sf_dir):
    from rag_pipelines_spark.operators.sampling import mixture_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_sample(
        d, "lang", "doc_id", {"en": 0.5, "zh": 0.3, "es": 0.2}
    ).select("doc_id", "lang", "sample_rank")


@register(
    "q_quality_bins",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(NTILE(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
               AS bucket
    FROM documents
    """,
    doc="curriculum/quality binning: exact global NTILE(4) by document "
    "length WITHOUT a global sort — value-range block key -> per-block "
    "counts -> broadcast offsets + grand total -> block-local row_number "
    "+ NTILE arithmetic (operators/indexing.py global_ntile; same scheme "
    "as the batch partitioner, generalized to non-unique order values)",
)
def q_quality_bins(spark, sf_dir):
    from rag_pipelines_spark.operators.indexing import global_ntile

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return global_ntile(
        d, "n_chars", "doc_id", k=4, block_size=64, out_col="bucket"
    )


@register(
    "q_pack_bestfit",
    oracle=None,  # imperative bin-packing loop — no SQL-expressible oracle;
    # budget-respect, determinism, and bins(BFD) <= bins(prefix-sum) are
    # pinned by tests/test_packing_bestfit.py
    doc="best-fit-decreasing NON-SPANNING sequence packing per "
    "(source, shard) stream (operators/packing.py "
    "pack_sequences_bestfit): no document crosses a sequence boundary — "
    "the low-waste bin-packing layout when boundary truncation would "
    "lose data. Inherently sequential per group, so it runs as "
    "Arrow-batched applyInPandas (one shuffle on the stream key), the "
    "sanctioned imperative escape hatch; the hash shard bounds any one "
    "task's group at ~1/16 of a source regardless of corpus size",
)
def q_pack_bestfit(spark, sf_dir):
    from rag_pipelines_spark.operators.packing import pack_sequences_bestfit

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tok"),
        # sources are few: without a shard key one Python task would have
        # to hold an entire source's documents (the same concentration
        # the constant-shard packing bug had) — 16 hash shards bound it
        F.pmod(F.xxhash64("doc_id"), F.lit(16)).alias("pack_shard"),
    )
    return pack_sequences_bestfit(
        d, ["source", "pack_shard"], "doc_id", "n_tok", budget=512
    )


@register(
    "q_aqp_sum",
    oracle="""
    WITH b AS (
        SELECT event_type, value,
               ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS bucket
        FROM events
    ),
    agg AS (
        SELECT event_type,
               (CAST(FLOOR(SUM(CASE WHEN bucket < 10
                        THEN CAST(value AS DECIMAL(30,15)) END)) AS DOUBLE)
                + CAST(SUM(CASE WHEN bucket < 10
                        THEN CAST(value AS DECIMAL(30,15)) END)
                       - FLOOR(SUM(CASE WHEN bucket < 10
                        THEN CAST(value AS DECIMAL(30,15)) END)) AS DOUBLE))
                   * 10.0 AS est_sum,
               (CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,15)))) AS DOUBLE)
                + CAST(SUM(CAST(value AS DECIMAL(30,15)))
                       - FLOOR(SUM(CAST(value AS DECIMAL(30,15)))) AS DOUBLE))
                   AS exact_sum
        FROM b GROUP BY event_type
    )
    SELECT event_type, est_sum, exact_sum,
           abs(est_sum - exact_sum) / nullif(abs(exact_sum), 0) AS rel_err
    FROM agg
    """,
    doc="approximate query processing: SUM estimated from a DETERMINISTIC "
    "10% content-hash sample (md5-bucket, stable under any partitioning/"
    "cluster resize — unlike seeded sample()) scaled by 1/rate, with the "
    "exact value and relative error alongside. At 100 TB the sample "
    "predicate pushes to the scan and the estimate reads a tenth of the "
    "data; fixture error <= 10% per group (pinned in test_sampling.py)",
)
def q_aqp_sum(spark, sf_dir):
    from rag_pipelines_spark.queries._util import dec, dec_to_dbl

    ev = t(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    sampled = F.when(bucket < 10, dec("value", 15, 30))
    agg = ev.groupBy("event_type").agg(
        (dec_to_dbl(F.sum(sampled)) * F.lit(10.0)).alias("est_sum"),
        dec_to_dbl(F.sum(dec("value", 15, 30))).alias("exact_sum"),
    )
    # NO round(): the decimal-summed inputs are already bitwise identical
    # cross-engine, and round(x, 9) on a ~1e8-magnitude double needs >15
    # significant digits — exactly the class where the engines' rounding
    # diverges by 1 ULP (caught by the sf10 differential on est_sum).
    # denominator is abs() (a negative exact sum must not flip rel_err's
    # sign — the error-bound assertion would pass vacuously) and nullif-
    # guarded (a zero-sum group yields NULL, not a division blow-up);
    # mirrored exactly in the oracle SQL for hash parity
    return agg.select(
        "event_type",
        "est_sum",
        "exact_sum",
        (
            F.abs(F.col("est_sum") - F.col("exact_sum"))
            / F.nullif(F.abs(F.col("exact_sum")), F.lit(0.0))
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered anti-join — the scale path for "seen before?" deltas
# ---------------------------------------------------------------------------


@register(
    "q_bloom_prefilter",
    oracle="""
    WITH master AS (
        SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
    )
    SELECT d.doc_id, md5(d.text) AS fp
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM master m WHERE m.fp = md5(d.text))
    """,
    doc="Bloom-prefiltered delta anti-join (operators/bloomfilter.py): "
    "master fingerprints aggregate to a map<word,bits> bloom (one "
    "bounded shuffle, <= m/64 rows, no driver collect), the new batch "
    "is split map-side by a forall() bit probe, and only maybe-seen "
    "rows enter the exact anti-join — output is EXACTLY the plain "
    "anti-join (no false negatives), which is what the oracle checks. "
    "ref: fda_watcher.py:397-403 (pandas isin delta, driver-sized); "
    "here the shuffled volume is |dups| + fpp*|new| instead of |new|",
)
def q_bloom_prefilter(spark, sf_dir):
    from rag_pipelines_spark.operators.bloomfilter import bloom_anti_join

    d = t(spark, sf_dir, "documents")
    new = d.select("doc_id", F.md5("text").alias("fp"))
    master = d.filter(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("fp"))
    return bloom_anti_join(new, master, "fp")


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------


@register(
    "q_jaccard_join",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id % 10 = 0)
        WHERE tok <> ''
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        FROM toks a JOIN toks b ON a.tok = b.tok AND b.doc_id > a.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = inter.a_id
    JOIN sz sb ON sb.doc_id = inter.b_id
    WHERE i * 5 >= 4 * (sa.n + sb.n - i)
    """,
    doc="exact Jaccard>=0.8 set-similarity JOIN via prefix filtering "
    "(operators/setjoin.py): candidates only from an equi-join on the "
    "rarest p = |s| - ceil(0.8|s|) + 1 tokens per doc (prefix-filtering "
    "lemma, integer-exact ceiling), then exact integer-cross-multiplied "
    "verification — ALL qualifying pairs, no all-pairs product, no "
    "probabilistic miss (the guarantee MinHash banding can't give). "
    "Oracle = brute-force shared-token join; the two differ only in "
    "candidate generation, which is the point",
)
def q_jaccard_join(spark, sf_dir):
    from rag_pipelines_spark.operators.setjoin import jaccard_prefix_join

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return jaccard_prefix_join(
        d, "doc_id", "text", threshold_num=4, threshold_den=5
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring dedup (n-gram spans) — operators/substrdedup.py
# ---------------------------------------------------------------------------


# toks/idx/g/dup CTEs of operators/substrdedup.py: md5 digests of every
# token 8-gram, and the digests occurring >= 2 times corpus-wide.
_SQL_DUP_8GRAMS = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ),
    idx AS (
        SELECT doc_id, s, unnest(range(1, len(s) - 8 + 2)) AS i
        FROM toks WHERE len(s) >= 8
    ),
    g AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(s[i:i+7], ' ')) AS gh
        FROM idx
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2)"""


def _sql_substring_spans(batch_where: str = "") -> str:
    """Maximal per-doc spans covered by duplicated 8-grams (the
    merge_covered_spans islands) of the docs `batch_where` keeps."""
    return f"""{_SQL_DUP_8GRAMS},
    hits AS (
        SELECT g.doc_id, g.pos AS st, g.pos + 7 AS en
        FROM g JOIN dup USING (gh){batch_where}
    ),
    flagged AS (
        SELECT doc_id, st, en,
               CASE WHEN MAX(en) OVER (
                        PARTITION BY doc_id ORDER BY st
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR st > MAX(en) OVER (
                        PARTITION BY doc_id ORDER BY st
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) + 1
               THEN 1 ELSE 0 END AS nw
        FROM hits
    ),
    isl AS (
        SELECT doc_id, st, en,
               SUM(nw) OVER (PARTITION BY doc_id ORDER BY st
                             ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    )
    SELECT doc_id, MIN(st) AS span_start, MAX(en) AS span_end,
           MAX(en) - MIN(st) + 1 AS span_len
    FROM isl GROUP BY doc_id, island
    """


@register(
    "q_substring_spans",
    oracle=_sql_substring_spans(),
    doc="exact duplicated-substring DETECTION: maximal per-doc token spans "
    "covered by 8-grams occurring >= 2 times corpus-wide (Lee et al. 2022 "
    "exact substring dedup, token-granular). Grams built with zero-shuffle "
    "column math, travel as md5 digests (fixed shuffle width, engine-"
    "portable keys); the only corpus-sized shuffle is the map-side-"
    "combinable gram-count agg — operators/substrdedup.py",
)
def q_substring_spans(spark, sf_dir):
    from rag_pipelines_spark.operators.substrdedup import duplicated_ngram_spans

    d = t(spark, sf_dir, "documents")
    s = duplicated_ngram_spans(d, "doc_id", "text", n=8, min_count=2)
    return s.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_len").cast("long").alias("span_len"),
    )


@register(
    "q_substring_dedup",
    oracle=f"""{_SQL_DUP_8GRAMS},
    hits AS (
        SELECT g.doc_id, g.pos, g.gh,
               row_number() OVER (
                   PARTITION BY g.gh ORDER BY g.doc_id, g.pos
               ) AS rn
        FROM g JOIN dup USING (gh)
    ),
    cov AS (
        SELECT DISTINCT doc_id, pos + d AS cpos
        FROM (SELECT doc_id, pos, unnest(range(0, 8)) AS d
              FROM hits WHERE rn > 1)
    ),
    tokrows AS (
        SELECT doc_id, i - 1 AS cpos, s[i] AS tok
        FROM (SELECT doc_id, s, unnest(range(1, len(s) + 1)) AS i FROM toks)
    ),
    kept AS (
        SELECT tr.doc_id, tr.cpos, tr.tok FROM tokrows tr
        WHERE NOT EXISTS (
            SELECT 1 FROM cov c
            WHERE c.doc_id = tr.doc_id AND c.cpos = tr.cpos
        )
    ),
    rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY cpos) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
    doc="exact duplicated-substring REMOVAL: every duplicated 8-gram "
    "occurrence except the global first (min (doc_id, pos) per gram) has "
    "its covered tokens cut; docs reassembled in position order (empty "
    "string when fully covered). Keeper choice is partition-stable; "
    "removal shuffles only token rows on (doc, pos) — the same inherent "
    "lower bound as line_dedup — operators/substrdedup.py",
)
def q_substring_dedup(spark, sf_dir):
    from rag_pipelines_spark.operators.substrdedup import substring_dedup

    d = t(spark, sf_dir, "documents")
    return substring_dedup(d, "doc_id", "text", n=8, min_count=2)


# ---------------------------------------------------------------------------
# Semantic (embedding-space) near-dedup — operators/semdedup.py
# ---------------------------------------------------------------------------


@register(
    "q_semantic_dedup",
    oracle="""
    WITH sub AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
    ),
    cnt AS (SELECT CAST(CEIL(COUNT(*) / 32.0) AS BIGINT) AS k FROM sub),
    norms AS (
        SELECT vec_id, embedding,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS n2
        FROM (SELECT vec_id, embedding, unnest(embedding) AS x FROM sub)
        GROUP BY vec_id, embedding
    ),
    ranked AS (
        SELECT vec_id, embedding, n2,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rh
        FROM norms
    ),
    seeds AS (
        SELECT vec_id AS seed_id, embedding AS sv, n2 AS sn2
        FROM ranked, cnt WHERE rh <= cnt.k
    ),
    pairs0 AS (
        SELECT n.vec_id, n.embedding AS v, n.n2, s.seed_id, s.sv, s.sn2
        FROM norms n, seeds s
    ),
    sdots AS (
        SELECT vec_id, seed_id, n2, sn2,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS dot
        FROM (SELECT vec_id, seed_id, n2, sn2,
                     unnest(v) AS x, unnest(sv) AS y FROM pairs0)
        GROUP BY vec_id, seed_id, n2, sn2
    ),
    assign AS (
        SELECT vec_id, seed_id AS cluster_id,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY round(dot / (sqrt(n2) * sqrt(sn2)), 9)
                            DESC NULLS LAST,
                            seed_id
               ) AS rk
        FROM sdots
    ),
    mem AS (
        SELECT a.vec_id, a.cluster_id, n.embedding AS v, n.n2
        FROM assign a JOIN norms n USING (vec_id) WHERE a.rk = 1
    ),
    cpairs AS (
        SELECT x.vec_id AS a_id, y.vec_id AS b_id,
               x.n2 AS an2, y.n2 AS bn2, x.v AS av, y.v AS bv
        FROM mem x JOIN mem y
          ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
    ),
    pdots AS (
        SELECT a_id, b_id, an2, bn2,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS dot
        FROM (SELECT a_id, b_id, an2, bn2,
                     unnest(av) AS x, unnest(bv) AS y FROM cpairs)
        GROUP BY a_id, b_id, an2, bn2
    ),
    dropped AS (
        SELECT DISTINCT b_id FROM pdots
        WHERE round(dot / (sqrt(an2) * sqrt(bn2)), 9) >= 0.3
    )
    SELECT m.vec_id, m.cluster_id,
           CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS kept
    FROM mem m LEFT JOIN dropped d ON m.vec_id = d.b_id
    """,
    doc="SemDeDup-style semantic near-dedup (operators/semdedup.py): "
    "hash-seeded deterministic centroids (k = ceil(n/32)), IVF-pattern "
    "nearest-seed assignment vs broadcast seeds, within-cluster-only "
    "pairwise cosine (bounded sum |c|^2, never corpus x corpus), drop iff "
    "a smaller-id same-cluster row has cos >= 0.3 (threshold sits in the "
    "observable range of the hash-uniform fixture — same honesty note as "
    "the ANN ladder; real encoders cluster, which only helps). Cosines "
    "decimal-folded + round-9 so both engines make identical decisions",
)
def q_semantic_dedup(spark, sf_dir):
    from rag_pipelines_spark.operators.semdedup import semantic_dedup

    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    return semantic_dedup(
        e, "vec_id", "embedding", threshold=0.3, target_cluster=32
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring — operators/qualitymodel.py
# ---------------------------------------------------------------------------

from rag_pipelines_spark.operators.qualitymodel import md5_weights as _md5_w

_QM_DIM = 64
_QM_W = _md5_w(_QM_DIM)
_QM_VALUES = ", ".join(f"({j}, {w})" for j, w in enumerate(_QM_W))


@register(
    "q_quality_model",
    oracle=f"""
    WITH w(bucket, wt) AS (VALUES {_QM_VALUES}),
    tk AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'),
                   x -> x <> '') AS toks
        FROM documents
    ),
    toks AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
    contrib AS (
        SELECT t.doc_id, CAST(w.wt AS DECIMAL(18,3)) AS wt
        FROM toks t
        JOIN w ON (('0x' || substring(md5(t.tok), 1, 8))::BIGINT % {_QM_DIM})
                  = w.bucket
    ),
    s AS (SELECT doc_id, SUM(wt) AS total FROM contrib GROUP BY doc_id)
    SELECT tk.doc_id,
           CAST(len(tk.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.total, 0) AS DOUBLE) AS logit,
           CASE WHEN COALESCE(s.total, 0) >= 0 THEN 1 ELSE 0 END AS predicted
    FROM tk LEFT JOIN s USING (doc_id)
    """,
    doc="model-based quality scoring (fastText-architecture linear "
    "classifier INFERENCE): logit = bias + sum over tokens of "
    "w[md5-bucket(tok)], folded per row over the token array — map-only, "
    "ZERO shuffle (plan-asserted in tests), weights an O(1)-indexed "
    "broadcast array literal. Exact-decimal contributions so the >= 0 "
    "class decision is bitwise cross-engine; fixture weights are the "
    "deterministic md5_weights(64) vector (real weights come from an "
    "off-cluster-trained model) — operators/qualitymodel.py",
)
def q_quality_model(spark, sf_dir):
    from rag_pipelines_spark.operators.qualitymodel import linear_quality_score

    d = t(spark, sf_dir, "documents")
    return linear_quality_score(d, "doc_id", "text", _QM_W)


@register(
    "q_temperature_mixture",
    oracle=f"""
    WITH n AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    w AS (
        SELECT lang, cnt, sqrt(CAST(cnt AS DOUBLE)) AS wt FROM n
    ),
    s AS (SELECT MIN(CAST(cnt AS DOUBLE) / wt) AS scale FROM w),
    {_SQL_MIXTURE_TAIL}""",
    doc="temperature-scaled data mixture (T=2): surviving language sizes "
    "proportional to sqrt(n_g) — the multilingual rebalancing rule "
    "(UniMax-style), weights computed FROM the corpus counts instead of "
    "taken as input (q_mixture_weights is the given-weights case, "
    "balance_groups the T->inf limit). sqrt is IEEE correctly-rounded, "
    "so quotas are bitwise engine-portable; md5-rank selection is "
    "layout-stable — operators/sampling.py temperature_sample",
)
def q_temperature_mixture(spark, sf_dir):
    from rag_pipelines_spark.operators.sampling import temperature_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_sample(d, "lang", "doc_id", temperature=2.0).select(
        "doc_id", "lang", "sample_rank"
    )


@register(
    "q_repeat_upsample",
    oracle=f"""
    WITH tgt(lang, t) AS (VALUES ('en', 120), ('zh', 500), ('es', 70)),
    n AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    q AS (
        SELECT n.lang,
               LEAST(4, t // cnt) AS fullc,
               CASE WHEN t // cnt >= 4 THEN 0 ELSE t % cnt END AS rem
        FROM n JOIN tgt USING (lang)
    ),
    {_SQL_LANG_MD5_RANK},
    c AS (
        SELECT r.doc_id, r.lang, r.sample_rank,
               q.fullc + CASE WHEN r.sample_rank <= q.rem
                              THEN 1 ELSE 0 END AS copies
        FROM r JOIN q USING (lang)
    )
    SELECT doc_id, lang, sample_rank,
           CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy
    FROM c WHERE copies >= 1
    """,
    doc="capped repeat-upsampling (data-constrained mixing): rare groups "
    "repeated up to cap=4 epochs toward a per-group target (exact-integer "
    "div/mod quota math — full copies for everyone, md5-rank-first rows "
    "take the remainder; unreachable targets SATURATE at cap*n, never "
    "silently over-repeat). The upsampling complement of the "
    "downsampling mixers (q_mixture_weights / q_temperature_mixture); "
    "per-copy rows come from an output-sized explode(sequence), no extra "
    "shuffle — operators/sampling.py repeat_upsample",
)
def q_repeat_upsample(spark, sf_dir):
    from rag_pipelines_spark.operators.sampling import repeat_upsample

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = repeat_upsample(
        d, "lang", "doc_id", {"en": 120, "zh": 500, "es": 70}, cap=4
    )
    return out.select(
        "doc_id", "lang", "sample_rank", F.col("copy").cast("long").alias("copy")
    )


@register(
    "q_token_budget_mixture",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS rk
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY rk, doc_id
               ) AS cum
        FROM tok
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM c WHERE cum <= 50000
    """,
    doc="token-budget mixture: admit docs per source in deterministic "
    "md5 order until the source's cumulative token count hits the budget "
    "(training mixtures are specified in TOKENS, not documents — the "
    "token-budget counterpart of q_mixture_weights). The oracle is the "
    "naive full-corpus running sum; the Spark path is the two-phase "
    "md5-prefix-bucket design (256-bucket token sums -> broadcast "
    "bucket admission -> row window only inside the single boundary "
    "bucket per source), provably the same set because the bucket key "
    "is an order-compatible prefix of the rank hash. "
    "operators/sampling.py token_budget_mixture",
)
def q_token_budget_mixture(spark, sf_dir):
    from rag_pipelines_spark.operators.sampling import token_budget_mixture

    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    out = token_budget_mixture(
        tok, id_col="doc_id", group_col="source", tokens_col="n_tokens",
        budget=50000,
    )
    return out.select(
        "doc_id", "source", F.col("n_tokens").cast("long").alias("n_tokens")
    )


def _sql_ivf_topk(seed_where: str = "") -> str:
    """operators/semdedup.py ivf_topk_exact in DuckDB: 32 hash-min seeds
    drawn from the vectors `seed_where` keeps, nearest-seed cells for the
    whole table, nprobe=2 probes for queries vec_id < 10, exact top-5."""
    return f"""
    WITH norms AS (
        SELECT vec_id, embedding,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS n2
        FROM (SELECT vec_id, embedding, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id, embedding
    ),
    ranked AS (
        SELECT vec_id, embedding, n2,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rh
        FROM norms{seed_where}
    ),
    seeds AS (
        SELECT vec_id AS seed_id, embedding AS sv, n2 AS sn2
        FROM ranked WHERE rh <= 32
    ),
    cp AS (
        SELECT n.vec_id, n.embedding AS v, n.n2, s.seed_id, s.sv, s.sn2
        FROM norms n, seeds s
    ),
    cdots AS (
        SELECT vec_id, seed_id, n2, sn2,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS dot
        FROM (SELECT vec_id, seed_id, n2, sn2,
                     unnest(v) AS x, unnest(sv) AS y FROM cp)
        GROUP BY vec_id, seed_id, n2, sn2
    ),
    cassign AS (
        SELECT vec_id, seed_id AS cell,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY round(dot / (sqrt(n2) * sqrt(sn2)), 9)
                            DESC NULLS LAST,
                            seed_id
               ) AS rk
        FROM cdots
    ),
    cells AS (
        SELECT a.vec_id AS c_id, a.cell, n.embedding AS cv, n.n2 AS cn2
        FROM cassign a JOIN norms n USING (vec_id) WHERE a.rk = 1
    ),
    qassign AS (
        SELECT vec_id AS q_id, seed_id AS cell,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY round(dot / (sqrt(n2) * sqrt(sn2)), 9)
                            DESC NULLS LAST,
                            seed_id
               ) AS rk
        FROM cdots WHERE vec_id < 10
    ),
    probes AS (
        SELECT p.q_id, p.cell, n.embedding AS qv, n.n2 AS qn2
        FROM qassign p JOIN norms n ON n.vec_id = p.q_id
        WHERE p.rk <= 2
    ),
    cand AS (
        SELECT DISTINCT p.q_id, c.c_id, p.qv, p.qn2, c.cv, c.cn2
        FROM probes p JOIN cells c USING (cell)
        WHERE p.q_id <> c.c_id
    ),
    pdots AS (
        SELECT q_id, c_id, qn2, cn2,
               CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             AS DECIMAL(30,15))) AS DOUBLE) AS dot
        FROM (SELECT q_id, c_id, qn2, cn2,
                     unnest(qv) AS x, unnest(cv) AS y FROM cand)
        GROUP BY q_id, c_id, qn2, cn2
    ),
    scored AS (
        SELECT q_id, c_id,
               round(dot / (sqrt(qn2) * sqrt(cn2)), 9) AS cosine,
               row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY round(dot / (sqrt(qn2) * sqrt(cn2)), 9) DESC,
                            c_id
               ) AS rk
        FROM pdots
    )
    SELECT q_id, c_id, cosine, rk FROM scored WHERE rk <= 5
    """


@register(
    "q_ann_ivf_exact",
    oracle=_sql_ivf_topk(),
    doc="IVF top-k with fully deterministic engine-portable semantics "
    "(operators/semdedup.py ivf_topk_exact): hash-seeded cells (32), "
    "nearest-cell corpus assignment, nprobe=2 query probes, exact "
    "re-rank of probed cells only — candidates come from an equi-join "
    "on the cell id, never query x corpus. The oracle-CHECKED twin of "
    "the numpy IVF tier (q_ann_ivf stays the production rows-only path, "
    "hash-sampled centroids without Lloyd refinement); output contract "
    "matches q_cosine_topk so "
    "recall vs exact is directly measurable in the driver artifacts",
)
def q_ann_ivf_exact(spark, sf_dir):
    from rag_pipelines_spark.operators.semdedup import ivf_topk_exact

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return ivf_topk_exact(
        e, q, "vec_id", "embedding", k_seeds=32, nprobe=2, k=5
    )


def _sql_fuzzy_decontaminate(bench_mod: int) -> str:
    """Per-corpus-doc (%10 slice) token-set Jaccard >= 0.8 verdicts
    against the doc_id % bench_mod benchmark slice, self-pairs excluded."""
    return f"""
    WITH ctoks AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id % 10 = 0)
        WHERE tok <> ''
    ),
    btoks AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id % {bench_mod} = 0)
        WHERE tok <> ''
    ),
    csz AS (SELECT doc_id, COUNT(*) AS n FROM ctoks GROUP BY doc_id),
    bsz AS (SELECT doc_id, COUNT(*) AS n FROM btoks GROUP BY doc_id),
    inter AS (
        SELECT c.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS i
        FROM ctoks c JOIN btoks b ON c.tok = b.tok AND c.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    p AS (
        SELECT left_id,
               CAST(i AS DOUBLE) / CAST(cs.n + bs.n - i AS DOUBLE) AS jaccard
        FROM inter
        JOIN csz cs ON cs.doc_id = inter.left_id
        JOIN bsz bs ON bs.doc_id = inter.right_id
        WHERE i * 5 >= 4 * (cs.n + bs.n - i)
    )
    SELECT left_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           MAX(jaccard) AS best_jaccard
    FROM p GROUP BY left_id
    """


def _fuzzy_decontaminate(bench_mod: int):
    """The registered fn of _sql_fuzzy_decontaminate(bench_mod): the
    bipartite prefix join of the %10 corpus and the benchmark slice."""

    def fn(spark, sf_dir):
        from rag_pipelines_spark.operators.setjoin import (
            jaccard_prefix_join_bipartite,
        )

        d = t(spark, sf_dir, "documents")
        corpus = d.filter(F.col("doc_id") % 10 == 0)
        bench = d.filter(F.col("doc_id") % bench_mod == 0)
        pairs = jaccard_prefix_join_bipartite(
            corpus, bench, "doc_id", "text", threshold_num=4, threshold_den=5
        ).filter(F.col("left_id") != F.col("right_id"))
        return pairs.groupBy("left_id").agg(
            F.count("*").cast("long").alias("n_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )

    return fn


register(
    "q_fuzzy_decontaminate",
    oracle=_sql_fuzzy_decontaminate(97),
    doc="fuzzy benchmark decontamination: per-corpus-doc contamination "
    "verdict — which corpus docs have token-set Jaccard >= 0.8 to ANY "
    "benchmark doc, with match count and best score — via the BIPARTITE "
    "prefix-filtering join (operators/setjoin.py "
    "jaccard_prefix_join_bipartite: one total token order shared by "
    "both corpora, candidates only from the left-prefix x right-prefix "
    "equi-join, exact integer verification). Benchmark = the %97 slice "
    "(benchmarks are small vs the corpus — the realistic shape, and "
    "what keeps candidate volume ~ |bench| x clique size, not corpus "
    "pairs); output aggregates per corpus doc so the result is "
    "|flagged|-sized even on the clique-heavy fixtures. The near-dup "
    "complement of q_decontaminate's exact n-gram containment; "
    "self-pairs excluded (the exact tier owns identity)",
)(_fuzzy_decontaminate(97))


register(
    "q_fuzzy_decontaminate_small",
    oracle=_sql_fuzzy_decontaminate(970),
    doc="q_fuzzy_decontaminate with a ~500-doc benchmark slice (%970): "
    "the sf10-certifiable variant. The SPARK side is unchanged in shape "
    "and keeps the FULL 50k-doc corpus side — only the benchmark shrinks "
    "(the realistic ratio anyway). What it buys: q_fuzzy_decontaminate's "
    "own ORACLE joins raw token equality, so its intermediate is "
    "sum_tok df_corpus(tok) x df_bench(tok) — stopwords fan out to "
    "~corpus x bench rows and the sf10 attempt spilled past 75 GB of "
    "disk (tools/sf_diff.py ceiling entry). Shrinking the bench side "
    "bounds that fan-out ~10x so the oracle fits, certifying the "
    "bipartite prefix-join operator at sf10 row counts; the full-bench "
    "variant stays certified at sf1",
)(_fuzzy_decontaminate(970))


register_checksum(
    "q_embed_generate",
    key="bucket",
    sums={"weight_e9_sum": Part("weight", scale=9)},
    parts=["doc_id", "bucket"],
    doc="bounded differential form of q_embed_generate for the sf10 "
    "scaling rung (SCALE.md): the 10M-entry sparse-embedding frame "
    "reduced to one row per hash bucket (64) — entry count, an XOR of "
    "(doc_id, bucket) membership digests, and the weight mass per bucket "
    "as an exact integer-NANOS sum (round(weight*1e9) -> BIGINT, the "
    "round-9 move the cosine oracles use). Weights stay OUT of the md5 "
    "digest and never touch double->decimal casts: identical doubles, "
    "but each engine FORMATS floats and rounds double->decimal "
    "differently (measured 1-ulp weight_sum drift with DECIMAL(38,15))",
)


register_checksum(
    "q_chunking",
    key="doc_id",
    count="n_chunks",
    parts=["chunk_idx", "chunk"],
    doc="bounded differential form of q_chunking for the sf10 scaling "
    "rung (SCALE.md): the chunk set (2.1M rows at sf10, just over the "
    "harness row cap) reduced to one row per document — chunk count plus "
    "an XOR of md5 digests over (chunk_idx, chunk text)",
)


register_checksum(
    "q_chunk_udtf",
    key="doc_id",
    count="n_chunks",
    parts=["chunk_idx", "chunk"],
    doc="bounded differential form of q_chunk_udtf: the SAME reduction as "
    "q_chunking_checksum but fed by the Python UDTF chunker (Spark 4 "
    "lateral table function) — proving the UDTF path chunk-for-chunk "
    "equal to the column plan at the sf10 rung, not just at sf0.01",
)


@register(
    "q_embed_neardup_small",
    oracle=f"""
    WITH bsel AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE vec_id % 1000 = 0
    ),
    anorm AS ({_sql_label_norms("embeddings")}),
    bnorm AS ({_sql_label_norms("bsel")}),
    {_sql_label_dots(
        "anorm a JOIN bnorm b ON a.label = b.label AND a.vec_id <> b.vec_id"
    )},
    p AS (
        SELECT a_id, round(dot / (sqrt(na2) * sqrt(nb2)), 9) AS cosine
        FROM dots
        WHERE round(dot / (sqrt(na2) * sqrt(nb2)), 9) >= 0.5
    )
    SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           MAX(cosine) AS best_cosine
    FROM p GROUP BY a_id
    """,
    doc="q_embed_neardup with a 0.1%% probe side (%1000 slice) and a "
    "per-left-vector aggregated verdict: the sf10-certifiable variant. "
    "The LEFT side stays the FULL embedding table (200k vectors at "
    "sf10) — only the probe side shrinks, so the label-blocked "
    "exact-decimal cosine verify runs at real sf10 row counts on the "
    "blocked side (~4M verified pairs instead of the full variant's "
    "2.0e9, the sweep's documented quadratic ceiling). Same "
    "float-prefilter-guarded exact scoring as the original (the "
    "when()-guard keeps the interpreted decimal fold off the join "
    "condition)",
)
def q_embed_neardup_small(spark, sf_dir):
    scored = _label_neardup_pairs(
        spark, sf_dir, F.col("vec_id") % 1000 == 0, F.col("a_id") != F.col("b_id")
    )
    return scored.groupBy("a_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.max("cosine").alias("best_cosine"),
    )


@register(
    "q_batch_drift",
    oracle=f"""{_SQL_HASHED_FEATS},
    fullc AS (SELECT bucket, COUNT(*) AS cq FROM feats GROUP BY bucket),
    per AS (
        SELECT CAST(doc_id % 3 AS INT) AS b, bucket, COUNT(*) AS cp
        FROM feats GROUP BY 1, 2
    ),
    qt AS (SELECT SUM(cq) AS qt, COUNT(*) AS occ FROM fullc),
    pt AS (SELECT b, SUM(cp) AS pt FROM per GROUP BY b),
    grid AS (
        SELECT f.bucket, f.cq, bb.b
        FROM fullc f CROSS JOIN (VALUES (0), (1), (2)) bb(b)
    ),
    j AS (
        SELECT g.b, g.cq, COALESCE(p.cp, 0) AS cp
        FROM grid g LEFT JOIN per p ON p.b = g.b AND p.bucket = g.bucket
    ),
    terms AS (
        SELECT j.b,
               CAST(FLOOR((CAST(cp + 1 AS DOUBLE)
                           / CAST(pt + 10000 AS DOUBLE))
                     * (ln(CAST(cp + 1 AS DOUBLE)
                           / CAST(pt + 10000 AS DOUBLE))
                        - ln(CAST(cq + 1 AS DOUBLE)
                             / CAST(qt + 10000 AS DOUBLE)))
                     * 1e9 + 0.5) AS BIGINT) AS tn,
               pt, qt
        FROM j JOIN pt USING (b) CROSS JOIN qt
    ),
    sums AS (
        SELECT b, CAST(SUM(tn) AS BIGINT) AS nsum,
               ANY_VALUE(pt) AS pt, ANY_VALUE(qt) AS qt
        FROM terms GROUP BY b
    ),
    final AS (
        SELECT b,
               nsum
               + CAST(FLOOR((1.0 / CAST(pt + 10000 AS DOUBLE))
                      * (ln(1.0 / CAST(pt + 10000 AS DOUBLE))
                         - ln(1.0 / CAST(qt + 10000 AS DOUBLE)))
                      * 1e9 + 0.5) AS BIGINT)
                 * (10000 - (SELECT occ FROM qt)) AS total
        FROM sums
    )
    SELECT f.b AS batch, CAST((SELECT occ FROM qt) AS BIGINT) AS occupied,
           CAST(f.total AS DOUBLE) / 1e9 AS kl
    FROM final f
    """,
    doc="distribution-drift monitor (operators/drift.py): KL(batch || "
    "full corpus) with add-1 smoothing over the DSIR hashed uni+bigram "
    "bucket space (10k buckets) for three id-modulo batches — the "
    "per-arriving-batch data-quality alarm of a continuous-ingest "
    "pipeline (drift => the DSIR log-ratio table is stale). Corpus "
    "work = one feature explode + two bucket-count hash-aggs (shuffle "
    "= 10k rows); everything after is broadcast arithmetic on "
    "3 x 10k rows. Terms are bit-identical doubles (ln bit-equal) "
    "quantized to integer nanos via FLOOR(t*1e9+0.5) — IEEE-pure, no "
    "engine round() semantics — and summed as exact BIGINTs; empty "
    "buckets contribute one constant term x count, never materialized",
)
def q_batch_drift(spark, sf_dir):
    from rag_pipelines_spark.operators.drift import kl_batch_drift

    return kl_batch_drift(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        n_batches=3, n_buckets=10_000,
    )


def _sql_drift_epoch(e: int) -> str:
    """Oracle CTE block for epoch `e`: p = batch e's bucket counts,
    q = the accreted counts of batches < e (empty for e=0 -> uniform
    reference), same nano-int KL as the engine."""
    return f"""
    pe{e} AS (SELECT bucket, COUNT(*) AS cp FROM feats
              WHERE doc_id % 3 = {e} GROUP BY bucket),
    qe{e} AS (SELECT bucket, COUNT(*) AS cq FROM feats
              WHERE doc_id % 3 < {e} GROUP BY bucket),
    je{e} AS (SELECT COALESCE(cp, 0) AS cp, COALESCE(cq, 0) AS cq
              FROM pe{e} p FULL OUTER JOIN qe{e} q ON p.bucket = q.bucket),
    te{e} AS (SELECT SUM(cp) AS pt, SUM(cq) AS qt, COUNT(*) AS occ
              FROM je{e}),
    se{e} AS (SELECT SUM(CAST(FLOOR(
                  (CAST(cp + 1 AS DOUBLE) / CAST(pt + 10000 AS DOUBLE))
                  * (ln(CAST(cp + 1 AS DOUBLE) / CAST(pt + 10000 AS DOUBLE))
                     - ln(CAST(cq + 1 AS DOUBLE)
                          / CAST(qt + 10000 AS DOUBLE)))
                  * 1e9 + 0.5) AS BIGINT)) AS nsum,
                  ANY_VALUE(pt) AS pt, ANY_VALUE(qt) AS qt,
                  ANY_VALUE(occ) AS occ
              FROM je{e} CROSS JOIN te{e}),
    fe{e} AS (SELECT {e} AS epoch, CAST(occ AS BIGINT) AS occupied,
                  CAST(nsum + CAST(FLOOR(
                      (1.0 / CAST(pt + 10000 AS DOUBLE))
                      * (ln(1.0 / CAST(pt + 10000 AS DOUBLE))
                         - ln(1.0 / CAST(qt + 10000 AS DOUBLE)))
                      * 1e9 + 0.5) AS BIGINT) * (10000 - occ)
                  AS DOUBLE) / 1e9 AS kl
              FROM se{e})"""


@register(
    "q_drift_from_state",
    oracle=f"""{_SQL_HASHED_FEATS},""" + ",".join(_sql_drift_epoch(e) for e in (0, 1, 2)) + """
    SELECT * FROM fe0 UNION ALL SELECT * FROM fe1 UNION ALL
    SELECT * FROM fe2
    """,
    doc="per-epoch drift scoring from ACCRETED state (the 14th "
    "continuous-ingest family, operators/drift.py::kl_against): each "
    "arriving batch is scored KL(batch || state-so-far) BEFORE its "
    "bucket counts fold into the rollup state — the score-before-ingest "
    "discipline of the lm/dsir gates, so a replay reproduces identical "
    "scores. Epoch 0 scores against the empty state = the uniform "
    "reference (everything is novel). The state is the 10k-bucket "
    "hashed-ngram rollup: merging a batch into 100 TB of history "
    "touches 10k counter rows, and the score costs one batch "
    "featurization + sketch-sized arithmetic. Oracle replays each "
    "epoch against the exact prefix distribution",
)
def q_drift_from_state(spark, sf_dir):
    import os
    import shutil

    from rag_pipelines_spark.operators.drift import kl_against
    from rag_pipelines_spark.operators.dsir import hashed_ngram_features
    from rag_pipelines_spark.operators.rollup import merge_rollup, read_rollup
    from rag_pipelines_spark.queries.sources import _scratch

    state = _scratch("drift-serve", sf_dir)
    shutil.rmtree(state, ignore_errors=True)  # additive state: fresh per run
    sp = os.path.join(state, "buckets")
    d = t(spark, sf_dir, "documents")
    empty_ref = spark.createDataFrame([], "bucket LONG, cnt LONG")
    scores = []
    for e in range(3):
        batch = d.filter(F.col("doc_id") % 3 == e)
        feats = hashed_ngram_features(batch, "doc_id", "text", 10_000)
        feats = feats.localCheckpoint(eager=True)  # score + merge consume
        bcounts = feats.groupBy("bucket").agg(F.count("*").alias("cnt"))
        try:
            ref = read_rollup(spark, sp).select(
                "bucket", F.col("count_doc_id").alias("cnt")
            )
        except FileNotFoundError:  # epoch 0: uniform reference
            ref = empty_ref
        sc = kl_against(bcounts, ref, n_buckets=10_000).select(
            F.lit(e).alias("epoch"), "occupied", "kl"
        )
        # materialize BEFORE the merge: score-before-ingest (a score
        # computed after would see a reference containing this batch)
        scores.append(sc.localCheckpoint(eager=True))
        merge_rollup(
            spark, feats, sp,
            keys=["bucket"], measures={"doc_id": ["count"]}, epoch=e,
        )
    out = scores[0]
    for s in scores[1:]:
        out = out.unionByName(s)
    return out
