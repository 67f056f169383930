"""Seeded inputs for the benchmark workloads.

Every table comes from `tools/gen_sf.py`'s column generators. The seed
enters through the row ids those generators hash: `seeded_ids` shifts
the id range every generator draws from by a seed-derived offset, so
each seed yields a different table from the same value distributions,
and the key columns are shifted back to dense 0-based keys afterwards
(foreign keys are drawn as `hash(id) mod n`, so they stay in range).

Each table is written as ONE parquet file, like the repository's
fixture tables (TESTDATA.md) and a single JSONL dump. The generators also plant the structure the checks
need (duplicates, near duplicates, re-sent rows) and return its counts.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tools import gen_sf

# out-of-vocabulary words: planted edits and spans never collide with the
# 31-word gen_sf vocabulary
BOILERPLATE = (
    "subscribe to the newsletter for weekly release notes",
    "all rights reserved by the publishing team",
    "click here to read the full story online",
)


@contextlib.contextmanager
def seeded_ids(seed: int):
    """Make every gen_sf generator draw ids from [offset, offset + n),
    with a seed-derived offset far above any table's row count."""
    off = (seed % (1 << 20) + 1) << 32
    orig = gen_sf._base
    # one partition: the inputs are small, and one task per table avoids
    # the scheduling cost of gen_sf's default 32 partitions
    gen_sf._base = lambda spark, n, parts=32: spark.range(off, off + n, numPartitions=1)
    try:
        yield off
    finally:
        gen_sf._base = orig


def write_one_file(df: DataFrame, path: str) -> None:
    """One parquet file under the directory `path` (the fixture layout)."""
    df.coalesce(1).write.mode("overwrite").parquet(path)


def _rebase(df: DataFrame, key: str, off: int) -> DataFrame:
    return df.withColumn(key, F.col(key) - F.lit(off))


# ---------------------------------------------------------------------------
# query_mix: relational, event and vector tables, and a planted corpus
# ---------------------------------------------------------------------------


def relational_tables(spark: SparkSession, seed: int, out: str, k: float) -> dict:
    """The tables the query mix reads, at `k` times the sf1 row counts,
    except `documents` (see corpus_docs)."""
    n = {
        "customer": int(150_000 * k),
        "supplier": int(10_000 * k),
        "part": int(200_000 * k),
        "orders": int(1_500_000 * k),
        "events": int(1_000_000 * k),
        "users": int(15_000 * k),
        "embeddings": int(20_000 * k),
    }
    # the fixed TPC-H dimensions, as in the fixture tables
    i = F.col("id")
    names = F.array(*[F.lit(r) for r in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")])
    region = spark.range(5, numPartitions=1).select(
        i.cast("int").alias("r_regionkey"),
        F.element_at(names, (i + 1).cast("int")).alias("r_name"),
    )
    nation = spark.range(25, numPartitions=1).select(
        i.cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), i.cast("string")).alias("n_name"),
        (i % 5).cast("int").alias("n_regionkey"),
    )
    with seeded_ids(seed) as off:
        tables = {
            "region": region,
            "nation": nation,
            "customer": _rebase(gen_sf.gen_customer(spark, n["customer"]), "c_custkey", off),
            "supplier": _rebase(gen_sf.gen_supplier(spark, n["supplier"]), "s_suppkey", off),
            "part": _rebase(gen_sf.gen_part(spark, n["part"]), "p_partkey", off),
            "orders": _rebase(
                gen_sf.gen_orders(spark, n["orders"], n["customer"]), "o_orderkey", off
            ),
            "lineitem": _rebase(
                gen_sf.gen_lineitem(spark, n["orders"], n["part"], n["supplier"]),
                "l_orderkey",
                off,
            ),
            "events": _rebase(gen_sf.gen_events(spark, n["events"], n["users"]), "event_id", off),
            "embeddings": _rebase(gen_sf.gen_embeddings(spark, n["embeddings"]), "vec_id", off),
        }
        # small independent jobs: submitted together, they share the cores
        with ThreadPoolExecutor(max_workers=4) as pool:
            for f in [
                pool.submit(write_one_file, df, os.path.join(out, f"{name}.parquet"))
                for name, df in tables.items()
            ]:
                f.result()
    return n


# ---------------------------------------------------------------------------
# rag_ingest: batches of HTML listing pages plus a master of earlier records
# ---------------------------------------------------------------------------

MASTER_SCHEMA = pa.schema([(c, pa.string()) for c in (
    "rag_id", "title", "webpage", "description", "date", "scraped_at", "text"
)])


def _row_html(title: str, lang: str, link: str) -> str:
    return (f"<tr><td>{title}</td><td>{lang}</td><td>01/15/2024</td>"
            f"<td><a href=\"{link}\">more</a></td></tr>")


def listing_batches(
    spark: SparkSession, seed: int, out: str, *, n_batches: int, batch_rows: int,
    rows_per_page: int, resend_frac: float, base_domain: str,
) -> list[dict]:
    """Batches of listing pages (url, html), one parquet file per batch.

    Each page holds `rows_per_page` `<tr>` rows of (title, lang, date,
    link). Batch b re-sends `resend_frac` of batch b-1's rows (same
    links) and fills the rest with new rows. About half of all links are
    already in `master.parquet`, the previously published records in the
    watcher's output schema. Returns, per batch, its path, its byte size,
    the rag_ids the watcher must publish (md5 of the absolute link,
    computed here with hashlib) and the distinct rag_ids published so
    far.
    """
    n_resend = int(batch_rows * resend_frac)
    total = batch_rows + (n_batches - 1) * (batch_rows - n_resend)
    with seeded_ids(seed) as off:
        rows = (
            _rebase(gen_sf.gen_documents(spark, total), "doc_id", off)
            .select("doc_id", F.substring("text", 1, 40).alias("title"), "lang")
            .orderBy("doc_id")
            .collect()
        )
    link = [f"/node/s{seed}n{r['doc_id']}" for r in rows]
    rag_id = [hashlib.md5(f"{base_domain}{lk}".encode()).hexdigest() for lk in link]
    in_master = [hashlib.md5(f"{seed}:{lk}".encode()).digest()[0] & 1 for lk in link]
    os.makedirs(out, exist_ok=True)
    master = [k for k in range(total) if in_master[k]]
    pq.write_table(
        pa.Table.from_pydict(
            {
                "rag_id": [rag_id[k] for k in master],
                "title": [""] * len(master),
                "webpage": [f"{base_domain}{link[k]}" for k in master],
                "description": [""] * len(master),
                "date": ["01/15/2024"] * len(master),
                "scraped_at": ["2024-01-01 09:00:00"] * len(master),
                "text": [""] * len(master),
            },
            schema=MASTER_SCHEMA,
        ),
        os.path.join(out, "master.parquet"),
    )
    batches, published = [], set()
    prev: list[int] = []
    cursor = 0
    for b in range(n_batches):
        take = batch_rows - (n_resend if prev else 0)
        idx = list(range(cursor, cursor + take)) + prev[:n_resend]
        cursor += take
        urls, htmls = [], []
        for p in range(0, len(idx), rows_per_page):
            page = idx[p:p + rows_per_page]
            urls.append(f"https://listing/b{b}/p{p // rows_per_page}")
            htmls.append("<html><table>" + "".join(
                _row_html(rows[k]["title"], rows[k]["lang"], link[k]) for k in page
            ) + "</table></html>")
        path = os.path.join(out, f"pages-{b:04d}.parquet")
        pq.write_table(pa.Table.from_pydict({"url": urls, "html": htmls}), path)
        new = {rag_id[k] for k in idx if not in_master[k]}
        published |= new
        batches.append({
            "path": path,
            "bytes": os.path.getsize(path),
            "rows": len(idx),
            "expected_new": new,
            "published_so_far": len(published),
        })
        prev = idx
    return batches



# ---------------------------------------------------------------------------
# query_mix: a corpus with planted duplicate structure
# ---------------------------------------------------------------------------

BLOCK = 50  # role layout repeats every BLOCK doc ids


def _role(doc_id: int) -> str:
    """Role of a doc by its position in its block of BLOCK ids; bench docs
    (ids divisible by 97) always stay plain."""
    pos = doc_id % BLOCK
    if doc_id % 97 == 0:
        return "plain"
    if pos < 10:
        return "boiler"
    if pos == 35:
        return "short"
    if pos in (36, 37):
        return "exact"  # copies of pos 20, 21
    if pos in (38, 39):
        return "near"  # edited copies of pos 22, 23
    if pos == 40:
        return "contam"
    if 41 <= pos <= 43:
        return "span"
    return "plain"


def corpus_docs(spark: SparkSession, seed: int, out: str, n_docs: int) -> dict:
    """The `documents` table: gen_sf documents with planted duplicate
    structure, for the pretraining lifecycle queries. One parquet file.

    Planted per block of 50 ids (bench docs are the ids divisible by 97,
    as in the registered lifecycle queries):
      * 10 docs end with one of three shared boilerplate sentences
        (line dedup keeps the first occurrence of each);
      * 1 short doc (5 tokens) fails the quality gate;
      * 2 exact duplicates of earlier docs in the block (line dedup
        empties them);
      * 2 near duplicates: an earlier doc with its last token replaced
        and one token appended (MinHash banding removes them);
      * 1 doc carrying the first 6 tokens of the nearest bench doc
        (decontamination drops it);
      * 3 docs sharing one 12-token span inside their text (substring
        dedup cuts it from all but the first).
    Every text starts with "the", so every full-length doc passes the
    stopword gate.
    """
    n_docs -= n_docs % BLOCK
    with seeded_ids(seed) as off:
        rows = (
            _rebase(gen_sf.gen_documents(spark, n_docs), "doc_id", off)
            .select("doc_id", "text", "lang", "source")
            .orderBy("doc_id")
            .collect()
        )
    base = ["the " + r["text"] for r in rows]
    texts, roles = [], []
    for d, text in enumerate(base):
        role = _role(d)
        toks = text.split(" ")
        block = d // BLOCK
        if role == "boiler":
            pick = hashlib.md5(f"{seed}:{block}".encode()).digest()[0] % len(BOILERPLATE)
            text = f"{text}. {BOILERPLATE[pick]}"
        elif role == "short":
            text = " ".join(toks[:5])
        elif role == "exact":
            text = base[d - 16]
        elif role == "near":
            text = " ".join(base[d - 16].split(" ")[:-1] + ["zzedit", "zzextra"])
        elif role == "contam":
            text = text + " " + " ".join(base[d - d % 97].split(" ")[:6])
        elif role == "span":
            span = [f"sp{block}x{seed % 997}y{j}" for j in range(1, 13)]
            text = " ".join(toks[:6] + span + toks[6:])
        texts.append(text)
        roles.append(role)
    os.makedirs(os.path.join(out, "documents.parquet"), exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
            "text": texts,
            "lang": [r["lang"] for r in rows],
            "source": [r["source"] for r in rows],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out, "documents.parquet", "part-00000.parquet"),
    )
    counts: dict[str, int] = {}
    for role in roles:
        counts[role] = counts.get(role, 0) + 1
    return {
        "docs": n_docs,
        "roles": counts,
        "near_ids": frozenset(d for d, role in enumerate(roles) if role == "near"),
    }
