"""Targeted large-SF differential (the scaling-ladder correctness rung).

driver_sim.py re-runs the WHOLE registry differential and is the right
tool up to sf1; at sf10 a handful of queries return data-sized results
(e.g. q_gap_fill: one row per user-hour, ~100M rows) that are fine to
COMPUTE but not to `toPandas()` into the compare harness. This runner
makes the big-SF rung exemption-free instead of skipping those queries:

* every requested query still executes end-to-end in Spark;
* results under --row-cap are hash-compared against DuckDB exactly like
  driver_sim (sorted-column, order-insensitive canonical rows);
* a query whose SPARK-side count exceeds the cap is reported as
  TOO-BIG — and must have a registered `<name>_checksum` twin in the run
  (a bounded engine-side reduction of the same dataflow, e.g.
  q_gap_fill_checksum) or the run fails. The asterisk is gone because
  the twin IS oracle-checked at full scale.

Usage:
    python tools/sf_diff.py SF_DIR [name ...]
        [--row-cap N]            default 2_000_000
        [--prefix tpch agg ...]  select by prefix instead of full names

Defaults to the round-3 targeted sf10 set: all TPC-H + the aggregate
family + minhash pairs + the gap-fill checksum twin.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as E  # noqa: E402

DEFAULT_SET = [
    *[f"q_tpch_q{i}" for i in range(1, 23)],
    "q_agg_stats",
    "q_agg_summary",
    "q_group_count",
    "q_rollup_source",
    "q_max_by",
    "q_distinct",
    "q_count_distinct",
    "q_minhash_neardup",
    "q_gap_fill",  # data-sized at sf10 -> TOO-BIG, covered by the twin:
    "q_gap_fill_checksum",
    # round-4 families (retrieval serve/eval, layout, rollup, histogram,
    # warehouse lifecycle)
    "q_bm25_topk",
    "q_rrf_fusion",
    "q_rag_context",
    "q_retrieval_eval",
    "q_zorder_key",
    "q_rollup_serve",
    "q_histogram_quantiles",
    "q_scd2_versions",
    "q_cohort_retention",
]

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Queries whose dataflow (and oracle) is DELIBERATELY quadratic within a
# verification block — exact-verification twins of scale-path operators,
# kept low-cardinality on purpose (SCALE.md "oracle verification
# queries"). Differential coverage for these holds through sf1 (full
# sweep, round 6); at sf10 the block cardinality makes them infeasible
# in ANY engine, so --all runs print a documented SKIP instead of
# wedging: q_embed_neardup's 10-label blocking yields 2.0e9 candidate
# pairs at sf10 (the DuckDB oracle's unnest CTE would materialize 1.3e11
# rows; measured 40+ min / 61 GB before interrupt). The sf10-scale
# answer for the same semantics is the bucketed path
# (q_ann_lsh / q_semantic_dedup / q_near_dedup), all swept here.
QUADRATIC_VERIFY_CEILING = {
    "q_embed_neardup": (
        "label-blocked all-pairs cosine: 2.0e9 pairs at sf10 (10 labels "
        "x 20k vecs); certified at sf1, and at sf10 via "
        "q_embed_neardup_small (full left side, 0.1%% probe side); "
        "scale path q_ann_lsh/q_semantic_dedup"
    ),
    # round-6 policy (SCALE.md "q_jaccard_join's sf10 answer"): the
    # operator is linear-shuffled but its RESULT is clique-quadratic on
    # this fixture (~300M exact-Jaccard pairs at sf10 from template
    # duplicates); certified at sf1's 3,005,326-pair bitwise compare.
    "q_jaccard_join": (
        "result is clique-quadratic on the template-heavy fixture "
        "(~300M pairs at sf10); certified at sf1 (3.0M-pair bitwise "
        "compare, SCALE.md)"
    ),
    # The Spark side aggregates candidates per corpus doc and swept fine;
    # the ORACLE joins raw token equality, so its intermediate is
    # sum_tok df_corpus x df_bench — stopword fan-out spilled past the
    # box's 75 GB free disk at sf10. Certified at sf1 with the full
    # %97 bench; q_fuzzy_decontaminate_small (same operator, full corpus
    # side, %970 bench slice) PASSES at sf10: 33,610 verdicts hash-match.
    "q_fuzzy_decontaminate": (
        "oracle's token-equality fan-out spilled >75 GB at sf10; "
        "certified at sf1, and at sf10 via "
        "q_fuzzy_decontaminate_small (full corpus side, bounded bench)"
    ),
    # J4's deliberately simple lang blocking is the reference's own shape
    # (pubmed_enrichment.py fuzzy matching); at sf10 it is 1e9
    # levenshtein pairs per engine and the 0.30 floor makes the result
    # itself data-sized. The scale path for fuzzy matching is the
    # prefix-filtered q_jaccard_join / banded q_near_dedup family.
    "q_fuzzy_join": (
        "lang-blocked all-pairs levenshtein: ~1e9 candidate pairs at "
        "sf10 (10 langs x 10k x 10k after the %5 splits); certified at "
        "sf1, and at sf10 via q_fuzzy_join_small (full left side, "
        "0.2%% probe side, per-doc aggregated verdict)"
    ),
}


def main() -> int:
    args = [a for a in sys.argv[1:]]
    row_cap = 2_000_000
    if "--row-cap" in args:
        i = args.index("--row-cap")
        row_cap = int(args[i + 1])
        del args[i : i + 2]
    run_all = "--all" in args
    if run_all:
        args.remove("--all")
    done_log = None
    if "--done-log" in args:
        i = args.index("--done-log")
        done_log = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0]
    if run_all:
        # full-registry rung (round 7): every registered query executes at
        # this SF; oracle rows hash-compare, data-sized rows need twins
        names = list(E.queries().keys())
    else:
        names = args[1:] or DEFAULT_SET
    if done_log:
        # resume: skip queries already recorded in a prior (partial) log,
        # except FAIL/ERR rows which re-run. A TOO-BIG row counts as done
        # ONLY when it recorded a bounded twin in the run — a 'NO TWIN'
        # row re-runs so it re-flags into big_without_twin and the final
        # gate still fails; treating it as green would let a resumed
        # --all sweep exit 0 with a data-sized query uncovered.
        import re

        seen_ok = set()
        for line in open(done_log, errors="ignore"):
            m = re.search(r"(PASS|TOO-BIG|ROWS-ONLY|SKIP) (q[a-z_0-9]*)", line)
            if not m:
                continue
            # a TOO-BIG row resumes as done only when its twin actually
            # PASSED ("passed", or the pre-r9 "in run" wording which
            # r8's fix already restricted to completed rows); a twin
            # merely "scheduled" re-runs so coverage is re-checked
            if m.group(1) == "TOO-BIG" and not (
                "bounded twin" in line
                and ("passed" in line or "in run" in line)
            ):
                continue
            seen_ok.add(m.group(2))
        # twin coverage is judged against the whole certification run
        # (this invocation + resumed-green rows), not the filtered list —
        # else a re-run TOO-BIG row whose twin already passed would
        # falsely flag NO TWIN
        covered = set(names) | seen_ok
        names = [n for n in names if n not in seen_ok]
        print(f"resume: {len(seen_ok)} already green in {done_log}, "
              f"{len(names)} to run")
    else:
        covered = set(names)

    from pyspark.sql import SparkSession

    # vanilla session like driver_sim — everything queries need must come
    # from io.table
    from rag_pipelines_spark.session import SCRATCH_ROOT

    _scratch = os.path.join(SCRATCH_ROOT, "spark-local")
    os.makedirs(_scratch, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("sf-diff")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # infra conf, not semantics: keep shuffle temps off the host
        # tmp-reaper's turf (see driver_sim.py note)
        .config("spark.local.dir", _scratch)
        .getOrCreate()
    )
    def fresh_con():
        # guard rails for big-SF oracles: bounded memory (a runaway CTE
        # dies with an exception the per-query isolation records, instead
        # of taking the whole box down), relaxed ordering (lets blocking
        # operators spill instead of pinning order-preserving buffers),
        # bounded threads (Spark shares the box during the sweep)
        c = duckdb.connect()
        c.execute(
            f"SET memory_limit='{os.environ.get('SF_DIFF_DUCK_MEM', '48GB')}'"
        )
        c.execute("SET preserve_insertion_order=false")
        c.execute("SET threads=16")
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        return c

    con = fresh_con()

    from tools.driver_sim_lib import vhash  # shared canonical hasher

    qs, oracles = E.queries(), E.oracle_sql()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    n_pass = n_fail = n_big = n_rows_only = n_err = n_skip = 0
    big_without_twin = []
    passed_now: set[str] = set()  # PASS rows from THIS invocation
    pending_twins: dict[str, str] = {}  # TOO-BIG name -> twin not yet run
    for name in names:
        if run_all and name in QUADRATIC_VERIFY_CEILING:
            n_skip += 1
            print(f"SKIP {name}: {QUADRATIC_VERIFY_CEILING[name]}", flush=True)
            continue
        # per-query isolation (driver_sim convention): a full-registry
        # sweep must record ERR and keep going, not abort at query 37
        try:
            df = qs[name](spark, sf_dir)
            n_spark = df.count()  # full distributed execution
            if name not in oracles:
                n_rows_only += 1
                print(f"ROWS-ONLY {name}: {n_spark} rows", flush=True)
                continue
            if n_spark > row_cap:
                n_big += 1
                twin = f"{name}_checksum"
                # a twin only COVERS once it has actually passed — in a
                # prior resumed log (seen-green) or earlier this run. A
                # twin merely scheduled later prints as 'scheduled' and
                # is re-checked after the loop, so a twin that then
                # FAILs/ERRs still fails the gate (a resumed-log reader
                # must never mistake scheduling for certification).
                if twin not in oracles or twin not in covered:
                    status = "NO TWIN"
                    big_without_twin.append(name)
                elif twin in passed_now or (done_log and twin in seen_ok):
                    status = f"bounded twin {twin} passed"
                else:
                    status = f"bounded twin {twin} scheduled"
                    pending_twins[name] = twin
                print(
                    f"TOO-BIG {name}: {n_spark} rows > cap {row_cap} "
                    f"({status})",
                    flush=True,
                )
                continue
            sdf = df.toPandas()
            ddf = con.sql(oracles[name]).df()
            hs, ns = vhash(sdf)
            hd, nd = vhash(ddf)
            ok = hs == hd and sorted(sdf.columns) == sorted(ddf.columns)
            n_pass += ok
            n_fail += not ok
            if ok:
                passed_now.add(name)
            print(f"{'PASS' if ok else 'FAIL'} {name}: spark={ns} duck={nd}", flush=True)
        except Exception as exc:  # noqa: BLE001
            n_err += 1
            msg = str(exc).replace("\n", " ")[:200]
            print(f"ERR {name}: {msg}", flush=True)
            # an OOM'd DuckDB connection can keep its failed allocation
            # pinned (observed: every later query ERRs on tiny blocks) —
            # recycle the connection so one blown oracle stays one ERR.
            # The recycle itself must survive the moment of pressure:
            # close() releases lazily, so collect + brief backoff before
            # reconnecting, and never let a failed reconnect kill the
            # sweep (retry once, then continue with the old handle — the
            # next memory ERR will try again)
            if "emory" in msg or "allocat" in msg or "closed" in msg:
                import gc
                import time

                try:
                    con.close()
                except Exception:  # noqa: BLE001
                    pass
                gc.collect()
                for attempt in range(2):
                    time.sleep(5 * (attempt + 1))
                    try:
                        con = fresh_con()
                        break
                    except Exception as rexc:  # noqa: BLE001
                        print(
                            f"WARN: duck reconnect attempt {attempt} "
                            f"failed: {str(rexc)[:120]}",
                            flush=True,
                        )

    # settle the deferred twin coverage: a TOO-BIG row whose twin was
    # scheduled later in this run is covered only if the twin PASSED
    for name, twin in pending_twins.items():
        if twin not in passed_now:
            print(f"FAIL-TWIN {name}: scheduled twin {twin} did not pass")
            big_without_twin.append(name)
    print(
        f"TOTAL: {n_pass} pass, {n_fail} fail, {n_big} too-big, "
        f"{n_rows_only} rows-only, {n_skip} skip, {n_err} err"
    )
    if big_without_twin:
        print(f"FAIL: too-big queries without a bounded twin: {big_without_twin}")
        return 1
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    sys.exit(main())
