"""Simulate the spark-graft driver gates locally (the /verify recipe).

t1 smoke: run entry(spark), assert rows > 0.
t2 correctness: for every queries() entry, run the Spark callable at
sf0.01 and the matching oracle_sql() in DuckDB; compare sorted-column
order-insensitive canonical rows. Exit 1 on any mismatch.

Usage: python tools/driver_sim.py [sf_dir]
    sf_dir defaults to the driver's sf0.01; pass a generated dir (e.g.
    _testdata/sf1 from tools/gen_sf.py) to re-run the whole differential
    at another scale. Generated tables are directories of part files, so
    the DuckDB views glob when the path is a directory.
"""
import os, sys, duckdb, pandas as pd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as E
from rag_pipelines_spark.session import SCRATCH_ROOT
from pyspark.sql import SparkSession

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# VANILLA session on purpose — the real driver builds its own SparkSession
# with none of session.py's confs (that mismatch hid the round-1 NANOS
# bug: every events query ERR'd only under the driver). Everything the
# queries need (nanosAsLong, UTC timezone) must come from io.table itself.
_scratch = os.path.join(SCRATCH_ROOT, "spark-local")
os.makedirs(_scratch, exist_ok=True)
_b = (
    SparkSession.builder.master("local[*]")
    .appName("driver-sim")
    .config("spark.ui.enabled", "false")
    # NOT a semantics conf (stays "vanilla"): the host tmp-reaper deletes
    # in-flight temp_shuffle files under /tmp during long runs (killed a
    # 30-min sf1 sweep at stage 356) — same scratch dir session.py uses
    .config("spark.local.dir", _scratch)
)
# stay vanilla unless explicitly overridden: big-SF reruns (sf>=1) funnel
# multi-M-row results through toPandas in THIS HARNESS (the engine never
# does) and need a driver heap beyond the 1g default —
# SPARK_DRIVER_MEMORY=16g python tools/driver_sim.py _testdata/sf1
if os.environ.get("SPARK_DRIVER_MEMORY"):
    _b = _b.config("spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"])
spark = _b.getOrCreate()

# t1 smoke
print(f"ENTRY {E.__file__}")  # the checkout under test
df = E.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={df.columns}")
assert len(rows) > 0

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    p = f"{SF}/{t}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

from tools.driver_sim_lib import vhash  # shared with sf_diff.py

qs, oracles = E.queries(), E.oracle_sql()
# DRIVER_SIM_ONLY=q_a,q_b — targeted re-verification of just-changed
# queries (full sweep stays the default; the driver itself has no filter)
only = os.environ.get("DRIVER_SIM_ONLY")
if only:
    want = {n.strip() for n in only.split(",") if n.strip()}
    qs = {n: f for n, f in qs.items() if n in want}
n_pass = n_fail = n_rows_only = n_err = 0
for name, fn in sorted(qs.items()):
    # per-query isolation like the real driver: one bad query records ERR
    # and the sweep continues (an uncaught raise aborted the first sf1
    # round-4 sweep inside q_stream_dedup)
    try:
        sdf = fn(spark, SF).toPandas()
        if name in oracles:
            ddf = con.sql(oracles[name]).df()
            hs, ns = vhash(sdf); hd, nd = vhash(ddf)
            ok = hs == hd and sorted(sdf.columns) == sorted(ddf.columns)
            n_pass += ok; n_fail += (not ok)
            print(f"{'PASS' if ok else 'FAIL'} {name}: spark={ns} duck={nd}", flush=True)
        else:
            n_rows_only += 1
            print(f"ROWS-ONLY {name}: {len(sdf)} rows", flush=True)
    except Exception as exc:  # noqa: BLE001
        n_err += 1
        msg = str(exc).replace("\n", " ")[:200]
        print(f"ERR {name}: {msg}", flush=True)
print(f"TOTAL: {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, {n_err} err")
sys.exit(1 if (n_fail or n_err) else 0)
