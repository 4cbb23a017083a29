"""Fresh-process driver-contract sweep: entry() smoke at sf0.001, then
every queries() key vs its oracle_sql() at sf0.01 via the same
canonical compare the round driver uses (tests/oracle_harness).
SPARK_GRAFT_SF_DIR (required) names the sf0.01 parquet dir.

Writes the per-key result to VERIFY_SWEEP.json at the repo root — the
committed full-surface artifact that complements the driver's
CORRECTNESS_r{N}.json, which records only a 50-key prefix (VERDICT r4
item 4)."""
import importlib, json, os, sys, time, traceback

# The checkout this file lives in, not whatever copy is on sys.path.
# Spark's Python workers (the pandas-UDF keys) import the engine from
# the working directory, so the sweep runs from the checkout as well.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession

from oracle_harness import assert_parity

SF_ORACLE = os.environ["SPARK_GRAFT_SF_DIR"]

m = importlib.import_module("__spark_entry__")
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
rows = m.entry(spark).collect()
print(f"entry() smoke: {len(rows)} rows", flush=True)

Q, O = m.queries(), m.oracle_sql()

# The sweep's contract is completeness (VERDICT r12 #2: a key declared
# after the last sweep shipped unswept): it must cover EVERY declared
# registry key, or fail loudly before writing the artifact.
from distributed_graph_database_spark import registry as _registry

assert set(Q) == set(_registry.QUERIES), (
    "verify_sweep key set != registry.QUERIES: "
    f"missing={sorted(set(_registry.QUERIES) - set(Q))} "
    f"extra={sorted(set(Q) - set(_registry.QUERIES))}"
)
print(f"{len(Q)} keys, {len(O)} oracles", flush=True)
fails = []
results = {}
for key, fn in Q.items():
    t0 = time.time()
    try:
        df = fn(spark, SF_ORACLE)
        if key in O:
            assert_parity(df, O[key], SF_ORACLE, key)
            status = "parity"
        else:
            n = df.count()
            assert n > 0, "rows-only key returned 0 rows"
            status = f"rows-only ({n})"
    except Exception:
        status = "FAIL"
        fails.append(key)
        traceback.print_exc()
    results[key] = {"status": status, "seconds": round(time.time() - t0, 2)}
    print(f"  {key}: {status} [{results[key]['seconds']}s]", flush=True)

with open(os.path.join(REPO, "VERIFY_SWEEP.json"), "w") as f:
    json.dump(
        {
            "sf_dir": SF_ORACLE,
            "n_keys": len(Q),
            "n_fail": len(fails),
            "keys": results,
        },
        f,
        indent=1,
    )
print(f"SWEEP {'FAILED: ' + ','.join(fails) if fails else 'OK'} ({len(Q)} keys)")
sys.exit(1 if fails else 0)
