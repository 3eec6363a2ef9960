"""Drive the contract like the driver does: every oracle-declared query
vs DuckDB at sf0.01, vanilla SparkSession, fresh process.

Usage: python verify_all.py [name_filter ...]
"""
import importlib.util
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(HERE, "__spark_entry__.py")
)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession  # noqa: E402

from tests.oracle_utils import compare  # noqa: E402

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "12g")
    .getOrCreate()
)

qs = mod.queries()
osql = mod.oracle_sql()
names = [n for n in qs if n in osql]
filters = sys.argv[1:]
if filters:
    names = [n for n in names if any(f in n for f in filters)]

fails = []
t_all = time.time()
for i, name in enumerate(names):
    t0 = time.time()
    try:
        df = qs[name](spark, SF_DIR)
        ok, detail = compare(df, osql[name], SF_DIR)
    except Exception as e:  # noqa: BLE001
        ok, detail = False, f"EXC: {type(e).__name__}: {e}"
    dt = time.time() - t0
    status = "ok" if ok else "FAIL"
    print(f"[{i+1}/{len(names)}] {name}: {status} ({dt:.1f}s)"
          + ("" if ok else f" -- {detail[:300]}"), flush=True)
    if not ok:
        fails.append((name, detail))

print(f"\n== {len(names) - len(fails)}/{len(names)} ok "
      f"in {time.time()-t_all:.0f}s")
for name, detail in fails:
    print(f"FAIL {name}: {detail[:500]}")
spark.stop()
sys.exit(1 if fails else 0)
