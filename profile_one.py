"""Per-call profiling of a single registry query (guide §1: measure first).

Usage: python profile_one.py <query_name> [sf_dir]

Times every TableStore public method and Engine.query statement inside
the query, plus the final collect, and prints a sorted breakdown. Use it
to attribute lifecycle-query seconds to store commits vs compute.
"""

from __future__ import annotations

import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CALLS: list[tuple[str, float, str]] = []


def _instrument(cls, names):
    for meth in names:
        orig = getattr(cls, meth, None)
        if orig is None or not callable(orig):
            continue

        def make(orig=orig, meth=meth, cls=cls.__name__):
            @functools.wraps(orig)
            def w(*a, **k):
                label = ""
                if meth == "query" and len(a) > 1 and isinstance(a[1], str):
                    label = " ".join(a[1].split())[:90]
                t0 = time.perf_counter()
                try:
                    return orig(*a, **k)
                finally:
                    CALLS.append(
                        (f"{cls}.{meth}", time.perf_counter() - t0, label)
                    )
            return w

        setattr(cls, meth, make())


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    reps = int(os.environ.get("PROFILE_REPS", "2"))

    from dbt_omnata_push_spark.engine import dag, store
    from dbt_omnata_push_spark.engine.session import get_spark, local_cores
    from dbt_omnata_push_spark.queries import load_all

    _instrument(
        store.TableStore,
        [
            "create", "append", "merge_upsert", "delete_where", "read",
            "read_version", "insert_overwrite", "update_from", "overwrite",
            "history", "scd2_commit", "clone_table", "swap_tables",
            "drop", "add_column", "drop_column", "rename_column",
        ],
    )
    _instrument(
        dag.Engine,
        ["query", "seed", "refresh_dynamic_table", "_register_views"],
    )

    cpus = local_cores()
    spark = get_spark(
        app_name=f"profile-{name}",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "16g"
            ),
        },
    )
    registry = load_all()

    # PROFILE_CPROFILE=1: wrap the measured reps in cProfile to
    # attribute driver-side Python time (py4j waits show up under
    # socket recv; pure-Python overhead — regex transpile, os walks,
    # plan bookkeeping — shows up under the repo's own frames).
    prof = None
    if os.environ.get("PROFILE_CPROFILE"):
        import cProfile

        prof = cProfile.Profile()

    for rep in range(reps + 1):  # rep 0 = warmup
        CALLS.clear()
        if prof is not None and rep == 1:
            prof.enable()
        t0 = time.perf_counter()
        df = registry[name].fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        t1 = time.perf_counter()
        n = len(df.collect())
        t_collect = time.perf_counter() - t1
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        if rep == 0:
            print(f"== warmup: build {t_build:.3f}s collect {t_collect:.3f}s")
            continue
        print(f"\n== rep {rep}: build {t_build:.3f}s + collect "
              f"{t_collect:.3f}s = {t_build + t_collect:.3f}s ({n} rows)")
        # Engine.query nests store calls; print the raw ordered trace.
        for what, dt, label in CALLS:
            if dt >= 0.010:
                print(f"  {dt:8.3f}s  {what}  {label}")
    if prof is not None:
        import pstats

        prof.disable()
        print("\n== cProfile (cumulative, top 45) ==")
        pstats.Stats(prof).sort_stats("cumulative").print_stats(45)
    spark.stop()


if __name__ == "__main__":
    main()
