"""CDC manifest rehearsal (r11, VERDICT r10 #6): quantify, at a 10x
amplified sf0.1 scale, (a) the READ win — manifest composition vs the
two-version-join fallback for the same changed-rows window — and (b)
the WRITE cost the change_tracking gate removes — an identical keyed
MERGE committed with tracking ON vs OFF.

Run (load must be ~0; results land in BASELINE.md):
    python cdc_rehearsal.py [--factor 10] [--delta-pct 1]
Prints one JSON line:
    {"metric": "cdc_rehearsal", "rows": N, "read_manifest_s": ...,
     "read_fallback_s": ..., "merge_tracked_s": ..., "merge_untracked_s": ...}
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import time

from pyspark.sql import functions as F

WORK = "/tmp/sg_cdc_rehearsal"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--delta-pct", type=float, default=1.0)
    args = ap.parse_args()

    from dbt_omnata_push_spark.engine.dag import Engine
    from dbt_omnata_push_spark.engine.session import get_spark, local_cores
    from dbt_omnata_push_spark.engine.store import TableStore

    cpus = local_cores()
    spark = get_spark(
        app_name="cdc_rehearsal",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    n_base = base.count()
    # amplify: shift keys per replica so the table stays unique-keyed
    parts = [
        base.select(
            (F.col("o_orderkey") + F.lit(i * 10_000_000)).alias("pk"),
            "o_custkey",
            "o_totalprice",
            "o_orderstatus",
        )
        for i in range(args.factor)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)

    shutil.rmtree(WORK, ignore_errors=True)
    store = TableStore(os.path.join(WORK, "store"))
    engine = Engine(spark, store)
    store.create(spark, "t", big)
    n = store.read(spark, "t").count()

    mod = max(2, int(round(100 / args.delta_pct)))
    delta = (
        store.read(spark, "t")
        .filter(F.col("pk") % mod == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        .localCheckpoint()
    )
    n_delta = delta.count()

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return round(time.perf_counter() - t0, 2)

    # -- write side: the gating win -----------------------------------
    merge_untracked_s = timed(
        lambda: store.merge_upsert(spark, "t", delta, "pk")
    )  # v1, no manifest
    store.set_change_tracking("t", True)
    merge_tracked_s = timed(
        lambda: store.merge_upsert(spark, "t", delta, "pk")
    )  # v2, rows manifest (idempotent delta: pre==post, events empty-ish)
    # a third merge with a real change so the v3 window has content
    delta2 = delta.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    ).localCheckpoint()
    store.merge_upsert(spark, "t", delta2, "pk")  # v3

    # -- read side: manifest composition vs fallback -------------------
    read_manifest_s = timed(
        lambda: store.read_changes(spark, "t", 2, 3, "pk").count()
    )
    for e in os.listdir(store._dir("t")):
        if e.startswith("cdc_v="):
            p = os.path.join(store._dir("t"), e)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    read_fallback_s = timed(
        lambda: store.read_changes(spark, "t", 2, 3, "pk").count()
    )

    print(
        json.dumps(
            {
                "metric": "cdc_rehearsal",
                "factor": args.factor,
                "rows": n,
                "delta_rows": n_delta,
                "read_manifest_s": read_manifest_s,
                "read_fallback_s": read_fallback_s,
                "merge_tracked_s": merge_tracked_s,
                "merge_untracked_s": merge_untracked_s,
            }
        )
    )
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
