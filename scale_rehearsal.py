"""sf1-scale rehearsal harness (judge r5 #4): measure how the heavy
operators scale from sf0.1 to ~10x the data, and record the ratios in
BASELINE.md.

No sf1 testdata ships with the container, so this builds a DETERMINISTIC
10x amplification of /root/testdata/sf0.1 into /tmp. A naive 10x
replication would corrupt the measurement: identical copies create
cross-replica duplicate cliques, so dedup/similarity operators would pay
O(replicas^2) on data characteristics the original corpus doesn't have,
and the curve would blame the algorithm for the generator's artifact.
Each replica is therefore transformed to preserve WITHIN-replica
structure exactly while decorrelating ACROSS replicas:

- documents: every token is suffixed with a replica marker (replica 0
  keeps the original). Token renaming is a similarity isomorphism —
  within-replica Jaccard/simhash structure is preserved token-for-token
  (modulo marker hash mixing), and replica vocabularies are disjoint, so
  no cross-replica near-dup edges exist.
- embeddings: each replica applies a diagonal +-1 sign transform D_i
  (component j flips by hash(i, j)). D_i is orthogonal, so
  cos(D_i v, D_i w) = cos(v, w) EXACTLY — within-replica geometry is
  bit-preserved — while cos(D_i v, D_j w) for i != j decorrelates to
  near-orthogonal.
- customer: the first three name characters become a per-replica marker
  with pairwise Hamming distance 3 > max_dist, so the fuzzy join gains
  no cross-replica pairs; numeric suffixes (the actual join structure)
  are untouched.

Run: python scale_rehearsal.py [--factor 10] — prints one JSON line per
query with the base (sf0.1) time, the scaled time, and the time ratio
vs the data ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

BASE_SF = "/root/testdata/sf0.1"
WORK = "/tmp/sg_scale_rehearsal"

QUERIES = [
    "customers_fuzzy_name_pairs",
    "dedup_graph_pagerank",
    "dedup_semantic_clusters",
    "bpe_vocab_merges_deep",
    "corpus_curation_v2",
    # round 6b additions (events/orders amplified since r6b): span
    # explosion, keyed window, write-then-join layout cost
    "dedup_substring_spans",
    "events_time_weighted_avg",
    "orders_customer_bucketed_join",
    # round 6c additions: corpus token explode + broadcast ratios,
    # global two-pass prefix sum, gaps-and-islands window, RANGE-frame
    # window, iterative recursive-CTE joins
    "corpus_dsir_selection",
    "corpus_weighted_resample",
    "events_interval_coalesce",
    "events_trailing_hour_stats",
    "customers_hierarchy_recursive",
    # round 6c second wave: composed ER, exact prefix-filtered jaccard,
    # image phash dedup, KMV sketch, map-side redaction, DV delete
    "customers_entity_resolution",
    "dedup_jaccard_prefix_join",
    "multimodal_phash_dedup",
    "events_kmv_distinct_users",
    "corpus_term_redaction",
    "orders_gdpr_delete",
    # round 7: retrieval + KNN-join family (embeddings_knn_join blocks
    # on the FIXED label column -> expected superlinear like fixed-k
    # SemDeDup; the scaled-blocks posture is measured separately below)
    "documents_bm25_topk",
    "documents_hashed_knn",
    "embeddings_knn_join",
    # round 7b: store-machinery pipelines (multi-version commits, CDC
    # walk, targeted-recompute IVM) — measure the commit path's scaling
    "orders_cdc_relay",
    "orders_ivm_minmax_status",
    # round 7c: the DML statement engine (5 versioned commits end to
    # end) and the O(k) theta set-ops (expect flat-to-sublinear — only
    # the sketch build scans data)
    "orders_dml_lifecycle",
    "events_theta_set_ops",
    # round 7c additions: banded NEAR range join (index build + search),
    # pairwise overlap matrix (O(k) cells), hot-key salted join
    "documents_proximity_search",
    "events_audience_overlap",
    "events_salted_dim_join",
    # round 7d: A-ES reservoir (map-side keys + one top-k -> expect
    # ~linear scan time) and MMR re-rank (pool stage scans the corpus;
    # the greedy itself is pool-bounded and flat)
    "corpus_weighted_reservoir",
    "similarity_mmr_diverse_topk",
    # CDC chunk dedup: O(window) per character map work + a hash-keyed
    # group-by -> expect ~linear
    "dedup_cdc_chunks",
    # round 8: leakage-safe split — banded pair mining + label
    # propagation + map-side split; replicas are near-dup-disjoint so
    # component structure scales linearly -> expect ~linear
    "corpus_leakage_safe_split",
    # round 9 (VERDICT r8 #6): masked read — expression substitution is
    # plan-time, so expect ~linear scan cost; chunk containment pairs
    # CDC chunk hashes via equi-join -> expect ~linear (replica
    # vocabularies are disjoint, no cross-replica containment edges)
    "customers_masked_read",
    "dedup_chunk_containment",
    # round 9: governance reads — row-access filter + mask are a
    # plan-time rewrite over a seeded store table; the UPDATE commit in
    # the time-travel query is the only versioned write -> expect the
    # commit path's ~linear write cost to dominate
    "orders_row_access_read",
    "orders_governed_timetravel",
    # round 9b: CDC/stream machinery (three-to-five versioned commits +
    # key-hash diff joins -> expect the ~linear commit/scan cost),
    # sequence minting (two narrow global-index jobs + commits),
    # task DAG (driver-side orchestration + two aggregate jobs),
    # conditional change events (one keyed shuffle, two Windows),
    # MATCH_RECOGNIZE runs (vectorized predicate + C-regex per group),
    # CONNECT BY (log-depth frontier joins; depth grows only with key
    # RANGE, so 10x rows at the same key range -> same rounds)
    "orders_changes_scan",
    "orders_stream_incremental",
    "orders_sequence_blocks",
    "orders_task_dag",
    "events_conditional_change_event",
    "events_error_bursts",
    "events_value_vshape",
    "customers_connect_by_roots",
    # round 10: manifest-served CDC (orders_changes_scan /
    # orders_stream_incremental above now compose per-commit manifests
    # — expect the READ side flat-to-sublinear, commits ~linear),
    # MATCH_RECOGNIZE with overlapping defines (classification replay
    # on ambiguous spans — replay cost is O(span) per match, matches
    # scale with cohort rows), CONNECT BY root/path carries (the
    # visited/path arrays grow with DEPTH, which is key-range-bound,
    # not row-bound)
    "events_error_context",
    "customers_connect_by_paths",
    # round 11: overlapping-match scan (SKIP TO NEXT ROW emits ~1 match
    # per qualifying row — linear in cohort rows) and the SQL-surface
    # clause (same operator + a view hop); matcher now BUCKETS keys
    # (8 x shuffle partitions) so per-key Arrow overhead amortizes —
    # expect the ratio to hold or improve vs the per-key r10 shape
    "events_error_pairs_overlap",
    "events_vshape_sql",
    "events_error_burst_stats",
    # round 13: the condition-aware NFA scan (cross-symbol DEFINE) is
    # per-partition sequential Python — partitions are per-user and
    # user count scales with data while rows/user stay fixed, so
    # expect ~linear wall-clock on a fixed-core box; DESC runs ride
    # the same matcher with a direction-aware sort. The dynamic-table
    # lifecycle is commit-machinery-bound (CTAS + DT build + insert +
    # refresh + O(1) skip) — expect the ~linear commit/scan cost, and
    # the SKIP leg to stay flat (version-pointer reads only).
    "events_mr_cross_define",
    "events_mr_desc_runs",
    "orders_dynamic_table",
    # round 14: MR DEFINE running aggregates ride the NFA with an
    # O(match length) accumulator walk per test — matches are capped
    # at 3 rows here so the walk is constant and the scan ~linear in
    # cohort rows; the SQL-offloaded predicate define adds one codegen
    # projection before the matcher shuffle — expect the plain MR
    # ratio. The DT join/upsert lifecycles are commit-machinery-bound
    # like orders_dynamic_table; their READ legs are delta-sized.
    "events_mr_bounded_burst",
    "events_mr_predicate_defines",
    "orders_dynamic_table_join",
    "orders_dynamic_table_upsert",
    # round 15: the N-base chain and agg-over-join DT lifecycles are
    # commit-machinery-bound like the two-base join (per-leg delta
    # probes; the combine touches the group-sized output); the MR
    # additions add one engine-side broadcast-flag join (IN-subquery)
    # or a pre-matcher projection (mixed term) — expect the plain MR
    # ratio; the recursive-CTE ASOF pays depth rounds of frontier
    # joins before the keyed window.
    "orders_dynamic_table_join3",
    "orders_dynamic_table_join_agg",
    "events_mr_mixed_term",
    "events_mr_in_subquery",
    "orders_asof_recursive_cte",
    "orders_dynamic_table_union",
    "orders_dynamic_table_distinct",
    "events_mr_subquery_input",
    "events_mr_nav_predicate",
]

TABLES = ["documents", "embeddings", "customer", "events", "orders"]

ID_STRIDE = 10_000_000


def build_scaled(spark, factor: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    cust = spark.read.parquet(f"{BASE_SF}/customer.parquet")
    ev = spark.read.parquet(f"{BASE_SF}/events.parquet")
    od = spark.read.parquet(f"{BASE_SF}/orders.parquet")

    doc_parts, emb_parts, cust_parts = [], [], []
    ev_parts, od_parts = [], []
    for i in range(factor):
        if i == 0:
            doc_parts.append(docs)
            emb_parts.append(emb)
            cust_parts.append(cust)
            ev_parts.append(ev)
            od_parts.append(od)
            continue
        # events/orders: shift every entity id by the replica stride —
        # replicas are disjoint user/customer populations sharing the
        # same time range and distributions, so keyed windows and joins
        # gain rows but no artificial cross-replica structure.
        ev_parts.append(
            ev.select(
                (F.col("event_id") + i * ID_STRIDE).alias("event_id"),
                "ts",
                (F.col("user_id") + i * ID_STRIDE).alias("user_id"),
                *[c for c in ev.columns if c not in ("event_id", "user_id", "ts")],
            )
        )
        od_parts.append(
            od.select(
                (F.col("o_orderkey") + i * ID_STRIDE).alias("o_orderkey"),
                (F.col("o_custkey") + i * ID_STRIDE).alias("o_custkey"),
                *[c for c in od.columns if c not in ("o_orderkey", "o_custkey")],
            )
        )
        marker = f"_r{i}"
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + i * ID_STRIDE).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split("text", " "), lambda w: F.concat(w, F.lit(marker))
                    ),
                    " ",
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        # diagonal +-1 transform: orthogonal, so within-replica cosines
        # are exact; across replicas vectors decorrelate.
        sign = lambda j, i=i: F.when(
            F.pmod(F.xxhash64(F.lit(i), j), F.lit(2)) == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + i * ID_STRIDE).alias("vec_id"),
                F.transform(
                    "embedding", lambda x, j: x * sign(j)
                ).alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
        # 3-char replica marker, pairwise Hamming 3 > fuzzy max_dist=2
        mk = chr(ord("A") + (i % 26)) * 3
        cust_parts.append(
            cust.select(
                (F.col("c_custkey") + i * ID_STRIDE).alias("c_custkey"),
                F.concat(
                    F.lit(mk), F.substring("c_name", 4, 10_000)
                ).alias("c_name"),
                *[c for c in cust.columns if c not in ("c_custkey", "c_name")],
            )
        )

    def union_all(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    union_all(doc_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    union_all(emb_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    union_all(cust_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/customer.parquet"
    )
    union_all(ev_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )
    union_all(od_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )


def time_queries(spark, registry, sf_dir: str, queries=None) -> dict[str, float]:
    out = {}
    for name in queries or QUERIES:
        t0 = time.perf_counter()
        n = len(registry[name].fn(spark, sf_dir).collect())
        out[name] = round(time.perf_counter() - t0, 2)
        print(f"# {sf_dir} {name}: {out[name]}s ({n} rows)", file=sys.stderr)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of QUERIES (default: all)",
    )
    args = ap.parse_args()
    selected = args.queries.split(",") if args.queries else QUERIES

    from dbt_omnata_push_spark.engine.session import get_spark, local_cores
    from dbt_omnata_push_spark.queries import load_all

    cpus = local_cores()
    spark = get_spark(
        app_name="scale_rehearsal",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "24g"
            ),
        },
    )
    registry = load_all()

    x1_dir = os.path.join(WORK, "x1")
    xn_dir = os.path.join(WORK, f"x{args.factor}")
    shutil.rmtree(WORK, ignore_errors=True)
    # both ends of the curve go through the same generator + layout so
    # the only variable is volume
    build_scaled(spark, 1, x1_dir)
    build_scaled(spark, args.factor, xn_dir)

    # warmup (JVM/codegen) on the small end, uncounted
    time_queries(spark, registry, x1_dir, selected)
    base = time_queries(spark, registry, x1_dir, selected)
    scaled = time_queries(spark, registry, xn_dir, selected)

    # SemDeDup k-scaling: the registry query blocks on the FIXED label
    # column, so its per-cluster all-pairs stage is O(n^2 / k) with k
    # constant — expected superlinear here (and measured so). The
    # documented 100 TB posture is a k-means codebook whose k grows
    # with n ("cluster sizes are bounded by the codebook",
    # llmops/similarity.py::semantic_dedup_flags); this measures that
    # claim directly: k=8 at x1 vs k=8*factor at x{factor}.
    from dbt_omnata_push_spark.llmops import similarity as S

    run_semdedup = "dedup_semantic_clusters" in selected

    def semdedup_secs(sf_dir: str, k: int) -> float:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t0 = time.perf_counter()
        centroids = S.kmeans_fit(emb, k=k, max_iter=4, arrow_assign=True)
        assigned = S.assign_clusters(emb, centroids)
        n = S.semantic_dedup_flags(
            assigned, threshold=0.98, cluster_col="cluster"
        ).count()
        dt = round(time.perf_counter() - t0, 2)
        print(f"# semdedup {sf_dir} k={k}: {dt}s ({n} rows)", file=sys.stderr)
        return dt

    # KNN-join with blocks scaled with n (the documented 100 TB posture:
    # blocking key = trained k-means cell, cluster sizes bounded by the
    # codebook — knn_join_blocked docstring) vs the registry query's
    # fixed 10-label blocking measured above.
    run_knn = "embeddings_knn_join" in selected

    def knn_scaled_secs(sf_dir: str, k_cells: int) -> float:
        from dbt_omnata_push_spark.llmops import similarity as S

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t0 = time.perf_counter()
        cents = S.kmeans_fit(emb, k=k_cells, max_iter=4, arrow_assign=True)
        assigned = S.assign_clusters(emb, cents)
        n = S.knn_join_blocked(assigned, k=3, block_col="cluster").count()
        dt = round(time.perf_counter() - t0, 2)
        print(f"# knn-join {sf_dir} k={k_cells}: {dt}s ({n} rows)", file=sys.stderr)
        return dt

    # DT-join bulk-backfill delta (r15, VERDICT r14 #1): a delta the
    # size of the ENTIRE base — the adversarial case for the formerly
    # unconditional broadcast. The refresh must STAY incremental (the
    # size gate drops the hint and AQE picks the join) and complete
    # without a forced-broadcast OOM at both ends of the curve.
    run_dtbulk = "orders_dynamic_table_join" in selected

    def dt_bulk_delta_secs(sf_dir: str) -> float:
        import tempfile

        from dbt_omnata_push_spark.engine.dag import Engine
        from dbt_omnata_push_spark.engine.store import TableStore

        eng = Engine(
            spark, TableStore(tempfile.mkdtemp(prefix="sg-dtb-"))
        )
        eng.seed(
            "bulk_src",
            spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
                "o_orderkey",
                "o_custkey % 10 as ck",
                "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
                " as cents",
            ),
        )
        eng.query(
            "create table bulk_a as select * from bulk_src"
        )
        eng.query(
            "create table bulk_dim as select distinct ck, "
            "'B' || cast(ck as string) as tag from bulk_a"
        )
        eng.query(
            "create dynamic table dt_bulk target_lag = '1 minute' as "
            "select a.o_orderkey as okey, a.cents as cents, "
            "d.tag as tag from bulk_a a join bulk_dim d on a.ck = d.ck"
        )
        eng.query(
            "insert into bulk_a select o_orderkey + 1000000000, "
            "ck, cents from bulk_a"
        )
        t0 = time.perf_counter()
        eng.query("alter dynamic table dt_bulk refresh")
        dt = round(time.perf_counter() - t0, 2)
        mode = eng.store.dt_refresh_history()[-1]["mode"]
        if mode != "incremental":
            raise AssertionError(
                f"bulk-delta refresh fell off incremental: {mode}"
            )
        print(
            f"# dt-bulk-delta {sf_dir}: {dt}s (mode={mode})",
            file=sys.stderr,
        )
        return dt

    dt_bulk = None
    if run_dtbulk:
        dt_bulk = {
            "base_sec": dt_bulk_delta_secs(x1_dir),
            "scaled_sec": dt_bulk_delta_secs(xn_dir),
        }
        dt_bulk["time_ratio"] = round(
            dt_bulk["scaled_sec"] / dt_bulk["base_sec"], 2
        )

    knn_scaled = None
    if run_knn:
        knn_scaled = {
            "base_k8_sec": knn_scaled_secs(x1_dir, 8),
            "scaled_k_sec": knn_scaled_secs(xn_dir, 8 * args.factor),
        }
        knn_scaled["time_ratio_scaled_k"] = round(
            knn_scaled["scaled_k_sec"] / knn_scaled["base_k8_sec"], 2
        )

    semdedup = None
    if run_semdedup:
        semdedup = {
            "base_k8_sec": semdedup_secs(x1_dir, 8),
            "scaled_k_sec": semdedup_secs(xn_dir, 8 * args.factor),
        }
        semdedup["time_ratio_scaled_k"] = round(
            semdedup["scaled_k_sec"] / semdedup["base_k8_sec"], 2
        )

    result = {
        "metric": "scale_rehearsal",
        "base_dir": x1_dir,
        "factor": args.factor,
        "semdedup_scaled_k": semdedup,
        "knn_join_scaled_k": knn_scaled,
        "dt_bulk_delta": dt_bulk,
        "queries": {
            q: {
                "base_sec": base[q],
                "scaled_sec": scaled[q],
                "time_ratio": round(scaled[q] / base[q], 2),
            }
            for q in selected
        },
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
