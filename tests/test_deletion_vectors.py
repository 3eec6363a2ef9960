"""Deletion vectors (engine/store.py::delete_where): merge-on-read
DELETE with O(matched + file-metadata) commits — the Delta/Iceberg DV
shape. Files must be carried unrewritten (inode-checked), reads must
apply the vector, rewrite paths must materialize it, and the linking
paths (partition-scoped merge) must carry it for retained partitions."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dbt_omnata_push_spark.engine.store import TableStore

from .conftest import job_budget


def _inodes(d):
    out = {}
    for root, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith("_")]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, d)] = os.stat(p).st_ino
    return out


def test_delete_where_filters_reads_without_rewriting_files(spark, tmp_path):
    store = TableStore(str(tmp_path / "s"))
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("grp")
    )
    store.create(spark, "t", df)
    v0 = store.data_path("t")
    before = _inodes(v0)
    n = store.delete_where(spark, "t", F.col("id") % 7 == 0)
    assert n == 15  # 0,7,...,98
    after = _inodes(store.data_path("t"))
    assert before == after  # identical files, hard-linked — no rewrite
    got = {r["id"] for r in store.read(spark, "t").collect()}
    assert got == {i for i in range(100) if i % 7 != 0}


def test_read_of_a_version_with_a_dv_launches_no_job(spark, tmp_path):
    """The vector's schema is given, not inferred: building the read,
    anti-join included, starts no Spark job."""
    store = TableStore(str(tmp_path / "s"))
    store.create(spark, "t", spark.range(30))
    store.delete_where(spark, "t", F.col("id") < 10)
    with job_budget(spark, 0):
        df = store.read(spark, "t")
    assert sorted(r["id"] for r in df.collect()) == list(range(10, 30))


def test_delete_where_is_cumulative_and_idempotent(spark, tmp_path):
    store = TableStore(str(tmp_path / "s"))
    store.create(spark, "t", spark.range(50))
    assert store.delete_where(spark, "t", F.col("id") < 10) == 10
    assert store.delete_where(spark, "t", F.col("id") >= 45) == 5
    # rows already deleted don't count again
    assert store.delete_where(spark, "t", F.col("id") < 12) == 2
    got = sorted(r["id"] for r in store.read(spark, "t").collect())
    assert got == list(range(12, 45))


def test_time_travel_and_cdf_see_deletes(spark, tmp_path):
    store = TableStore(str(tmp_path / "s"))
    store.create(spark, "t", spark.range(20))
    v0 = store.current_version("t")
    store.delete_where(spark, "t", F.col("id") >= 15)
    v1 = store.current_version("t")
    assert store.read_version(spark, "t", v0).count() == 20
    assert store.read_version(spark, "t", v1).count() == 15
    changes = store.read_changes(spark, "t", v0, v1, unique_key="id")
    kinds = {
        (r["id"], r["change_type"]) for r in changes.collect()
    }
    assert kinds == {(i, "delete") for i in range(15, 20)}


def test_rewrite_paths_materialize_deletes(spark, tmp_path):
    store = TableStore(str(tmp_path / "s"))
    store.create(spark, "t", spark.range(30))
    store.delete_where(spark, "t", F.col("id") < 5)
    # overwrite reads through the DV -> new files, sidecar gone
    store.overwrite(spark, "t", store.read(spark, "t"))
    dv_sibling = os.path.join(
        os.path.dirname(store.data_path("t")),
        "dv_" + os.path.basename(store.data_path("t")),
    )
    assert not os.path.isdir(dv_sibling)
    assert store.read(spark, "t").count() == 25


def test_partition_scoped_merge_carries_dv_for_untouched(spark, tmp_path):
    store = TableStore(str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b", i * 10) for i in range(100)],
        "id long, p string, val long",
    )
    store.create(spark, "t", df, partition_by="p")
    assert store.delete_where(spark, "t", F.col("id").isin(1, 2, 60)) == 3
    # merge touches ONLY partition b: a's files are linked, its DV rows
    # must carry; b is rewritten DV-applied, so 60 stays gone and 61
    # gets its new value
    src = spark.createDataFrame([(61, "b", -1)], "id long, p string, val long")
    store.merge_upsert(spark, "t", src, "id")
    rows = {r["id"]: r["val"] for r in store.read(spark, "t").collect()}
    assert 1 not in rows and 2 not in rows  # carried DV on untouched a
    assert 60 not in rows  # materialized during b's rewrite
    assert rows[61] == -1
    assert len(rows) == 100 - 3
    # and the b-partition deletes did NOT leave stale DV rows behind
    dv_sibling = os.path.join(
        os.path.dirname(store.data_path("t")),
        "dv_" + os.path.basename(store.data_path("t")),
    )
    dv = spark.read.parquet(dv_sibling)
    assert all(
        r["relpath"].startswith("p=a/") for r in dv.collect()
    )


def test_delete_on_partition_column_prunes_and_deletes(spark, tmp_path):
    store = TableStore(str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(40)], "id long, p string"
    )
    store.create(spark, "t", df, partition_by="p")
    n = store.delete_where(spark, "t", (F.col("p") == "x") & (F.col("id") < 10))
    assert n == len([i for i in range(10) if i % 2])
    got = {r["id"] for r in store.read(spark, "t").collect()}
    assert got == {i for i in range(40) if not (i % 2 and i < 10)}


def test_append_after_dv_delete_keeps_rows_deleted(spark, tmp_path):
    """Regression (hypothesis-found): the DV sidecar is a SIBLING of
    the version dir, so a link-commit that copies only v=N would drop
    it and resurrect deleted rows on the next append (or metadata-only
    ADD COLUMN)."""
    from dbt_omnata_push_spark.engine.store import TableStore

    store = TableStore(str(tmp_path / "s"))
    store.create(spark, "t", spark.createDataFrame([(0,), (1,)], "k long"))
    store.delete_where(spark, "t", F.col("k") == 0)
    assert store.read(spark, "t").count() == 1
    store.append(spark, "t", spark.createDataFrame([(2,)], "k long"))
    got = sorted(r["k"] for r in store.read(spark, "t").collect())
    assert got == [1, 2]  # k=0 must STAY deleted through the append
    # same carry through metadata-only ADD COLUMN
    store.add_column(spark, "t", "note", "string")
    got2 = sorted(r["k"] for r in store.read(spark, "t").collect())
    assert got2 == [1, 2]
