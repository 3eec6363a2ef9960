"""CHANGE_TRACKING gating of per-commit row manifests (r11, VERDICT r10
#2) and aborted-commit sidecar hygiene (ADVICE r10, medium).

Row-event manifests cost a target semi-join scan + dup probes + a
parquet sidecar write per keyed commit — Snowflake gates this behind
``CHANGE_TRACKING = TRUE`` and Delta behind
``delta.enableChangeDataFeed``; so do we. CREATE STREAM implies it.
Append ``files.json`` manifests are metadata-only and stay
unconditional. ``read_changes`` falls back to the two-version join for
untracked windows, so results are unchanged either way.
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.store import TableStore


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, TableStore(str(tmp_path / "store")))


def _mk(engine, n=10):
    engine.query(
        f"create table t as select id as pk, id * 10 as v from range({n})"
    )


class TestGateOff:
    def test_merge_on_untracked_table_plans_no_manifest_job(
        self, spark, engine, monkeypatch
    ):
        """VERDICT r10 #2 'done' criterion: a merge on a non-CDC table
        must not even COMPUTE events (the semi-join scan is the cost,
        not just the sidecar write)."""
        _mk(engine)
        calls = []
        store = engine.store
        orig = TableStore._keyed_merge_events

        def probe(self, *a, **k):
            calls.append(1)
            return orig(self, *a, **k)

        monkeypatch.setattr(TableStore, "_keyed_merge_events", probe)
        src = spark.createDataFrame([(3, 999), (50, 1)], "pk long, v long")
        store.merge_upsert(spark, "t", src, "pk")
        assert not calls, "untracked merge computed CDC events"
        v = store.current_version("t")
        assert not os.path.isdir(store._cdc_rows_dir("t", v))

    def test_update_delete_on_untracked_table_write_no_sidecar(
        self, spark, engine
    ):
        _mk(engine)
        engine.query("update t set v = v + 1 where pk < 3")
        v = engine.store.current_version("t")
        assert not os.path.isdir(engine.store._cdc_rows_dir("t", v))
        engine.query("delete from t where pk = 5")
        v = engine.store.current_version("t")
        assert not os.path.isdir(engine.store._cdc_rows_dir("t", v))

    @pytest.mark.parametrize("tracked", [False, True], ids=["untracked", "tracked"])
    def test_dml_builds_event_frames_only_when_tracked(
        self, spark, engine, monkeypatch, tracked
    ):
        """UPDATE (fast and general path), DELETE...USING and MERGE hand
        the store CDC events only for a tracked table; building them is
        eager analysis the untracked store would throw away."""
        _mk(engine)
        engine.query("create table s as select id as pk, id as w from range(3, 8)")
        if tracked:
            engine.query("alter table t set change_tracking = true")
        passed = []
        orig = TableStore.overwrite

        def spy(self, spark_, name, df, partition_by=None, cdc_events=None):
            passed.append(cdc_events is not None)
            return orig(self, spark_, name, df, partition_by, cdc_events)

        monkeypatch.setattr(TableStore, "overwrite", spy)
        for stmt in (
            "update t set v = v + 1 where pk < 3",
            "update t set v = s.w from s where t.pk = s.pk",
            "delete from t using s where t.pk = s.pk and s.w = 7",
            "merge into t using s on t.pk = s.pk "
            "when matched and s.w = 3 then delete "
            "when matched then update set v = s.w "
            "when not matched then insert (pk, v) values (s.pk, s.w)",
        ):
            engine.query(stmt)
        assert passed == [tracked] * 4
        got = sorted((r["pk"], r["v"]) for r in engine.store.read(spark, "t").collect())
        assert got == [
            (0, 1), (1, 11), (2, 21), (4, 4), (5, 5), (6, 6), (7, 7), (8, 80), (9, 90)
        ]

    def test_update_fast_path_falls_back_on_untracked_table(self, spark, engine):
        """An IN-subquery predicate cannot be planned by the FROM-less fast
        path; the general path still runs it."""
        _mk(engine, n=5)
        engine.query("create table s as select id as pk from range(1, 3)")
        res = engine.query("update t set v = v + 1 where pk in (select pk from s)")
        assert res.collect()[0]["rows_updated"] == 2
        got = sorted((r["pk"], r["v"]) for r in engine.store.read(spark, "t").collect())
        assert got == [(0, 0), (1, 11), (2, 21), (3, 30), (4, 40)]

    def test_untracked_changes_still_correct_via_fallback(
        self, spark, engine
    ):
        _mk(engine, n=5)
        engine.query("update t set v = 777 where pk = 2")
        rows = engine.store.read_changes(spark, "t", 0, 1, "pk").collect()
        got = sorted((r["pk"], r["v"], r["change_type"]) for r in rows)
        assert got == [
            (2, 20, "update_preimage"),
            (2, 777, "update_postimage"),
        ]

    def test_append_files_manifest_stays_unconditional(self, spark, engine):
        _mk(engine)
        engine.query("insert into t select 100, 1000")
        v = engine.store.current_version("t")
        assert os.path.isfile(engine.store._cdc_files_file("t", v))


class TestGateOn:
    def test_alter_set_change_tracking_roundtrip(self, spark, engine):
        _mk(engine)
        assert engine.store.change_tracking("t") is False
        engine.query("alter table t set change_tracking = true")
        assert engine.store.change_tracking("t") is True
        engine.query("alter table t set change_tracking = false")
        assert engine.store.change_tracking("t") is False

    def test_tracked_update_writes_rows_manifest(self, spark, engine):
        _mk(engine)
        engine.query("alter table t set change_tracking = true")
        engine.query("update t set v = v + 1 where pk = 0")
        v = engine.store.current_version("t")
        assert os.path.isdir(engine.store._cdc_rows_dir("t", v))

    def test_create_stream_auto_enables_tracking(self, spark, engine):
        _mk(engine)
        engine.store.set_primary_key("t", "t_pk", ["pk"])
        engine.query("create stream st on table t")
        assert engine.store.change_tracking("t") is True
        # ...and the next keyed commit records its delta
        engine.query("update t set v = 1 where pk = 1")
        v = engine.store.current_version("t")
        assert os.path.isdir(engine.store._cdc_rows_dir("t", v))

    def test_property_survives_rewrite_and_merge(self, spark, engine):
        _mk(engine)
        engine.query("alter table t set change_tracking = true")
        src = spark.createDataFrame([(1, 5)], "pk long, v long")
        engine.store.merge_upsert(spark, "t", src, "pk")  # _rewrite path
        assert engine.store.change_tracking("t") is True
        engine.store.overwrite(
            engine.spark, "t", engine.store.read(spark, "t")
        )
        assert engine.store.change_tracking("t") is True


class TestAbortedCommitSidecars:
    """ADVICE r10 medium: a manifest written by an ABORTED commit (crash
    between sidecar write and the _set_version pointer swap) must never
    be served as a later commit's delta at the same version."""

    def _plant_stale_rows_sidecar(self, spark, engine, version):
        ghost = spark.createDataFrame(
            [(999, 999, "delete")], "pk long, v long, change_type string"
        )
        d = engine.store._cdc_rows_dir("t", version)
        ghost.write.mode("overwrite").parquet(d)

    def test_append_clears_stale_rows_sidecar(self, spark, engine):
        _mk(engine, n=5)
        v = engine.store.current_version("t")
        self._plant_stale_rows_sidecar(spark, engine, v + 1)
        engine.query("insert into t select 100, 1000")
        rows = engine.store.read_changes(
            spark, "t", v, v + 1, "pk"
        ).collect()
        got = sorted((r["pk"], r["v"], r["change_type"]) for r in rows)
        assert got == [(100, 1000, "insert")], (
            "aborted commit's rows sidecar leaked into the append window"
        )

    def test_tracked_update_clears_stale_files_sidecar(self, spark, engine):
        _mk(engine, n=5)
        engine.query("alter table t set change_tracking = true")
        v = engine.store.current_version("t")
        import json

        ff = engine.store._cdc_files_file("t", v + 1)
        with open(ff, "w") as f:
            json.dump({"files": ["nonexistent.parquet"]}, f)
        engine.query("update t set v = 777 where pk = 2")
        rows = engine.store.read_changes(
            spark, "t", v, v + 1, "pk"
        ).collect()
        got = sorted((r["pk"], r["v"], r["change_type"]) for r in rows)
        assert got == [
            (2, 20, "update_preimage"),
            (2, 777, "update_postimage"),
        ]

    def test_untracked_commit_clears_stale_sidecar_too(self, spark, engine):
        """The dangerous case: the new commit writes NO manifest of its
        own, so a leftover sidecar at its version would silently win."""
        _mk(engine, n=5)
        v = engine.store.current_version("t")
        self._plant_stale_rows_sidecar(spark, engine, v + 1)
        engine.query("update t set v = 777 where pk = 2")  # untracked
        assert not os.path.isdir(engine.store._cdc_rows_dir("t", v + 1))
        rows = engine.store.read_changes(
            spark, "t", v, v + 1, "pk"
        ).collect()
        got = sorted((r["pk"], r["v"], r["change_type"]) for r in rows)
        assert got == [
            (2, 20, "update_preimage"),
            (2, 777, "update_postimage"),
        ]

    def test_delete_where_clears_stale_sidecar(self, spark, engine):
        _mk(engine, n=5)
        v = engine.store.current_version("t")
        self._plant_stale_rows_sidecar(spark, engine, v + 1)
        engine.store.delete_where(spark, "t", F.col("pk") == 3)
        rows = engine.store.read_changes(
            spark, "t", v, v + 1, "pk"
        ).collect()
        got = sorted((r["pk"], r["change_type"]) for r in rows)
        assert got == [(3, "delete")]
