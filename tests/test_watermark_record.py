"""The store's high-watermark record: ``high_watermark_incremental``
filters an incremental batch at max(col) of the model's table, and the
store keeps that max for one exact version. After any commit, the
filter must sit exactly at the max that a scan of the table returns,
for date and timestamp columns alike; only an append may carry a
record forward, and a 0-row append commits nothing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.model import Context, Model
from dbt_omnata_push_spark.engine.store import TableStore
from dbt_omnata_push_spark.materializations.core import high_watermark_incremental

from .conftest import job_budget

ROWS = """
    (1, date'2024-01-01', timestamp'2024-01-01 10:00:00.000001'),
    (2, date'2024-03-01', timestamp'2024-03-01 23:59:59.999999'),
    (3, date'2024-02-01', timestamp'2024-02-01 00:00:00')
"""
# A value one step below, at and above the max, built in Spark: the
# strict filter must keep exactly the step above.
STEPS = {
    "d": lambda c, k: F.date_add(c, k),
    "ts": lambda c, k: F.timestamp_micros(F.unix_micros(c) + k),
}


def _frame(spark, rows: str):
    return spark.sql(f"select * from values {rows} as v(id, d, ts)")


def _filter_at(engine, name: str, col: str):
    model = Model(name, builder=lambda ctx: None, config={"materialized": "incremental"})
    ctx = Context(engine, model)
    truth = engine.store.read(engine.spark, name).agg(F.max(col).alias(col))
    step = STEPS[col]
    probe = truth.select(
        F.explode(
            F.array(step(F.col(col), -1), F.col(col), step(F.col(col), 1))
        ).alias(col)
    )
    kept = high_watermark_incremental(ctx, probe, col)
    return truth, kept


def assert_filters_at_max(engine, name: str) -> None:
    for col in STEPS:
        truth, kept = _filter_at(engine, name, col)
        [mx] = truth.first()
        if mx is None:  # an empty table filters nothing
            assert kept.count() == 3, col
            continue
        above = truth.select(STEPS[col](F.col(col), 1).alias(col))
        assert kept.collect() == above.collect(), col


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark, TableStore(str(tmp_path / "store")))
    eng.store.create(spark, "t", _frame(spark, ROWS))
    assert_filters_at_max(eng, "t")  # records the watermark for v=0
    return eng


def _append(engine, rows: str) -> int:
    return engine.store.append(engine.spark, "t", _frame(engine.spark, rows))


def test_append_folds_max_into_record(spark, engine):
    _append(engine, "(4, date'2024-06-30', timestamp'2024-06-30 12:00:00.5')")
    with job_budget(spark, 0):  # read from the record, not scanned
        for col in STEPS:
            assert engine.store.high_watermark(spark, "t", col) is not None
    assert_filters_at_max(engine, "t")
    # a lower batch leaves the max where it was
    _append(engine, "(5, date'2020-01-01', timestamp'2020-01-01 00:00:00')")
    assert_filters_at_max(engine, "t")


def test_fresh_store_on_same_root_reads_record(spark, engine):
    _append(engine, "(4, date'2024-06-30', timestamp'2024-06-30 12:00:00.5')")
    fresh = Engine(spark, TableStore(engine.store.root))
    with job_budget(spark, 0):
        assert fresh.store.high_watermark(spark, "t", "ts") is not None
    assert_filters_at_max(fresh, "t")


@pytest.mark.parametrize(
    "sql",
    [
        "delete from t where id = 2",
        "update t set d = cast('2023-01-01' as date), "
        "ts = cast('2023-01-01 00:00:00' as timestamp) where id = 2",
        "merge into t using (select 2 as id) s on t.id = s.id "
        "when matched then update set d = cast('2022-05-05' as date), "
        "ts = cast('2022-05-05 05:05:05.050505' as timestamp)",
        "truncate table t",
    ],
    ids=["delete_max_row", "update_lowers_max", "merge", "truncate"],
)
def test_rewrite_drops_record(engine, sql):
    engine.query(sql)
    assert_filters_at_max(engine, "t")


def test_restore(engine):
    _append(engine, "(4, date'2024-06-30', timestamp'2024-06-30 12:00:00.5')")
    assert_filters_at_max(engine, "t")
    engine.query("restore table t to version 0")
    assert_filters_at_max(engine, "t")


def test_clone_at_version_commits_v0(spark, engine):
    # c's v=0 holds a record for rows above every one of t's...
    late = "(9, date'2030-01-01', timestamp'2030-01-01 00:00:00')"
    engine.store.create(spark, "c", _frame(spark, late))
    assert_filters_at_max(engine, "c")
    _append(engine, "(4, date'2024-06-30', timestamp'2024-06-30 12:00:00.5')")
    # ...and the clone replaces it with t's v=0, again as v=0.
    engine.query("create or replace table c clone t at(version => 0)")
    assert engine.store.current_version("c") == 0
    assert_filters_at_max(engine, "c")
    assert_filters_at_max(engine, "t")


def test_record_is_kept_per_session_time_zone(spark, engine):
    conf = "spark.sql.session.timeZone"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "Asia/Kolkata")
    try:
        assert_filters_at_max(engine, "t")
        _append(engine, "(4, date'2024-06-30', timestamp'2024-06-30 12:00:00.5')")
        assert_filters_at_max(engine, "t")
    finally:
        spark.conf.set(conf, saved)
    assert_filters_at_max(engine, "t")


def test_zero_row_append_commits_nothing(spark, engine):
    store = engine.store
    store.set_change_tracking("t", True)
    engine.query("delete from t where id = 3")  # leaves a deletion vector
    v = store.current_version("t")
    assert os.path.isdir(os.path.join(store._dir("t"), f"dv_v={v}"))
    assert _append(engine, "(1, date'2025-01-01', timestamp'2025-01-01 00:00:00')") == 1
    v += 1
    assert store.append(spark, "t", _frame(spark, ROWS).limit(0)) == 0
    assert store.current_version("t") == v
    # no v=N+1, dv_v=N+1, cdc_v=N+1 or cdc_v=N+1.files.json
    nxt = f"v={v + 1}"
    staged = [e for e in os.listdir(store._dir("t")) if e.endswith(nxt) or nxt + "." in e]
    assert staged == []
    assert_filters_at_max(engine, "t")
