"""Driver-side frames (engine/session.py:local_frame).

The engine builds small frames on the driver from Python rows: DML
summaries, SHOW/DESCRIBE results, push tracking rows. ``local_frame``
builds them as Arrow ``LocalRelation``s, so reading one launches no
Spark job. Checks that it matches ``createDataFrame(list, schema)`` row
for row and field for field, that a DML statement's summary collects
with no job, that one perfbench-shaped INSERT..SELECT/UPDATE/MERGE/DELETE
cycle stays inside its job budget, and that no other driver-side frame
in the engine or the materializations bypasses the helper."""

from __future__ import annotations

import ast
import datetime
import os
import pathlib

import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import dbt_omnata_push_spark
from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.session import local_cores, local_frame
from dbt_omnata_push_spark.engine.store import TableStore

from .conftest import job_budget

ALL_TYPES = "k long, n int, s string, b boolean, x double"


def _same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    with job_budget(spark, 0):
        got_rows = got.collect()
    assert got_rows == want.collect()


@pytest.mark.parametrize(
    "rows",
    [
        [(1, 2, "a", True, 1.5)],
        [(1, 2, "a", True, 1.5), (None, None, None, None, None)],
        [(-(2**62), -(2**31), "", False, -0.25), (2**62, 2**31 - 1, "é", True, 1e300)],
        [],
    ],
    ids=["one_row", "nulls", "extremes", "empty"],
)
def test_matches_list_path_for_every_type(spark, rows):
    _same(spark, rows, ALL_TYPES)


def test_keeps_nullability_of_a_struct_schema(spark):
    schema = StructType(
        [
            StructField("k", LongType(), nullable=False),
            StructField("s", StringType(), nullable=True),
            StructField("t", TimestampType(), nullable=True),
        ]
    )
    _same(spark, [(1, None, None), (2, "b", None)], schema)
    _same(spark, [], schema)


def test_aware_datetime_matches_list_path(spark):
    ts = datetime.datetime(2001, 2, 3, 4, 5, 6, 7, tzinfo=datetime.timezone.utc)
    _same(spark, [(1, ts), (2, None)], "k long, t timestamp")


def test_naive_datetime_raises(spark):
    with pytest.raises(TypeError, match="naive datetime"):
        local_frame(spark, [(1, datetime.datetime(2001, 2, 3))], "k long, t timestamp")


def test_row_width_must_match_schema(spark):
    with pytest.raises(ValueError, match="has 1 values"):
        local_frame(spark, [(1,)], "k long, s string")


def test_local_cores_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == 3


def _orders(spark, keys, status, price0):
    return spark.createDataFrame(
        [
            (
                k,
                k % 150 + 1,
                status,
                price0 + k % 997,
                datetime.date(1992, 1, 1) + datetime.timedelta(days=k % 2400),
                f"{k % 5 + 1}-PRIO",
            )
            for k in keys
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice long, o_orderdate date, o_orderpriority string",
    )


STAGE_KEY0, NEW_KEY0 = 10_000_000, 20_000_000
# perfbench's sql_dml op (perfbench/workloads.py:CYCLE): it returns
# orders_w to its base row count, so cycles repeat the same work.
CYCLE = [
    "insert into orders_w select * from orders_stage",
    "update orders_w set o_totalprice = o_totalprice + 100 "
    f"where o_orderkey >= {STAGE_KEY0} or mod(o_orderkey, 53) = 0",
    "merge into orders_w t using orders_delta s on t.o_orderkey = s.o_orderkey "
    "when matched then update set o_totalprice = s.o_totalprice, "
    "o_orderstatus = s.o_orderstatus "
    "when not matched then insert (o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice, o_orderdate, o_orderpriority) values (s.o_orderkey, "
    "s.o_custkey, s.o_orderstatus, s.o_totalprice, s.o_orderdate, "
    "s.o_orderpriority)",
    f"delete from orders_w where o_orderkey >= {STAGE_KEY0}",
]
SUMMARIES = [
    {"rows_inserted": 30},
    {"rows_updated": 58},
    {"rows_updated": 15, "rows_inserted": 15},
    {"rows_deleted": 45},
]
# Spark jobs of each statement, its summary collected, async shuffle
# and broadcast stages included. INSERT is its write; UPDATE a shuffle
# stage and its rewrite; MERGE the two shuffle stages of target FULL
# OUTER JOIN source, the shuffle of its one-row-per-target window, and
# the rewrite; DELETE its scan shuffled into one deletion-vector file,
# and that write. No statement checkpoints. Reading the four summaries
# launches no job, and neither does reading a deletion vector back: its
# schema is given, not inferred.
STATEMENT_JOBS = (1, 2, 4, 2)
CYCLE_JOBS = sum(STATEMENT_JOBS)


@pytest.fixture(scope="module")
def dml_engine(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("local_frame")
    engine = Engine(spark, TableStore(str(root / "store")))
    engine.seed("orders_w", _orders(spark, range(1, 1501), "O", 10_000))
    engine.seed(
        "orders_stage",
        _orders(spark, range(STAGE_KEY0, STAGE_KEY0 + 30), "P", 20_000),
    )
    engine.seed(
        "orders_delta",
        _orders(
            spark,
            [*range(STAGE_KEY0, STAGE_KEY0 + 15), *range(NEW_KEY0, NEW_KEY0 + 15)],
            "F",
            30_000,
        ),
    )
    return engine


def _counts(row):
    return {k: v for k, v in row.asDict().items() if v}


def test_dml_summary_collects_without_a_job(spark, dml_engine):
    for stmt, want in zip(CYCLE, SUMMARIES):
        summary = dml_engine.query(stmt)
        with job_budget(spark, 0):
            rows = summary.collect()
        assert [_counts(r) for r in rows] == [want]


def test_sql_dml_cycle_job_budget(spark, dml_engine):
    # a first cycle warms the statements' caches, as perfbench's warm-up
    # ops do, then the budget holds for every later cycle
    for stmt in CYCLE:
        dml_engine.query(stmt).collect()
    for _ in range(2):
        with job_budget(spark, CYCLE_JOBS):
            got = [_counts(dml_engine.query(stmt).collect()[0]) for stmt in CYCLE]
        assert got == SUMMARIES
    assert dml_engine.store.read(spark, "orders_w").count() == 1500


def test_sql_dml_statement_job_budgets(spark, dml_engine):
    for stmt in CYCLE:
        dml_engine.query(stmt).collect()
    for stmt, budget, want in zip(CYCLE, STATEMENT_JOBS, SUMMARIES):
        with job_budget(spark, budget):
            got = _counts(dml_engine.query(stmt).collect()[0])
        assert got == want


def _create_data_frame_calls(node) -> int:
    return sum(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "createDataFrame"
        for n in ast.walk(node)
    )


def test_only_the_helper_calls_create_data_frame():
    root = pathlib.Path(dbt_omnata_push_spark.__file__).parent
    outside = {}
    for path in sorted([*root.glob("engine/**/*.py"), *root.glob("materializations/**/*.py")]):
        tree = ast.parse(path.read_text(), str(path))
        in_helper = sum(
            _create_data_frame_calls(fn)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
        )
        n = _create_data_frame_calls(tree) - in_helper
        if n:
            outside[str(path.relative_to(root))] = n
    assert outside == {}
