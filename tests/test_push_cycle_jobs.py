"""One reverse-ETL push cycle: an incremental daily model, then a
Salesforce bulk load of the account-days not yet in the log table.

Pins the Spark job counts of the first incremental cycle, a steady
cycle and an empty one, checks that a cycle with nothing new
never reaches the connector or the tasks table, and checks that a
connector resolved through the registry (a fresh instance per load)
keeps every cycle's log rows under distinct job ids."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dbt_omnata_push_spark.connectors import MockSalesforceConnector
from dbt_omnata_push_spark.connectors.base import register_connector
from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.model import Model
from dbt_omnata_push_spark.engine.store import TableStore
from dbt_omnata_push_spark.materializations import tracking
from dbt_omnata_push_spark.materializations.core import high_watermark_incremental

from .conftest import job_budget

N = 20  # accounts; each cycle brings one new day, so N new records
DAY0 = datetime.date(2001, 1, 1)
NAMESPACE = "push_cycle_jobs"
# Spark jobs, shuffle and broadcast stages included, of one non-empty
# steady-state cycle: the daily model's batch shuffle and its append
# (the append is the batch's only action, and the store keeps the
# watermark, so there is no scan); the push model's two shuffles, its
# records checkpoint (row index, plus the count behind the empty-load
# short-circuit), and one write job that both pushes the records and
# appends their log rows; and one append of the task row after
# close_job, close metadata included. The task row is a LocalRelation
# (engine.session.local_frame): reading it launches no job of its own.
CYCLE_JOBS = 6
# The first incremental cycle after the CTAS also pays the two jobs of
# the one scan that records the daily table's watermark.
FIRST_CYCLE_JOBS = CYCLE_JOBS + 2
# One empty cycle: the daily batch's shuffle (its append finds no rows
# and commits nothing), the push model's two shuffles and its records
# checkpoint, which finds no rows.
EMPTY_CYCLE_JOBS = 4


class _LoggedSalesforce(MockSalesforceConnector):
    """Built with no arguments by get_connector, like any registered
    connector; tallies executor-side calls to ``call_log``."""

    call_log: str | None = None

    def __init__(self):
        super().__init__(call_log=_LoggedSalesforce.call_log)


def _daily(ctx):
    tx = ctx.ref("transactions")
    agg = tx.groupBy(
        "ACCOUNT_ID", F.col("TX_TIME").cast("date").alias("TX_DATE")
    ).agg(F.sum("AMOUNT").alias("GTV_DAILY"))
    return high_watermark_incremental(ctx, agg, "TX_DATE")


def _daily_load(ctx):
    key = F.concat_ws("_", F.col("ACCOUNT_ID"), F.col("TX_DATE").cast("string"))
    rec = ctx.ref("daily").select(
        F.struct(
            key.alias("Duplicate_Key__c"), F.col("GTV_DAILY").alias("Total__c")
        ).alias("record")
    )
    loaded = (
        ctx.ref(tracking.SFDC_LOAD_TASK_LOGS)
        .filter(F.get_json_object("result", "$.success") == "true")
        .select(F.get_json_object("record", "$.Duplicate_Key__c").alias("_k"))
    )
    return rec.join(loaded, rec["record.Duplicate_Key__c"] == loaded["_k"], "left_anti")


class _Cycles:
    def __init__(self, spark, root):
        _LoggedSalesforce.call_log = str(root / "calls.log")
        register_connector("salesforce", _LoggedSalesforce, NAMESPACE)
        self.spark = spark
        self.engine = Engine(
            spark,
            TableStore(str(root / "store")),
            vars={"omnata_functions_namespace": NAMESPACE},
        )
        self.engine.seed("transactions", self._day(0))
        self.engine.register(
            Model(
                "daily",
                builder=_daily,
                config={"materialized": "incremental"},
                depends_on=["transactions"],
            )
        )
        self.engine.register(
            Model(
                "daily_load",
                builder=_daily_load,
                config={
                    "materialized": "omnata_push",
                    "app": "salesforce",
                    "operation": "bulk_load",
                    "object_name": "Transaction__c",
                    "external_id_field": "Duplicate_Key__c",
                },
                depends_on=["daily", tracking.SFDC_LOAD_TASK_LOGS],
            )
        )
        for t in (tracking.SFDC_LOAD_TASKS, tracking.SFDC_LOAD_TASK_LOGS):
            tracking.ensure_tracking_table(self.engine, t)
        self.days = 1
        first = self.engine.run()
        assert first["daily_load"].rows_affected == N

    def _day(self, d: int):
        ts = datetime.datetime.combine(DAY0 + datetime.timedelta(days=d), datetime.time(9))
        return self.spark.createDataFrame(
            [(f"acct-{i:03d}", ts, float(i + d)) for i in range(N)],
            "ACCOUNT_ID string, TX_TIME timestamp, AMOUNT double",
        )

    def arrive(self) -> None:
        self.engine.store.append(self.spark, "transactions", self._day(self.days))
        self.days += 1

    def table(self, name: str):
        return self.engine.store.read(self.spark, name)

    def records_sent(self) -> int:
        with open(_LoggedSalesforce.call_log) as f:
            return sum(int(line.split(",")[1]) for line in f if line.startswith("load_batch,"))


@pytest.fixture(scope="module")
def cycles(spark, tmp_path_factory):
    """The CTAS cycle, then the first incremental cycle, which records
    the daily table's watermark; every later cycle reads it."""
    c = _Cycles(spark, tmp_path_factory.mktemp("push_cycles"))
    c.arrive()
    with job_budget(spark, FIRST_CYCLE_JOBS):
        c.first = c.engine.run()
    return c


def _cycle_results(res):
    assert res["daily"].rows_affected == N  # rows written, not table size
    assert res["daily_load"].status == "success"
    assert res["daily_load"].rows_affected == N


def test_first_incremental_cycle(cycles):
    """The fixture runs this cycle under FIRST_CYCLE_JOBS."""
    _cycle_results(cycles.first)


def test_nonempty_cycle_job_budget_and_log_keys(spark, cycles):
    cycles.arrive()
    with job_budget(spark, CYCLE_JOBS):
        res = cycles.engine.run()
    _cycle_results(res)
    # Every cycle's log rows survive, keyed under the cycle's own job.
    logs = cycles.table(tracking.SFDC_LOAD_TASK_LOGS)
    assert logs.count() == N * cycles.days
    assert logs.select("job_id").distinct().count() == cycles.days
    assert logs.select("job_log_entry_id").distinct().count() == N * cycles.days
    tasks = cycles.table(tracking.SFDC_LOAD_TASKS)
    assert tasks.count() == cycles.days
    assert tasks.filter(F.col("close_metadata").isNull()).count() == 0
    assert cycles.records_sent() == N * cycles.days


def test_empty_cycle_pushes_nothing(spark, cycles):
    tasks_before = cycles.table(tracking.SFDC_LOAD_TASKS).count()
    sent_before = cycles.records_sent()
    with job_budget(spark, EMPTY_CYCLE_JOBS):
        res = cycles.engine.run()
    assert res["daily"].rows_affected == 0
    assert "no commit" in res["daily"].message
    assert res["daily_load"].status == "skipped"
    assert cycles.records_sent() == sent_before
    assert cycles.table(tracking.SFDC_LOAD_TASKS).count() == tasks_before
