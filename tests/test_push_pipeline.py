"""Reference-parity integration suite (SURVEY.md §5, FIXTURES.md §6).

Reproduces the reference's end-to-end workflow — seed, run, assert
tracking-table counts, run again and assert idempotency — against the
mock connectors (canned responses == integration_tests/dbt_project.yml
mocks)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dbt_omnata_push_spark.connectors import (
    MockMarketingCloudConnector,
    MockSalesforceConnector,
)
from dbt_omnata_push_spark.materializations import tracking

from .fixtures import N_ACCOUNTS, N_CONTACTS, N_DAYS, build_engine


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store"))
    sf = MockSalesforceConnector(call_log=f"{root}/sf_calls.log")
    mc = MockMarketingCloudConnector(call_log=f"{root}/mc_calls.log")
    engine = build_engine(spark, root, sf, mc)
    first = engine.run()
    second = engine.run()
    return engine, first, second, sf, mc


def _tally(path):
    counts: dict[str, int] = {}
    try:
        with open(path) as f:
            for line in f:
                kind, n = line.strip().split(",")
                counts[kind] = counts.get(kind, 0) + int(n)
    except FileNotFoundError:
        pass
    return counts


def _table(engine, name):
    return engine.store.read(engine.spark, name)


def test_first_run_statuses(engines):
    engine, first, _, _, _ = engines
    for name in (
        "accounts_load",
        "accounts_load_legacy",
        "transactions_daily",
        "transactions_daily_load",
        "contacts_load",
    ):
        assert first[name].status == "success", first[name]


def test_sfdc_task_rows(engines):
    """One task row per SFDC push model (reference asserts 2 with a known
    ambiguity; FIXTURES.md §6 pins per-model: 3 jobs here)."""
    engine, *_ = engines
    tasks = _table(engine, tracking.SFDC_LOAD_TASKS)
    assert tasks.count() == 3
    names = {r["load_task_name"] for r in tasks.collect()}
    assert names == {"accounts_load", "accounts_load_legacy", "transactions_daily_load"}


def test_sfdc_log_rows_9700(engines):
    """100 + 100 + 9500 = 9700 log rows — the reference's headline
    assertion (tests/sfdc_load_task_logs_after_run.sql:5)."""
    engine, *_ = engines
    logs = _table(engine, tracking.SFDC_LOAD_TASK_LOGS)
    assert logs.count() == N_ACCOUNTS * 2 + N_ACCOUNTS * N_DAYS  # 9700
    per_model = {
        r["load_task_name"]: r["n"]
        for r in logs.groupBy("load_task_name").agg(F.count("*").alias("n")).collect()
    }
    assert per_model == {
        "accounts_load": N_ACCOUNTS,
        "accounts_load_legacy": N_ACCOUNTS,
        "transactions_daily_load": N_ACCOUNTS * N_DAYS,
    }


def test_every_log_row_succeeded(engines):
    """result.success = true for every record (mock, dbt_project.yml:46-51)."""
    engine, *_ = engines
    logs = _table(engine, tracking.SFDC_LOAD_TASK_LOGS)
    assert (
        logs.filter(F.get_json_object("result", "$.success") != "true").count() == 0
    )


def test_task_rows_have_close_metadata(engines):
    """UPDATE...FROM applied close descriptors (salesforce_bulk_load.sql:51-56)."""
    engine, *_ = engines
    tasks = _table(engine, tracking.SFDC_LOAD_TASKS).collect()
    for row in tasks:
        close = json.loads(row["close_metadata"])
        assert close["state"] == "Closed"
        creation = json.loads(row["creation_metadata"])
        assert creation["id"] == row["job_id"]
        assert row["creation_time"] is not None


def test_sfmc_tables(engines):
    engine, *_ = engines
    tasks = _table(engine, tracking.SFMC_LOAD_TASKS)
    logs = _table(engine, tracking.SFMC_LOAD_TASK_LOGS)
    assert tasks.count() == 1
    assert logs.count() == N_CONTACTS
    assert (
        logs.filter(F.get_json_object("result", "$.success") != "true").count() == 0
    )


def test_second_run_idempotent(engines):
    """Run-twice: incremental NOT-IN filters + empty-probe short-circuit
    push 0 new records (macros/apps/salesforce.sql:5-18 +
    accounts_load.sql:19-30)."""
    engine, _, second, _, _ = engines
    for name in ("accounts_load", "accounts_load_legacy", "transactions_daily_load"):
        assert second[name].status == "skipped", second[name]
    assert second["contacts_load"].status == "skipped"
    assert _table(engine, tracking.SFDC_LOAD_TASKS).count() == 3
    assert _table(engine, tracking.SFDC_LOAD_TASK_LOGS).count() == 9700
    assert _table(engine, tracking.SFMC_LOAD_TASK_LOGS).count() == N_CONTACTS


def test_no_extra_jobs_created(engines):
    """Empty loads never call create_job (driver-side mock counters)."""
    _, _, _, sf, mc = engines
    assert len(sf.created_jobs) == 3
    assert len(sf.closed_jobs) == 3
    # ensure_data_extension runs every time (idempotent remote op), but
    # only ONE import was started.
    assert len(mc.imports) == 1


def test_transactions_daily_contents(engines):
    engine, *_ = engines
    daily = _table(engine, "transactions_daily")
    assert daily.count() == N_ACCOUNTS * N_DAYS
    assert daily.filter(F.col("GTV_DAILY").isNull()).count() == 0


def test_singular_tests_pass(engines):
    """dbt-test equivalents of the reference's post-run assertions."""
    engine, *_ = engines
    tasks = _table(engine, tracking.SFDC_LOAD_TASKS)
    engine.test(tasks.groupBy().count().filter(F.col("count") != 3))
    logs = _table(engine, tracking.SFDC_LOAD_TASK_LOGS)
    engine.test(logs.groupBy().count().filter(F.col("count") != 9700))


def test_remote_calls_exactly_once(engines):
    """Each record reaches the remote API exactly once across both runs.

    The log append is the push's only action: a second action over the
    mapInPandas push stage would call load_batch on every record again
    (2x remote writes and API traffic)."""
    engine, *_ = engines
    sf = _tally(f"{engine.store.root}/sf_calls.log")
    mc = _tally(f"{engine.store.root}/mc_calls.log")
    assert sf.get("load_batch", 0) == N_ACCOUNTS * 2 + N_ACCOUNTS * N_DAYS  # 9700
    assert mc.get("stage_batch", 0) == N_CONTACTS
    assert mc.get("fetch_results", 0) == N_CONTACTS


def test_sfmc_full_refresh_empty_model_noop(spark, tmp_path):
    """full-refresh-marketing-cloud=true + empty model: zero batches stage,
    so the run must no-op (skipped), not crash on stage_ids[0]."""
    from dbt_omnata_push_spark.engine.dag import Engine
    from dbt_omnata_push_spark.engine.model import Model
    from dbt_omnata_push_spark.engine.store import TableStore

    mc = MockMarketingCloudConnector()
    engine = Engine(
        spark,
        TableStore(str(tmp_path)),
        vars={"full-refresh-marketing-cloud": True},
    )
    engine.register(
        Model(
            "empty_contacts_load",
            builder=lambda ctx: spark.createDataFrame([], "record string"),
            config={
                "materialized": "omnata_push",
                "app": "marketing_cloud",
                "operation": "data_extension_upload",
                "data_extension_name": "Contacts",
                "connector": mc,
            },
        )
    )
    results = engine.run()
    assert results["empty_contacts_load"].status == "skipped"
    assert len(mc.imports) == 0


# ---------------------------------------------------------------------------
# Tracking-table commits of a single load: one append per table on
# success; on a failed push or close, a task row with NULL close metadata.
# ---------------------------------------------------------------------------


class _FailingLoad(MockSalesforceConnector):
    def load_batch(self, job_id, records):
        raise RuntimeError("load_batch failed")


class _FailingClose(MockSalesforceConnector):
    def close_job(self, job_id):
        raise RuntimeError("close_job failed")


N_RECORDS = 5
SFDC_TABLES = (tracking.SFDC_LOAD_TASKS, tracking.SFDC_LOAD_TASK_LOGS)
SFMC_TABLES = (tracking.SFMC_LOAD_TASKS, tracking.SFMC_LOAD_TASK_LOGS)


def _one_load(spark, root, app, connector, tables):
    """An engine with one push model of N_RECORDS records and its two
    tracking tables already created."""
    from dbt_omnata_push_spark.engine.dag import Engine
    from dbt_omnata_push_spark.engine.model import Model
    from dbt_omnata_push_spark.engine.store import TableStore

    engine = Engine(spark, TableStore(str(root)))
    if app == "salesforce":
        config = {
            "operation": "bulk_load",
            "object_name": "Account",
            "external_id_field": "AccountID__c",
        }
    else:
        config = {
            "operation": "data_extension_upload",
            "data_extension_name": "Contacts",
        }
    engine.register(
        Model(
            "one_load",
            builder=lambda ctx: spark.createDataFrame(
                [(json.dumps({"AccountID__c": f"a{i}"}),) for i in range(N_RECORDS)],
                "record string",
            ),
            config={
                "materialized": "omnata_push",
                "app": app,
                "connector": connector,
                **config,
            },
        )
    )
    for t in tables:
        tracking.ensure_tracking_table(engine, t)
    return engine


def _ops(engine, name):
    return [r["op"] for r in engine.store.history(engine.spark, name).collect()]


@pytest.mark.parametrize(
    "app, connector, tables",
    [
        ("salesforce", MockSalesforceConnector, SFDC_TABLES),
        ("marketing_cloud", MockMarketingCloudConnector, SFMC_TABLES),
    ],
    ids=["sfdc", "sfmc"],
)
def test_load_commits_each_tracking_table_once_by_append(
    spark, tmp_path, app, connector, tables
):
    engine = _one_load(spark, tmp_path, app, connector(), tables)
    before = {t: _ops(engine, t) for t in tables}
    assert engine.run()["one_load"].status == "success"
    for t in tables:
        assert _ops(engine, t) == ["append", *before[t]], t
    tasks, logs = (_table(engine, t) for t in tables)
    assert tasks.count() == 1
    assert logs.count() == N_RECORDS
    if app == "salesforce":
        row = tasks.collect()[0]
        assert json.loads(row["close_metadata"])["state"] == "Closed"
        assert json.loads(row["creation_metadata"])["id"] == row["job_id"]
        assert row["creation_time"] is not None


@pytest.mark.parametrize(
    "connector, logged",
    [(_FailingLoad, 0), (_FailingClose, N_RECORDS)],
    ids=["load_batch_raises", "close_job_raises"],
)
def test_failed_sfdc_load_leaves_its_task_row_open(
    spark, tmp_path, connector, logged
):
    """The same end state as a task row committed before the push and
    closed after it: the failed job's row exists with NULL close
    metadata, and the log holds whatever was appended before the error."""
    conn = connector()
    engine = _one_load(spark, tmp_path, "salesforce", conn, SFDC_TABLES)
    res = engine.run()["one_load"]
    assert res.status == "error", res
    [created] = conn.created_jobs
    tasks = _table(engine, tracking.SFDC_LOAD_TASKS).collect()
    assert [(r["job_id"], r["close_metadata"]) for r in tasks] == [
        (created["id"], None)
    ]
    assert json.loads(tasks[0]["creation_metadata"]) == created
    logs = _table(engine, tracking.SFDC_LOAD_TASK_LOGS)
    assert logs.count() == logged
    assert logs.filter(F.col("job_id") != created["id"]).count() == 0
