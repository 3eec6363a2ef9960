"""Tracking-table schemas (FIXTURES.md §4; declared in the reference as
zero-row ``select null::type ... where 0=1`` templates,
models/sfdc/sfdc_load_tasks.sql:7-17 etc.).

VARIANT columns are JSON strings at this boundary (SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from ..engine.session import local_frame

SFDC_LOAD_TASKS = "sfdc_load_tasks"
SFDC_LOAD_TASK_LOGS = "sfdc_load_task_logs"
SFMC_LOAD_TASKS = "sfmc_load_tasks"
SFMC_LOAD_TASK_LOGS = "sfmc_load_task_logs"

SCHEMAS: dict[str, StructType] = {
    # models/sfdc/sfdc_load_tasks.sql:7-17 (unique_key='job_id', line 3)
    SFDC_LOAD_TASKS: StructType(
        [
            StructField("job_id", StringType()),
            StructField("load_task_name", StringType()),
            StructField("object_name", StringType()),
            StructField("operation", StringType()),
            StructField("external_id_field", StringType()),
            StructField("creation_time", TimestampType()),
            StructField("creation_metadata", StringType()),
            StructField("close_metadata", StringType()),
        ]
    ),
    # models/sfdc/sfdc_load_task_logs.sql:7-17
    SFDC_LOAD_TASK_LOGS: StructType(
        [
            StructField("job_id", StringType()),
            StructField("job_log_entry_id", StringType()),
            StructField("load_task_name", StringType()),
            StructField("object_name", StringType()),
            StructField("operation", StringType()),
            StructField("external_id_field", StringType()),
            StructField("record", StringType()),
            StructField("result", StringType()),
        ]
    ),
    # models/sfmc/sfmc_load_tasks.sql:7-15
    SFMC_LOAD_TASKS: StructType(
        [
            StructField("job_id", StringType()),
            StructField("load_task_name", StringType()),
            StructField("object_name", StringType()),
            StructField("operation", StringType()),
            StructField("creation_time", TimestampType()),
            StructField("creation_metadata", StringType()),
        ]
    ),
    # models/sfmc/sfmc_load_task_logs.sql:7-16
    SFMC_LOAD_TASK_LOGS: StructType(
        [
            StructField("job_id", StringType()),
            StructField("job_log_entry_id", StringType()),
            StructField("load_task_name", StringType()),
            StructField("object_name", StringType()),
            StructField("operation", StringType()),
            StructField("record", StringType()),
            StructField("result", StringType()),
        ]
    ),
}


# Log tables gain one job's worth of rows per push, appended in a new
# job_id directory. The append still links every earlier job's files,
# so its cost grows with the job count. Task tables stay unpartitioned:
# one row per job, appended once.
PARTITION_BY: dict[str, str] = {
    SFDC_LOAD_TASK_LOGS: "job_id",
    SFMC_LOAD_TASK_LOGS: "job_id",
}


def resolve(engine, name: str) -> str:
    """Apply the reference's tracking-table namespace override
    (README.md:106-116: ``+database:``/``+schema:`` per sfdc/sfmc model
    group relocates the task tables). Engine vars carry the analogue:

        vars={"tracking_table_namespace": {
            "sfdc": {"database": "other_db", "schema": "other_schema"},
            "sfmc": {"schema": "other_schema"},
        }}

    (or a plain string applying to both groups). The returned STORE
    name is dot-qualified — ``other_db.other_schema.sfdc_load_tasks``
    — which TableStore maps to its own directory, so relocated tables
    never collide with the default flat names. Default: unchanged flat
    name, bit-compatible with every existing store."""
    ns = engine.vars.get("tracking_table_namespace")
    if not ns:
        return name
    if isinstance(ns, str):
        prefix = ns
    else:
        group = "sfdc" if name.startswith("sfdc") else "sfmc"
        over = ns.get(group) or {}
        if isinstance(over, str):
            prefix = over
        else:
            prefix = ".".join(
                p for p in (over.get("database"), over.get("schema")) if p
            )
    return f"{prefix}.{name}" if prefix else name


def ensure_tracking_table(engine, name: str) -> str:
    """Create the table from its declared empty schema if missing
    (the reference forces these via '-- depends_on' edges; our push
    materializations ensure them directly). ``name`` is the LOGICAL
    name (a SCHEMAS key); the store name returned reflects any
    namespace override and is what callers must read/merge against."""
    store_name = resolve(engine, name)
    if not engine.store.exists(store_name):
        spark: SparkSession = engine.spark
        engine.store.create(
            spark,
            store_name,
            local_frame(spark, [], SCHEMAS[name]),
            partition_by=PARTITION_BY.get(name),
        )
    return store_name
