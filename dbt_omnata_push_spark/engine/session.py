"""SparkSession factory with scale-oriented defaults.

The reference (dbt-omnata-push) delegates all execution to Snowflake; our
engine delegates to Spark/Catalyst. Every knob here exists so the same code
runs unchanged from a laptop's local[N] to a 1000-executor cluster:

- AQE on (runtime join re-planning, partition coalescing, skew-join
  handling) so plan shapes survive 100x data-scale changes.
- Arrow on for every pandas-UDF boundary (the connector push path).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-independent.
- ``spark.sql.legacy.parquet.nanosAsLong`` because the events testdata uses
  nanosecond parquet timestamps, which Spark otherwise refuses to read
  (see catalog.load_table for the ns->us conversion).

Frames the engine builds on the driver from Python rows (DML summaries,
SHOW/DESCRIBE results, push tracking rows) go through ``local_frame``:
an Arrow table becomes a JVM ``LocalRelation``, so an action on the
frame launches no Spark job, where ``createDataFrame`` on a list
parallelizes an RDD and unpickles its rows in Python workers on every
action.
"""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Push stages have remote side effects; speculative duplicates of a
    # task would double-call the SaaS API (SURVEY.md §4 item 2).
    "spark.speculation": "false",
    # 128MB parquet split targets keep partition counts sane at 100TB.
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def local_cores() -> int:
    """Cores for a ``local[N]`` master: ``SPARK_GRAFT_CPUS`` when set,
    else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "dbt-omnata-push-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Return (or create) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{local_cores()}]")
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = local_cores()
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Session-level confs apply even when we join an existing session.
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.adaptive.enabled",
    ):
        spark.conf.set(k, conf[k])
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in field order) whose plan
    is a ``LocalRelation``: same rows and schema, nullability included,
    as ``spark.createDataFrame(rows, schema)``, but no Spark job to read.

    ``schema`` is a DDL string or a ``StructType``. A naive ``datetime``
    raises ``TypeError``: Arrow reads it as UTC where the list path reads
    it in the driver's local time zone, so pass an aware one."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    width = len(schema.fields)
    for row in rows:
        if len(row) != width:
            raise ValueError(f"row {row!r} has {len(row)} values, schema has {width}")
        for v in row:
            if isinstance(v, datetime) and v.tzinfo is None:
                raise TypeError(f"naive datetime {v!r}: give it a tzinfo")
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
