"""Push materializations: omnata_push dispatch + SFDC/SFMC pipelines.

Spark-first redesign of the reference's push dataflow (SURVEY.md §2.1
D1, D4-D8):
- once-per-run remote ops on the driver; per-batch ops on executors in
  Arrow-batched mapInPandas stages;
- a Salesforce load evaluates its records exactly once: one
  localCheckpoint carries a partition-local row index and, through an
  Observation on the same job, the count behind the empty-load
  short-circuit. The push itself runs inside the log append's write
  job, its only action, so each record reaches the API once;
- every tracking-table commit is an append, so no push rewrites a
  tracking table. A Salesforce load appends one log row per record
  after the push and its task row once, after close_job, carrying both
  the creation and the close descriptors: the reference's create, task
  INSERT, load and closing UPDATE...FROM are one transaction, so no
  reader ever sees a task row before its close. If the push, the log
  append or close_job raises, the task row is appended with NULL
  close metadata and the error re-raised;
- the Marketing Cloud upload keeps dense 1-based numbering via
  ops.rownum.with_global_index (its batch numbers need it) and appends
  its task row and log rows, as the reference's INSERT ALL writes them
  (Snowflake's multi-table INSERT ALL has no Spark equivalent);
- deterministic log-entry ids sha2(job_id:row_idx) instead of
  UUID_STRING() (SURVEY.md §7 hard-part 1).
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..connectors.base import get_connector
from ..engine.dag import RunResult
from ..engine.session import local_frame
from ..ops.batching import DEFAULT_BATCH_SIZE
from ..ops.gpg import encrypt_batch, gpg_session_params, json_records_to_csv
from ..ops.observe import materialized
from ..ops.retry import RetryPolicy
from ..ops.rownum import with_global_index
from . import tracking

_PUSH_SCHEMA = StructType(
    [
        StructField("row_idx", LongType()),
        StructField("record", StringType()),
        StructField("result", StringType()),
    ]
)


def _records_json(df: DataFrame) -> DataFrame:
    """Enforce the single-RECORD-column contract (README.md:73) and
    serialize struct records to JSON strings for the connector boundary."""
    cols = [c for c in df.columns]
    if len(cols) != 1 or cols[0].lower() != "record":
        raise ValueError(
            f"push models must emit exactly one column named 'record', got {cols}"
        )
    col = F.col(cols[0])
    dtype = df.schema.fields[0].dataType.typeName()
    rec = col if dtype == "string" else F.to_json(col)
    return df.select(rec.alias("record"))


# ---------------------------------------------------------------------------
# Dispatch (omnata_push_materialization.sql:9-15 + app dispatchers D4/D5)
# ---------------------------------------------------------------------------


def materialize_omnata_push(engine, model) -> RunResult:
    app = model.config.get("app")
    operation = model.config.get("operation")
    df = _records_json(engine.build_df(model))
    if app == "salesforce":
        # macros/apps/salesforce.sql:23-25
        if operation == "bulk_load":
            return _salesforce_bulk_load(engine, model, df)
        raise ValueError(f"unknown salesforce operation '{operation}'")
    if app == "marketing_cloud":
        # macros/apps/marketing_cloud.sql:23-25
        if operation == "data_extension_upload":
            return _marketing_cloud_upload(engine, model, df)
        raise ValueError(f"unknown marketing_cloud operation '{operation}'")
    # omnata_push_materialization.sql:14
    raise ValueError(f"App '{app}' is currently not supported by Omnata Push")


def materialize_load_task(engine, model) -> RunResult:
    """Legacy materialization (macros/load_task_materialization.sql):
    Salesforce-only; its 'operation' config IS the bulk-API load type."""
    df = _records_json(engine.build_df(model))
    return _salesforce_bulk_load(engine, model, df, legacy=True)


# ---------------------------------------------------------------------------
# Salesforce bulk load (macros/apps/operations/salesforce_bulk_load.sql)
# ---------------------------------------------------------------------------


def _salesforce_bulk_load(engine, model, records: DataFrame, legacy=False) -> RunResult:
    cfg = model.config
    # The model's records (often a join plus an anti-join against the
    # whole log table) are evaluated exactly once: one checkpoint carries
    # the row index and, on the same job, the row count that drives the
    # empty-load short-circuit (salesforce.sql:5-18 / load_task:11-25).
    # The index is partition-local, not dense: it only has to be unique
    # and stable, and once checkpointed it is both.
    indexed, metrics = materialized(
        records.withColumn("row_idx", F.monotonically_increasing_id())
    )
    n = metrics["n"]
    if n == 0 and not engine.vars.get("full-refresh-salesforce", False):
        return RunResult(model.name, "skipped", message="empty load, no-op")

    connector = get_connector("salesforce", cfg, engine.vars)
    load_type = cfg.get("operation") if legacy else cfg.get("load_type", "upsert")
    object_name = cfg.get("object_name")
    external_id_field = cfg.get("external_id_field")
    serial = bool(cfg.get("serial_load", False))

    # (1) create job — driver, once (salesforce_bulk_load.sql:13-18).
    meta = connector.create_job(load_type, object_name, serial, external_id_field)
    job_id = str(meta["id"])
    created = datetime.now(timezone.utc)
    spark = engine.spark
    tasks_tbl = tracking.ensure_tracking_table(engine, tracking.SFDC_LOAD_TASKS)
    close_meta = None

    # (3) per-batch push with per-record result capture
    # (salesforce_bulk_load.sql:34-48). serial_load (README.md:71) ==
    # max_parallel_batches=1; any bound caps concurrent remote calls by
    # capping partitions (SURVEY.md §7 hard-part 4: bounded concurrency
    # toward the SaaS API).
    max_parallel = 1 if serial else cfg.get("max_parallel_batches")
    if max_parallel:
        indexed = indexed.coalesce(int(max_parallel))
    batch_size = int(cfg.get("batch_size", DEFAULT_BATCH_SIZE))

    retry = RetryPolicy(max_attempts=int(cfg.get("max_retries", 3)))

    def push_batches(batches):
        import pandas as pd

        for pdf in batches:
            recs = pdf["record"].tolist()
            results: list[str] = []
            for start in range(0, len(recs), batch_size):
                chunk = recs[start : start + batch_size]
                # Transient transport errors retry with backoff; per-record
                # API failures come back as results and are logged as-is
                # (the NOT-IN incremental filter re-pushes them next run).
                res = retry.call(
                    connector.load_batch, job_id, [json.loads(r) for r in chunk]
                )
                results.extend(json.dumps(r) for r in res)
            yield pd.DataFrame(
                {"row_idx": pdf["row_idx"], "record": recs, "result": results}
            )

    try:
        # The log append's write job is the push's only action: each
        # record reaches the remote API once, and its log row is written
        # as its result comes back.
        pushed = indexed.mapInPandas(push_batches, _PUSH_SCHEMA)
        logs = pushed.select(
            F.lit(job_id).alias("job_id"),
            # deterministic id (reference: UUID_STRING(), line 40)
            F.sha2(
                F.concat(F.lit(job_id + ":"), F.col("row_idx").cast("string")), 256
            ).alias("job_log_entry_id"),
            # typed literals: an append, unlike a merge, has no target
            # schema to coerce a None config value's void column to
            F.lit(model.name).cast("string").alias("load_task_name"),
            F.lit(object_name).cast("string").alias("object_name"),
            F.lit(load_type).cast("string").alias("operation"),
            F.lit(external_id_field).cast("string").alias("external_id_field"),
            F.col("record"),
            F.col("result"),
        )
        logs_tbl = tracking.ensure_tracking_table(
            engine, tracking.SFDC_LOAD_TASK_LOGS
        )
        engine.store.append(spark, logs_tbl, logs)
        # (4) close job (salesforce_bulk_load.sql:51-56).
        close_meta = json.dumps(connector.close_job(job_id))
    finally:
        # (2) the task row (salesforce_bulk_load.sql:21-31) and its close
        # descriptor in one append. The reference runs create, INSERT,
        # load and close-UPDATE as one transaction, so no reader sees a
        # task row before its close. A failed push or close still
        # commits the row, with NULL close metadata, so the failure
        # stays inspectable (SURVEY.md §7 hard-part 2).
        row = (
            job_id,
            model.name,
            object_name,
            load_type,
            external_id_field,
            created,
            json.dumps(meta),
            close_meta,
        )
        schema = tracking.SCHEMAS[tracking.SFDC_LOAD_TASKS]
        engine.store.append(spark, tasks_tbl, local_frame(spark, [row], schema))
    return RunResult(model.name, "success", rows_affected=n, extra={"job_id": job_id})


# ---------------------------------------------------------------------------
# Marketing Cloud data-extension upload
# (macros/apps/operations/marketing_cloud_data_extension_upload.sql)
# ---------------------------------------------------------------------------


def _marketing_cloud_upload(engine, model, records: DataFrame) -> RunResult:
    cfg = model.config
    connector = get_connector("marketing_cloud", cfg, engine.vars)
    spark = engine.spark

    # (1) ensure data extension exists — driver (upload.sql:19-33).
    manage_cfg = {
        "operation": "ensure_exists",
        "extension_name": cfg.get("data_extension_name"),
        "extension_path": cfg.get("data_extension_path"),
        "extension_properties": cfg.get("data_extension_properties"),
        "force": bool(cfg.get("force_check", False)),
        "extension_fields": cfg.get("data_extension_fields", []),
    }
    connector.ensure_data_extension(manage_cfg)

    # Empty-load short-circuit (marketing_cloud.sql:5-18).
    if not engine.vars.get("full-refresh-marketing-cloud", False) and records.isEmpty():
        return RunResult(model.name, "skipped", message="empty load, no-op")

    job_id = str(uuid.uuid4())
    import_params = {
        "import_type": cfg.get("import_type", "AddAndUpdate"),
        "data_extension_name": cfg.get("data_extension_name"),
        "file_location_external_key": cfg.get("file_location_external_key"),
        "encrypted": bool(cfg.get("encrypted", False)),
    }

    # (2) global 1-based numbering (upload.sql:56; zipWithIndex-style,
    # never a null-partition window) + batch-of-100 (line 57).
    batch_size = int(cfg.get("batch_size", DEFAULT_BATCH_SIZE))
    # Persist + materialize the index assignment: it feeds two separate
    # actions (staging and result fetch), and a recomputation across a
    # shuffle could assign different row numbers, mis-associating per-row
    # results with records.
    indexed = with_global_index(records, "row_idx", one_based=True).persist()
    n_records = indexed.count()
    batched = indexed.withColumn(
        "batch_number", F.floor(F.col("row_idx") / batch_size).cast("int")
    )

    encrypted = bool(cfg.get("encrypted", False))
    session = (
        gpg_session_params(cfg.get("gpg_public_key", "")) if encrypted else None
    )

    # (3) stage per batch on executors (SFMC_STAGE_DATA per 100 rows,
    # upload.sql:60-63; encrypted path 87-102 redesigned to per-batch
    # encryption, SURVEY.md §2.1 D8).
    stage_schema = StructType(
        [StructField("batch_number", LongType()), StructField("stage_id", StringType())]
    )

    def stage_batches(key, pdf):
        import pandas as pd

        rows = list(zip(pdf["row_idx"].tolist(), pdf["record"].tolist()))
        if encrypted:
            payload = encrypt_batch(session, json_records_to_csv(rows))
            stage_id = connector.stage_batch([[rows[0][0], payload]])
        else:
            stage_id = connector.stage_batch([[i, r] for i, r in rows])
        return pd.DataFrame({"batch_number": [key[0]], "stage_id": [stage_id]})

    staged = batched.groupBy("batch_number").applyInPandas(stage_batches, stage_schema)
    stage_ids = [r["stage_id"] for r in staged.select("stage_id").distinct().collect()]
    if not stage_ids:
        # full-refresh on an empty model: nothing staged -> no-op instead
        # of crashing on stage_ids[0].
        indexed.unpersist()
        return RunResult(model.name, "skipped", message="empty load, no-op")
    # any_value collapse (upload.sql:64-66) assumes the staging calls share
    # ONE staged-query id per load; a connector returning per-batch ids
    # would silently drop batches from the import, so fail loudly instead.
    if len(stage_ids) != 1:
        raise RuntimeError(
            f"expected a single staged-query id per load, got {len(stage_ids)}: "
            f"{stage_ids[:5]}"
        )
    stage_id = stage_ids[0]

    # (4) import + blocking poll — driver (SFMC_AWAIT_RESULTS_POLL(
    # SFMC_DE_IMPORT(...)), upload.sql:67-69; SURVEY.md §4 'blocking poll').
    handle = connector.start_import(import_params, stage_id)
    ok = connector.wait_for_import(handle)
    if not ok:
        indexed.unpersist()
        return RunResult(model.name, "error", message="import poll failed")

    # (5) per-row results (SFMC_FETCH_RESULTS, upload.sql:70-84) — batched
    # executor calls joined by row index, read once by the log append.
    def fetch_batches(batches):
        import pandas as pd

        for pdf in batches:
            idxs = pdf["row_idx"].tolist()
            res = connector.fetch_results(stage_id, idxs)
            yield pd.DataFrame(
                {
                    "row_idx": pdf["row_idx"],
                    "record": pdf["record"],
                    "result": [json.dumps(r) for r in res],
                }
            )

    results = indexed.mapInPandas(fetch_batches, _PUSH_SCHEMA)

    logs = results.select(
        F.lit(job_id).alias("job_id"),
        F.sha2(
            F.concat(F.lit(job_id + ":"), F.col("row_idx").cast("string")), 256
        ).alias("job_log_entry_id"),
        F.lit(model.name).cast("string").alias("load_task_name"),
        F.lit(cfg.get("data_extension_name")).cast("string").alias("object_name"),
        F.lit("data_extension_upload").alias("operation"),
        F.col("record"),
        F.col("result"),
    )
    # INSERT ALL (upload.sql:37-42): one task row and a log row per
    # record, both appended (the fresh uuid4 job id can match no row).
    tasks_tbl = tracking.ensure_tracking_table(engine, tracking.SFMC_LOAD_TASKS)
    logs_tbl = tracking.ensure_tracking_table(
        engine, tracking.SFMC_LOAD_TASK_LOGS
    )
    task_row = (
        job_id,
        model.name,
        cfg.get("data_extension_name"),
        "data_extension_upload",
        datetime.now(timezone.utc),
        json.dumps(import_params),
    )
    engine.store.append(
        spark,
        tasks_tbl,
        local_frame(spark, [task_row], tracking.SCHEMAS[tracking.SFMC_LOAD_TASKS]),
    )
    engine.store.append(spark, logs_tbl, logs)
    indexed.unpersist()
    return RunResult(
        model.name, "success", rows_affected=n_records, extra={"job_id": job_id}
    )
