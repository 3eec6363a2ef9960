"""Core materializations: view, table, incremental, tracking_table."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..engine.dag import RunResult
from ..engine.model import Context
from ..ops.observe import materialized, observed


def materialize_view(engine, model) -> RunResult:
    df = engine.build_df(model)
    engine._publish(model.name, df, nonstore=True)
    return RunResult(model.name, "success", message="view published")


def materialize_table(engine, model) -> RunResult:
    """``rows_affected`` is the number of rows written, counted on the
    write."""
    df, get = observed(engine.build_df(model))
    engine.store.overwrite(engine.spark, model.name, df)
    return _published(engine, model, get()["n"])


def materialize_incremental(engine, model) -> RunResult:
    """Stock dbt incremental (transactions_daily.sql:1-3):
    first run CTAS; later runs apply the configured
    ``incremental_strategy`` to rows passing the model's own
    is_incremental() filter —

    - ``merge`` (default with unique_key): keyed upsert; on this store
      merge IS delete+insert (anti-join on keys + union), so dbt's
      delete+insert strategy is the same commit;
    - ``append`` (default without unique_key);
    - ``insert_overwrite``: dynamic-partition replacement — partitions
      present in the batch swap wholesale, untouched partitions
      hard-link (the large time-partitioned-table strategy).

    ``rows_affected`` is the number of rows written (the CTAS's rows,
    or the incremental batch's), as dbt reports it — not the table's
    size. The count rides an Observation on the write (CTAS, append) or
    on the batch's one checkpoint (merge, insert_overwrite), so it costs
    no extra Spark job. An empty batch commits nothing: a new version
    would wake every downstream stream and CDC consumer, and in
    Snowflake a 0-row DML leaves streams silent.
    """
    ctx = Context(engine, model)
    df = engine.build_df(model)
    strategy = model.config.get("incremental_strategy")
    if not ctx.is_incremental():
        df, get = observed(df)
        engine.store.overwrite(
            engine.spark, model.name, df,
            partition_by=model.config.get("partition_by"),
        )
        return _published(engine, model, get()["n"])
    key = model.config.get("unique_key")
    if strategy not in (
        None, "merge", "delete+insert", "append", "insert_overwrite"
    ):
        raise ValueError(f"unknown incremental_strategy: {strategy}")
    if strategy != "insert_overwrite" and (strategy == "append" or not key):
        # The append is the batch's only action and commits no 0-row
        # version of its own.
        n = engine.store.append(engine.spark, model.name, df)
    else:
        # merge_upsert reads its source twice: evaluate the batch once,
        # and its checkpoint's count decides whether to commit at all.
        df, metrics = materialized(df)
        n = metrics["n"]
        if n and strategy == "insert_overwrite":
            engine.store.insert_overwrite(engine.spark, model.name, df)
        elif n:
            engine.store.merge_upsert(engine.spark, model.name, df, key)
    if n == 0:
        return _published(
            engine, model, 0, message="empty incremental batch — no commit"
        )
    return _published(engine, model, n)


def _published(engine, model, n: int, message: str = "") -> RunResult:
    """Publish the table's current version for downstream models."""
    engine._publish(
        model.name, engine.store.read(engine.spark, model.name), nonstore=False
    )
    return RunResult(model.name, "success", rows_affected=n, message=message)


def materialize_tracking_table(engine, model) -> RunResult:
    """tracking_table (macros/tracking_table_materialization.sql:17-35).

    Branches:
    (a) not exists            -> CTAS                       (line 18)
    (b) forced refresh        -> rebuild; the reference's rename-to-
        backup/CTAS/drop-backup dance (lines 19-27) collapses into the
        store's version-pointer swap
    (c) else                  -> upsert on unique_key with schema
        widening (lines 28-35)
    Full refresh obeys var 'drop-omnata-task-tables', NOT --full-refresh
    (line 5) — the tables must survive a normal full refresh.
    ``rows_affected`` is the number of rows written (CTAS or upserted),
    counted on the write.
    """
    drop_var = bool(engine.vars.get("drop-omnata-task-tables", False))
    df, get = observed(engine.build_df(model))
    if not engine.store.exists(model.name) or drop_var:
        from . import tracking as _tracking

        engine.store.overwrite(
            engine.spark,
            model.name,
            df,
            partition_by=model.config.get(
                "partition_by", _tracking.PARTITION_BY.get(model.name)
            ),
        )
    else:
        key = model.config.get("unique_key")
        if not key:
            raise ValueError(f"tracking_table {model.name} requires unique_key")
        engine.store.merge_upsert(engine.spark, model.name, df, key)
    return _published(engine, model, get()["n"])


def high_watermark_incremental(ctx: Context, df, watermark_col: str):
    """Helper for model builders: apply the reference's scalar-subquery
    watermark filter (transactions_daily.sql:19) on incremental runs.
    The max comes from the store's high-watermark record, so only the
    first run after a commit other than an append scans the table."""
    if not ctx.is_incremental():
        return df
    engine = ctx.engine
    wm = engine.store.high_watermark(engine.spark, ctx.model.name, watermark_col)
    if wm is None:
        return df
    return df.filter(F.col(watermark_col) > wm)
