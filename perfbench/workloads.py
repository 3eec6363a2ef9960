"""The three workloads. Each builds its inputs from the seed, checks every
op against an oracle, and exposes the same hooks to ``run.Run``:

- ``prepare()``: generate inputs (parquet under the work directory) and
  compute the oracle in DuckDB;
- ``seed_store(root)``: a fresh ``TableStore`` at ``root`` holding the
  inputs, and the ``Engine`` over it (``self.engine``);
- ``start()``: the one-off state the ops run against;
- ``before_op(n)`` (untimed), ``op(n)`` (timed) and ``check(n, raw)``
  (untimed; returns ``(problem or None, rows)``);
- ``finish()``: compare the final state with the oracle.

Every op of a workload is the same unit of work, so its latency has one
mode: a statement mix is one op per full pass of the mix.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil

import numpy as np

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DEVICES = ["android", "ios", "web", "tv"]
KINDS = ["click", "view", "purchase"]
EPOCH = datetime.date(1992, 1, 1)


def result_hash(rows) -> str:
    """Order-independent hash of result rows (tuples of plain values)."""
    norm = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()


def _write_parquet(df, path: str) -> str:
    df.to_parquet(path, index=False)
    return path


def _dates(rng, n: int, span_days: int):
    """``n`` dates drawn uniformly from ``span_days`` days after EPOCH."""
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return (np.datetime64(EPOCH) + days).astype(object)


def _orders_frame(rng, n: int, n_cust: int, key0: int = 1):
    import pandas as pd

    return pd.DataFrame(
        {
            "o_orderkey": np.arange(key0, key0 + n, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "F", "P"], n),
            "o_totalprice": rng.integers(100_00, 50_000_00, n).astype(np.int64),
            "o_orderdate": _dates(rng, n, 2400),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


class _Workload:
    min_ops: int  # timed ops per run, whatever --seconds says
    warm_ops: int  # untimed ops before them, after ``start``

    def __init__(self, spark, work: str, seed: int, run):
        self.spark = spark
        self.work = work
        self.run = run
        self.rng = np.random.default_rng(seed)
        self.engine = None
        self.store_root = None
        self.data = os.path.join(work, "inputs")
        os.makedirs(self.data, exist_ok=True)

    def _fresh_engine(self, root: str, vars=None):
        from dbt_omnata_push_spark.engine.dag import Engine
        from dbt_omnata_push_spark.engine.store import TableStore

        if self.store_root and self.store_root != root:
            shutil.rmtree(self.store_root, ignore_errors=True)
        self.store_root = root
        self.engine = Engine(self.spark, TableStore(root), vars=vars or {})
        return self.engine

    def _seed_parquet(self, name: str) -> None:
        path = os.path.join(self.data, f"{name}.parquet")
        self.engine.seed(name, self.spark.read.parquet(path))

    def before_op(self, n: int) -> None:
        pass

    def start(self) -> None:
        pass

    def finish(self) -> bool:
        return True

    def user_bytes(self, rows: int) -> int:
        return 0

    def versions(self) -> int:
        store = self.engine.store
        return sum(
            len(store.versions(e.replace("__", ".")))
            for e in os.listdir(store.root)
            if store.exists(e.replace("__", "."))
        )

    def connector_stats(self, ops: list[int]) -> dict:
        """Connector figures over the given op numbers."""
        return {
            "load_batch_calls": 0,
            "records_sent": 0,
            "batch_ms": 0.0,
            "sent_per_logged": 0.0,
        }

    def _collect(self, df):
        with self.run.tracer_span("spark.collect"):
            return df.collect()


# ---------------------------------------------------------------------------
# sql_select: the read path through sqlfront, registration and Spark
# ---------------------------------------------------------------------------

# (Snowflake dialect for Engine.query, DuckDB equivalent, tables read)
SELECTS = [
    (
        "select c.c_mktsegment, count(*) as n, sum(o.o_totalprice) as total, "
        "sum(iff(o.o_orderpriority = '1-URGENT', 1, 0)) as urgent, "
        "sum(iff(dateadd(day, 30, o.o_orderdate) < '1996-01-01'::date, 1, 0)) "
        "as early from customer c join orders o on c.c_custkey = o.o_custkey "
        "group by c.c_mktsegment",
        "select c.c_mktsegment, count(*), sum(o.o_totalprice), "
        "sum(case when o.o_orderpriority = '1-URGENT' then 1 else 0 end), "
        "sum(case when o.o_orderdate + interval 30 day < date '1996-01-01' "
        "then 1 else 0 end) "
        "from customer c join orders o on c.c_custkey = o.o_custkey "
        "group by c.c_mktsegment",
        ("customer", "orders"),
    ),
    (
        "select o_custkey, o_orderkey, o_totalprice from orders_hist "
        "qualify row_number() over "
        "(partition by o_custkey order by o_totalprice desc, o_orderkey) = 1",
        "select o_custkey, o_orderkey, o_totalprice from orders_hist "
        "qualify row_number() over "
        "(partition by o_custkey order by o_totalprice desc, o_orderkey) = 1",
        ("orders_hist",),
    ),
    (
        "select payload:device::string as device, count(*) as n, "
        "sum(payload:amount::int) as amount from events "
        "where payload:kind::string = 'purchase' group by 1",
        "select json_extract_string(payload, '$.device'), count(*), "
        "sum(cast(json_extract_string(payload, '$.amount') as integer)) "
        "from events where json_extract_string(payload, '$.kind') = 'purchase' "
        "group by 1",
        ("events",),
    ),
]

# DML history that setup applies to orders_hist: many versions, and
# deletes that leave deletion vectors for the SELECTs to merge on read.
HISTORY = [
    "delete from orders_hist where mod(o_orderkey, 17) = 0",
    "update orders_hist set o_totalprice = o_totalprice + 7 "
    "where mod(o_custkey, 11) = 0",
    "delete from orders_hist where mod(o_orderkey, 29) = 3",
    "delete from orders_hist where mod(o_orderkey, 41) = 7",
]


class SqlSelect(_Workload):
    """One op: every SELECT in ``SELECTS`` through ``Engine.query`` and
    ``collect()``. Reads generated TPC-H-shaped tables (about sf0.01), a
    JSON event table, and one table with a DML history."""

    min_ops = 6
    warm_ops = 3
    N_CUST, N_ORDERS, N_EVENTS = 1_500, 15_000, 20_000

    def prepare(self) -> None:
        import duckdb
        import pandas as pd

        rng = self.rng
        nc, no, ne = self.N_CUST, self.N_ORDERS, self.N_EVENTS
        frames = {
            "customer": pd.DataFrame(
                {
                    "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
                    "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
                    "c_nationkey": rng.integers(0, 25, nc).astype(np.int64),
                    "c_acctbal": rng.integers(-999_99, 9_999_99, nc).astype(np.int64),
                    "c_mktsegment": rng.choice(SEGMENTS, nc),
                }
            ),
            "orders": _orders_frame(rng, no, nc),
            "events": pd.DataFrame(
                {
                    "event_id": np.arange(ne, dtype=np.int64),
                    "payload": [
                        '{"device": "%s", "kind": "%s", "amount": %d, '
                        '"geo": {"country": "C%02d"}}'
                        % (DEVICES[d], KINDS[k], a, g)
                        for d, k, a, g in zip(
                            rng.integers(0, len(DEVICES), ne),
                            rng.integers(0, len(KINDS), ne),
                            rng.integers(1, 500, ne),
                            rng.integers(0, 30, ne),
                        )
                    ],
                }
            ),
        }
        con = duckdb.connect()
        for name, df in frames.items():
            path = _write_parquet(df, os.path.join(self.data, f"{name}.parquet"))
            con.execute(f"create table {name} as select * from read_parquet('{path}')")
        con.execute("create table orders_hist as select * from orders")
        for stmt in HISTORY:
            con.execute(stmt)
        sizes = {
            t: con.execute(f"select count(*) from {t}").fetchone()[0]
            for t in ("customer", "orders", "events", "orders_hist")
        }
        self.expected = [result_hash(con.execute(q).fetchall()) for _, q, _ in SELECTS]
        self.rows_per_op = sum(sizes[t] for _, _, ts in SELECTS for t in ts)
        con.close()

    def seed_store(self, root: str) -> None:
        self._fresh_engine(root)
        for name in ("customer", "orders", "events"):
            self._seed_parquet(name)
        self.engine.seed(
            "orders_hist",
            self.spark.read.parquet(os.path.join(self.data, "orders.parquet")),
        )

    def start(self) -> None:
        for stmt in HISTORY:
            self.engine.query(stmt).collect()

    def op(self, n: int):
        return [self._collect(self.engine.query(q)) for q, _, _ in SELECTS]

    def check(self, n: int, results):
        for (q, _, _), rows, want in zip(SELECTS, results, self.expected):
            if result_hash(rows) != want:
                return f"result differs from DuckDB for: {q[:60]}...", 0
        return None, self.rows_per_op


# ---------------------------------------------------------------------------
# sql_dml: the commit path through engine.dml and engine.store
# ---------------------------------------------------------------------------

STAGE_KEY0 = 10_000_000  # keys INSERT adds and DELETE removes each cycle
NEW_KEY0 = 20_000_000  # keys MERGE inserts (not matched) each cycle
ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority"
)
# (Snowflake statement for Engine.query, DuckDB replay statements, the
# summary-frame column each replay statement's row count is reported in)
CYCLE = [
    (
        "insert into orders_w select * from orders_stage",
        ["insert into orders_w select * from orders_stage"],
        ["rows_inserted"],
    ),
    (
        "update orders_w set o_totalprice = o_totalprice + 100 "
        f"where o_orderkey >= {STAGE_KEY0} or mod(o_orderkey, 53) = 0",
        [
            "update orders_w set o_totalprice = o_totalprice + 100 "
            f"where o_orderkey >= {STAGE_KEY0} or o_orderkey % 53 = 0"
        ],
        ["rows_updated"],
    ),
    (
        "merge into orders_w t using orders_delta s "
        "on t.o_orderkey = s.o_orderkey "
        "when matched then update set o_totalprice = s.o_totalprice, "
        "o_orderstatus = s.o_orderstatus "
        f"when not matched then insert ({ORDER_COLS}) values "
        "(s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice, "
        "s.o_orderdate, s.o_orderpriority)",
        [
            "update orders_w set o_totalprice = s.o_totalprice, "
            "o_orderstatus = s.o_orderstatus from orders_delta s "
            "where orders_w.o_orderkey = s.o_orderkey",
            "insert into orders_w select * from orders_delta s where not exists "
            "(select 1 from orders_w t where t.o_orderkey = s.o_orderkey)",
        ],
        ["rows_updated", "rows_inserted"],
    ),
    (
        f"delete from orders_w where o_orderkey >= {STAGE_KEY0}",
        [f"delete from orders_w where o_orderkey >= {STAGE_KEY0}"],
        ["rows_deleted"],
    ),
]


class SqlDml(_Workload):
    """One op: one stationary INSERT..SELECT, UPDATE, MERGE, DELETE cycle
    over a working copy of ``orders``; each cycle returns the row count
    to its base."""

    min_ops = 3
    warm_ops = 2
    N_ORDERS, N_CUST, N_STAGE, N_MATCH, N_NEW = 15_000, 1_500, 300, 150, 150

    def prepare(self) -> None:
        import duckdb

        rng = self.rng
        base = _orders_frame(rng, self.N_ORDERS, self.N_CUST)
        stage = _orders_frame(rng, self.N_STAGE, self.N_CUST, key0=STAGE_KEY0)
        delta = _orders_frame(rng, self.N_MATCH + self.N_NEW, self.N_CUST)
        delta["o_orderkey"] = np.concatenate(
            [
                np.arange(STAGE_KEY0, STAGE_KEY0 + self.N_MATCH),
                np.arange(NEW_KEY0, NEW_KEY0 + self.N_NEW),
            ]
        ).astype(np.int64)
        con = self.con = duckdb.connect()
        for name, df in (
            ("orders_w", base), ("orders_stage", stage), ("orders_delta", delta)
        ):
            path = _write_parquet(df, os.path.join(self.data, f"{name}.parquet"))
            con.execute(f"create table {name} as select * from read_parquet('{path}')")
        self.replayed = self.cycles_done = 0
        self.expected = self._replay_cycle()
        self.bytes_per_row = os.path.getsize(
            os.path.join(self.data, "orders_w.parquet")
        ) / self.N_ORDERS

    def _replay_cycle(self) -> list[dict]:
        """Apply one cycle in DuckDB; returns each statement's counts in the
        engine's summary-frame shape."""
        counts = [
            {col: self.con.execute(s).fetchone()[0] for s, col in zip(replay, cols)}
            for _, replay, cols in CYCLE
        ]
        self.replayed += 1
        return counts

    def seed_store(self, root: str) -> None:
        self._fresh_engine(root)
        for name in ("orders_w", "orders_stage", "orders_delta"):
            self._seed_parquet(name)

    def op(self, n: int):
        return [
            self._collect(self.engine.query(stmt))[0].asDict() for stmt, _, _ in CYCLE
        ]

    def check(self, n: int, summaries):
        self.cycles_done = n + 1
        got = [{k: int(v) for k, v in s.items() if v} for s in summaries]
        want = [{k: v for k, v in e.items() if v} for e in self.expected]
        if got != want:
            return f"summary counts {got} != DuckDB replay {want}", 0
        return None, sum(sum(s.values()) for s in got)

    def user_bytes(self, rows: int) -> int:
        return int(rows * self.bytes_per_row)

    def finish(self) -> bool:
        while self.replayed < self.cycles_done:
            self._replay_cycle()
        want = result_hash(self.con.execute("select * from orders_w").fetchall())
        got = self.engine.store.read(self.spark, "orders_w").select(
            *[c.strip() for c in ORDER_COLS.split(",")]
        )
        return result_hash(got.collect()) == want


# ---------------------------------------------------------------------------
# push_cycles: the reverse-ETL push dataflow
# ---------------------------------------------------------------------------

DAY0 = datetime.date(2001, 1, 1)


def _transactions_daily(ctx):
    """Daily gross and net per account, incremental on the date
    (the reference's transactions_daily model)."""
    from pyspark.sql import functions as F

    from dbt_omnata_push_spark.materializations.core import (
        high_watermark_incremental,
    )

    tx = ctx.ref("transactions")
    agg = (
        tx.groupBy(
            "ACCOUNT_ID",
            F.col("TRANSACTION_DATETIME").cast("date").alias("TRANSACTIONS_DATE"),
        )
        .agg(
            F.sum("TRANSACTION_AMOUNT").alias("GTV_DAILY"),
            F.sum("REVENUE_AMOUNT").alias("NTR_DAILY"),
        )
        .filter(F.col("TRANSACTIONS_DATE") < F.current_date())
    )
    return high_watermark_incremental(ctx, agg, "TRANSACTIONS_DATE")


def _transactions_daily_load(ctx):
    """One Salesforce record per account-day not yet pushed (NOT-IN
    filter against the log table)."""
    from pyspark.sql import functions as F

    from dbt_omnata_push_spark.materializations import tracking

    daily = ctx.ref("transactions_daily").join(ctx.ref("accounts"), "ACCOUNT_ID")
    key = F.concat_ws(
        "_", F.col("ACCOUNT_ID"), F.col("TRANSACTIONS_DATE").cast("string")
    )
    rec = daily.select(
        F.struct(
            F.col("NAME").alias("Name"),
            key.alias("Duplicate_Key__c"),
            F.col("GTV_DAILY").alias("Total_Transactions_Sum__c"),
            F.col("NTR_DAILY").alias("Total_Revenue_Sum__c"),
            F.col("TRANSACTIONS_DATE").cast("string").alias("Transactions_Date__c"),
            F.struct(F.col("ACCOUNT_ID").alias("AccountID__c")).alias("Account__r"),
        ).alias("record")
    )
    loaded = (
        ctx.ref(tracking.SFDC_LOAD_TASK_LOGS)
        .filter(
            (F.get_json_object("result", "$.success") == "true")
            & (F.col("load_task_name") == "transactions_daily_load")
        )
        .select(F.get_json_object("record", "$.Duplicate_Key__c").alias("_loaded"))
    )
    return rec.join(
        loaded, rec["record.Duplicate_Key__c"] == loaded["_loaded"], "left_anti"
    )


class PushCycles(_Workload):
    """One op: one sync cycle. New accounts and one new day of
    transactions for them arrive through ``TableStore.append`` (untimed);
    then one ``Engine.run()`` rebuilds the incremental daily model and
    pushes only the new account-days to the mock Salesforce bulk API,
    recording them in the SFDC tracking tables. The first warm-up op is
    the initial sync: it creates the daily model's table."""

    min_ops = 3
    warm_ops = 2
    A0, B = 40, 20  # accounts seeded without transactions; new accounts per op

    def prepare(self) -> None:
        from dbt_omnata_push_spark.connectors.base import register_connector

        from perfbench.connectors import (
            CALL_LOG_ENV,
            NAMESPACE,
            TimedSalesforceConnector,
        )

        self.call_log = os.path.join(self.work, "connector_calls.log")
        os.environ[CALL_LOG_ENV] = self.call_log
        register_connector("salesforce", TimedSalesforceConnector, NAMESPACE)
        self.vars = {"omnata_functions_namespace": NAMESPACE}
        self.names = [
            "".join(chr(97 + c) for c in self.rng.integers(0, 26, 8))
            for _ in range(self.A0 + 400 * self.B)
        ]
        self.log_offset = 0
        self.conn: dict[int, dict] = {}  # op number -> call-log sums
        self.pushed = self.sent = 0  # records, summed over ops

    # -- inputs ---------------------------------------------------------
    def _accounts(self, lo: int, hi: int):
        return self.spark.createDataFrame(
            [(f"{self.names[i].title()} Inc", f"acct-{i:06d}") for i in range(lo, hi)],
            "NAME string, ACCOUNT_ID string",
        )

    def _transactions(self, lo: int, hi: int, days: range):
        rows = []
        for i in range(lo, hi):
            for d in days:
                for h in (3, 15):  # two transactions per account-day
                    amt = float(10 + (i * 7 + d * 3 + h) % 90)
                    rows.append(
                        (
                            f"acct-{i:06d}",
                            datetime.datetime.combine(
                                DAY0 + datetime.timedelta(days=d),
                                datetime.time(h),
                            ),
                            amt,
                            amt / 10,
                        )
                    )
        return self.spark.createDataFrame(
            rows,
            "ACCOUNT_ID string, TRANSACTION_DATETIME timestamp, "
            "TRANSACTION_AMOUNT double, REVENUE_AMOUNT double",
        )

    # -- project --------------------------------------------------------
    def seed_store(self, root: str) -> None:
        from dbt_omnata_push_spark.engine.model import Model
        from dbt_omnata_push_spark.materializations import tracking

        engine = self._fresh_engine(root, vars=self.vars)
        engine.seed("accounts", self._accounts(0, self.A0))
        engine.seed("transactions", self._transactions(0, 0, range(0)))
        engine.register(
            Model(
                "transactions_daily",
                builder=_transactions_daily,
                config={"materialized": "incremental"},
                depends_on=["transactions"],
            )
        )
        engine.register(
            Model(
                "transactions_daily_load",
                builder=_transactions_daily_load,
                config={
                    "materialized": "omnata_push",
                    "app": "salesforce",
                    "operation": "bulk_load",
                    "load_type": "upsert",
                    "object_name": "Transaction__c",
                    "external_id_field": "Duplicate_Key__c",
                },
                depends_on=[
                    "transactions_daily",
                    "accounts",
                    tracking.SFDC_LOAD_TASKS,
                    tracking.SFDC_LOAD_TASK_LOGS,
                ],
            )
        )

    def _logged(self) -> int:
        from pyspark.sql import functions as F

        from dbt_omnata_push_spark.materializations import tracking

        logs = self.engine.store.read(self.spark, tracking.SFDC_LOAD_TASK_LOGS)
        return logs.filter(F.get_json_object("result", "$.success") == "true").count()

    def start(self) -> None:
        from dbt_omnata_push_spark.materializations import tracking

        for t in (tracking.SFDC_LOAD_TASKS, tracking.SFDC_LOAD_TASK_LOGS):
            tracking.ensure_tracking_table(self.engine, t)
        self.logged = 0  # successful log rows so far: the table is new

    def before_op(self, n: int) -> None:
        lo = self.A0 + n * self.B
        hi = lo + self.B
        store, spark = self.engine.store, self.spark
        store.append(spark, "accounts", self._accounts(lo, hi))
        store.append(spark, "transactions", self._transactions(lo, hi, range(n, n + 1)))

    def op(self, n: int):
        return self.engine.run()

    def check(self, n: int, results):
        """Every model succeeded, the push models pushed exactly this
        cycle's new account-days, and the connector received each once.
        The log tables are counted once, in ``finish``."""
        from perfbench.connectors import read_call_log

        bad = {k: (r.status, r.message) for k, r in results.items()
               if r.status != "success"}
        # Only omnata_push RunResults count records: incremental and
        # tracking materializations report the whole table's row count.
        pushed = sum(
            r.rows_affected
            for k, r in results.items()
            if self.engine.models[k].config.get("materialized") == "omnata_push"
        )
        calls, self.log_offset = read_call_log(self.call_log, self.log_offset)
        self.conn[n] = calls
        sent = calls.get("load_batch", 0)
        self.pushed += pushed
        self.sent += sent
        if bad:
            return f"models did not succeed: {bad}", pushed
        if pushed != self.B:
            return f"pushed {pushed} records, expected {self.B}", pushed
        if sent != pushed:
            return f"connector received {sent} records for {pushed} pushed", pushed
        return None, pushed

    def finish(self) -> bool:
        """The log table gained one successful row per pushed record, and
        the connector was sent each record once."""
        self.gained = self._logged() - self.logged
        return self.gained == self.pushed == self.sent

    def user_bytes(self, rows: int) -> int:
        # a pushed record's log row: ids, names, record and result JSON
        return rows * 400

    def connector_stats(self, ops: list[int]) -> dict:
        from statistics import median

        calls = [self.conn.get(n, {}) for n in ops]

        def med(key):
            return median(c.get(key, 0.0) for c in calls)

        return {
            "load_batch_calls": med("load_batch#calls"),
            "records_sent": med("load_batch"),
            "batch_ms": med("load_batch_ms"),
            "sent_per_logged": self.sent / self.gained if self.gained else 0.0,
        }


WORKLOADS = {"sql_select": SqlSelect, "sql_dml": SqlDml, "push_cycles": PushCycles}
