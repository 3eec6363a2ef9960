"""Snowflake-dialect DML through Engine.query (engine/dml.py).

The statements under test mirror the reference macros' own DML shapes:
column-list INSERT..SELECT (/root/reference/macros/apps/operations/
salesforce_bulk_load.sql:22-31), UPDATE..SET..FROM..WHERE (:52-55),
multi-table conditional INSERT ALL (marketing_cloud_data_extension_
upload.sql:37-43), plus the surrounding statements a reference user
runs (CTAS / MERGE / DELETE / TRUNCATE).
"""

from __future__ import annotations

import json

import pytest

from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.store import TableStore


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, TableStore(str(tmp_path / "store")))


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestInsert:
    def test_ctas_then_insert_select(self, spark, engine):
        engine.query(
            "create table task_logs as "
            "select 1::bigint as job_id, 'seed'::varchar as name"
        )
        out = engine.query(
            "insert into task_logs (job_id, name) "
            "select 2::bigint, 'two'::varchar"
        )
        assert out.collect()[0]["rows_inserted"] == 1
        assert _rows(engine.query("select * from task_logs"), "job_id", "name") == [
            (1, "seed"),
            (2, "two"),
        ]

    def test_insert_values_and_missing_columns_nulled(self, spark, engine):
        engine.store.create(
            spark,
            "t3",
            spark.createDataFrame([(1, "a", 1.5)], "k long, s string, x double"),
        )
        out = engine.query("insert into t3 (k, s) values (2, 'b'), (3, 'c')")
        assert out.collect()[0]["rows_inserted"] == 2
        got = _rows(engine.query("select * from t3"), "k", "s", "x")
        assert got == [(1, "a", 1.5), (2, "b", None), (3, "c", None)]

    def test_insert_select_reference_shape(self, spark, engine):
        """The salesforce_bulk_load jobs-table insert, near-verbatim:
        variant path + quoted strings + current_timestamp()."""
        engine.store.create(
            spark,
            "sfdc_load_tasks",
            spark.createDataFrame(
                [],
                "job_id string, load_task_name string, object_name string, "
                "operation string, creation_time timestamp, creation_metadata string",
            ),
        )
        engine.store.create(
            spark,
            "temp_job",
            spark.createDataFrame(
                [(json.dumps({"id": "750abc"}),)], "METADATA string"
            ),
        )
        out = engine.query(
            "insert into sfdc_load_tasks "
            "(job_id, load_task_name, object_name, operation, creation_time, "
            "creation_metadata) "
            'select METADATA:"id", \'contacts_load\', \'Contact\', \'upsert\', '
            "current_timestamp(), METADATA from temp_job"
        )
        assert out.collect()[0]["rows_inserted"] == 1
        row = engine.query("select * from sfdc_load_tasks").collect()[0]
        assert row["job_id"] == "750abc"
        assert row["load_task_name"] == "contacts_load"
        assert row["creation_time"] is not None

    def test_insert_nondeterministic_expr_exactly_once(self, spark, engine):
        """UUID_STRING() in the body must be evaluated once: the stored
        rows ARE the counted rows (reference logs use UUID ids)."""
        engine.store.create(
            spark, "logs", spark.createDataFrame([], "id string, k long")
        )
        engine.query(
            "insert into logs (id, k) "
            "select UUID_STRING(), k from (select 1 as k union all select 2)"
        )
        got = engine.query("select * from logs").collect()
        assert len(got) == 2
        assert len({r["id"] for r in got}) == 2


class TestInsertAll:
    def test_conditional_insert_all_reference_shape(self, spark, engine):
        """marketing_cloud_data_extension_upload.sql:37-43: first row
        feeds tasks+logs, the rest only logs."""
        engine.store.create(
            spark, "sfmc_load_tasks",
            spark.createDataFrame([], "job_id string, name string"),
        )
        engine.store.create(
            spark, "sfmc_load_task_logs",
            spark.createDataFrame([], "job_id string, record string, rn long"),
        )
        out = engine.query(
            "insert all "
            "when row_number=1 then "
            "  into sfmc_load_tasks (job_id, name) values (job_id, name) "
            "  into sfmc_load_task_logs (job_id, record, rn) "
            "    values (job_id, record, row_number) "
            "else "
            "  into sfmc_load_task_logs (job_id, record, rn) "
            "    values (job_id, record, row_number) "
            "select 'j1' as job_id, 'de_upload' as name, "
            "  concat('r', id) as record, id as row_number "
            "from (select explode(sequence(1, 5)) as id)"
        )
        counts = {r["table"]: r["rows_inserted"] for r in out.collect()}
        assert counts == {"sfmc_load_tasks": 1, "sfmc_load_task_logs": 5}
        logs = _rows(
            engine.query("select * from sfmc_load_task_logs"), "rn", "record"
        )
        assert logs == [(i, f"r{i}") for i in range(1, 6)]

    def test_insert_first_routes_each_row_once(self, spark, engine):
        engine.store.create(
            spark, "small", spark.createDataFrame([], "v long")
        )
        engine.store.create(
            spark, "big", spark.createDataFrame([], "v long")
        )
        out = engine.query(
            "insert first "
            "when v < 3 then into small (v) values (v) "
            "when v < 100 then into big (v) values (v) "
            "select explode(sequence(1, 6)) as v"
        )
        counts = {r["table"]: r["rows_inserted"] for r in out.collect()}
        assert counts == {"small": 2, "big": 4}

    def test_unconditional_insert_all_double_writes(self, spark, engine):
        engine.store.create(spark, "a1", spark.createDataFrame([], "v long"))
        engine.store.create(spark, "a2", spark.createDataFrame([], "v long"))
        out = engine.query(
            "insert all into a1 (v) values (v) into a2 (v) values (v) "
            "select explode(sequence(1, 3)) as v"
        )
        counts = {r["table"]: r["rows_inserted"] for r in out.collect()}
        assert counts == {"a1": 3, "a2": 3}


class TestUpdate:
    def test_update_where_no_from(self, spark, engine):
        engine.store.create(
            spark, "u1",
            spark.createDataFrame([(1, "old"), (2, "old")], "k long, s string"),
        )
        out = engine.query("update u1 set s = 'new' where k = 2")
        assert out.collect()[0]["rows_updated"] == 1
        assert _rows(engine.query("select * from u1"), "k", "s") == [
            (1, "old"),
            (2, "new"),
        ]

    def test_update_from_reference_shape(self, spark, engine):
        """salesforce_bulk_load.sql:52-55 near-verbatim: alias, SET from
        a src expression, join condition on a variant path."""
        engine.store.create(
            spark, "sfdc_load_tasks",
            spark.createDataFrame(
                [("750abc", None), ("other", None)],
                "job_id string, close_metadata string",
            ),
        )
        engine.store.create(
            spark, "temp_job",
            spark.createDataFrame(
                [(json.dumps({"id": "750abc", "state": "JobComplete"}),)],
                "METADATA string",
            ),
        )
        out = engine.query(
            "update sfdc_load_tasks load_tasks "
            "set close_metadata = METADATA "
            "from temp_job "
            'where load_tasks.job_id = METADATA:"id"'
        )
        assert out.collect()[0]["rows_updated"] == 1
        got = {
            r["job_id"]: r["close_metadata"]
            for r in engine.query("select * from sfdc_load_tasks").collect()
        }
        assert got["other"] is None
        assert json.loads(got["750abc"])["state"] == "JobComplete"

    def test_update_multi_assignment_and_expression(self, spark, engine):
        engine.store.create(
            spark, "u2",
            spark.createDataFrame([(1, 10, "x"), (2, 20, "y")], "k long, v long, s string"),
        )
        engine.query("update u2 set v = v * 2, s = s || '!' where v >= 20")
        assert _rows(engine.query("select * from u2"), "k", "v", "s") == [
            (1, 10, "x"),
            (2, 40, "y!"),
        ]


class TestDeleteTruncateMerge:
    def test_delete_where_uses_deletion_vectors(self, spark, engine):
        engine.store.create(
            spark, "d1", spark.createDataFrame([(i,) for i in range(10)], "k long")
        )
        out = engine.query("delete from d1 where k >= 7")
        assert out.collect()[0]["rows_deleted"] == 3
        assert engine.query("select count(*) as n from d1").collect()[0]["n"] == 7
        # merge-on-read: the delete committed a DV, not a rewrite
        assert engine.store.history(spark, "d1").filter("op = 'delete'").count() == 1

    def test_delete_with_alias_qualified_predicate(self, spark, engine):
        engine.store.create(
            spark, "d2", spark.createDataFrame([(1,), (2,)], "k long")
        )
        out = engine.query("delete from d2 t where t.k = 1")
        assert out.collect()[0]["rows_deleted"] == 1

    def test_delete_using(self, spark, engine):
        engine.store.create(
            spark, "d3", spark.createDataFrame([(1,), (2,), (3,)], "k long")
        )
        engine.store.create(
            spark, "kill", spark.createDataFrame([(2,), (3,)], "kk long")
        )
        out = engine.query("delete from d3 using kill where d3.k = kill.kk")
        assert out.collect()[0]["rows_deleted"] == 2
        assert _rows(engine.query("select * from d3"), "k") == [(1,)]

    def test_truncate(self, spark, engine):
        engine.store.create(
            spark, "tr", spark.createDataFrame([(1,), (2,)], "k long")
        )
        out = engine.query("truncate table tr")
        assert out.collect()[0]["rows_deleted"] == 2
        assert engine.query("select count(*) as n from tr").collect()[0]["n"] == 0

    def test_merge_upsert_and_delete_clauses(self, spark, engine):
        engine.store.create(
            spark, "m1",
            spark.createDataFrame(
                [(1, "keep"), (2, "stale"), (3, "drop")], "k long, s string"
            ),
        )
        engine.store.create(
            spark, "src",
            spark.createDataFrame(
                [(2, "fresh", False), (3, None, True), (4, "new", False)],
                "k long, s string, dead boolean",
            ),
        )
        out = engine.query(
            "merge into m1 t using src s on t.k = s.k "
            "when matched and s.dead then delete "
            "when matched then update set s = s.s "
            "when not matched then insert (k, s) values (s.k, s.s)"
        )
        row = out.collect()[0]
        assert (row["rows_inserted"], row["rows_updated"], row["rows_deleted"]) == (
            1, 1, 1,
        )
        assert _rows(engine.query("select * from m1"), "k", "s") == [
            (1, "keep"),
            (2, "fresh"),
            (4, "new"),
        ]

    def test_merge_with_subquery_source(self, spark, engine):
        engine.store.create(
            spark, "m2", spark.createDataFrame([(1, 0)], "k long, n long")
        )
        engine.query(
            "merge into m2 using (select 1 as k, 5 as n union all "
            "select 9 as k, 9 as n) s on m2.k = s.k "
            "when matched then update set n = s.n "
            "when not matched then insert (k, n) values (s.k, s.n)"
        )
        assert _rows(engine.query("select * from m2"), "k", "n") == [
            (1, 5),
            (9, 9),
        ]


def _counts(out):
    row = out.collect()[0]
    return row["rows_inserted"], row["rows_updated"], row["rows_deleted"]


class TestMergeClauses:
    """Each pair of target and source rows takes the first WHEN clause,
    in statement order, whose AND condition holds; each target row is
    written once."""

    @pytest.fixture()
    def ks(self, spark, engine):
        def make(name, rows, ddl="k long, s string"):
            engine.store.create(spark, name, spark.createDataFrame(rows, ddl))

        return make

    def test_first_clause_that_holds_applies(self, engine, ks):
        ks("t", [(1, "a"), (2, "b")])
        ks("src", [(1,), (2,), (3,)], "k long")
        out = engine.query(
            "merge into t using src on t.k = src.k "
            "when matched and src.k = 1 then update set s = 'first' "
            "when matched and src.k = 2 then update set s = 'second' "
            "when not matched and src.k = 9 then insert (k, s) values (src.k, 'nine') "
            "when not matched then insert (k, s) values (src.k, 'other')"
        )
        assert _counts(out) == (1, 2, 0)
        assert _rows(engine.query("select * from t"), "k", "s") == [
            (1, "first"), (2, "second"), (3, "other"),
        ]

    @pytest.mark.parametrize(
        "clauses",
        [
            "when matched then update set s = 'x' "
            "when matched and src.k = 1 then delete",
            "when not matched then insert (k) values (src.k) "
            "when not matched then insert (k) values (src.k + 1)",
        ],
    )
    def test_unconditioned_clause_must_be_last_of_its_kind(
        self, engine, ks, clauses
    ):
        ks("t", [(1, "a")])
        ks("src", [(1,)], "k long")
        with pytest.raises(ValueError, match="must be the last of its kind"):
            engine.query(f"merge into t using src on t.k = src.k {clauses}")

    def test_several_source_rows_match_one_target_row(self, engine, ks):
        ks("t", [(1, "a"), (2, "b"), (3, "c")])
        ks(
            "src",
            [(1, "x", False), (1, "y", False), (2, "keep", False),
             (2, "gone", True), (4, "new", False)],
            "k long, s string, dead boolean",
        )
        out = engine.query(
            "merge into t using src on t.k = src.k "
            "when matched and src.dead then delete "
            "when matched then update set s = src.s "
            "when not matched then insert (k, s) values (src.k, src.s)"
        )
        # a target row is written once, and counted once; among its
        # pairs the earliest clause wins (k=2 is deleted)
        assert _counts(out) == (1, 1, 1)
        got = dict(_rows(engine.query("select * from t"), "k", "s"))
        assert set(got) == {1, 3, 4}
        assert got[1] in ("x", "y") and got[3] == "c" and got[4] == "new"

    def test_non_equi_on(self, engine, ks):
        ks("t", [(1, 0), (5, 0), (10, 0)], "k long, v long")
        ks("src", [(4,), (0,)], "k long")
        out = engine.query(
            "merge into t using src on t.k < src.k "
            "when matched then update set v = src.k "
            "when not matched then insert (k, v) values (src.k, -1)"
        )
        assert _counts(out) == (1, 1, 0)
        assert _rows(engine.query("select * from t"), "k", "v") == [
            (0, -1), (1, 4), (5, 0), (10, 0),
        ]

    def test_null_condition_does_not_take_the_clause(self, engine, ks):
        ks("t", [(1, "a"), (2, "b"), (3, "c")])
        ks(
            "src",
            [(1, None), (2, True), (4, None), (5, True)],
            "k long, flag boolean",
        )
        out = engine.query(
            "merge into t using src on t.k = src.k "
            "when matched and src.flag then delete "
            "when matched then update set s = 'u' "
            "when not matched and src.flag then insert (k, s) values (src.k, 'i')"
        )
        assert _counts(out) == (1, 1, 1)
        assert _rows(engine.query("select * from t"), "k", "s") == [
            (1, "u"), (3, "c"), (5, "i"),
        ]

    def test_self_merge(self, engine, ks):
        ks("t", [(1, 10), (2, 20), (3, 30)], "k long, v long")
        out = engine.query(
            "merge into t using t s on t.k = s.k + 1 "
            "when matched then update set v = s.v "
            "when not matched then insert (k, v) values (s.k + 100, s.v)"
        )
        assert _counts(out) == (1, 2, 0)
        assert _rows(engine.query("select * from t"), "k", "v") == [
            (1, 10), (2, 10), (3, 20), (103, 30),
        ]

    def test_empty_source_and_empty_target(self, engine, ks):
        merge = (
            "merge into {t} using {s} on {t}.k = {s}.k "
            "when matched then update set s = {s}.s "
            "when not matched then insert (k, s) values ({s}.k, {s}.s)"
        )
        ks("full_t", [(1, "a")])
        ks("empty_t", [])
        ks("empty_s", [])
        ks("full_s", [(1, "b")])
        out = engine.query(merge.format(t="full_t", s="empty_s"))
        assert _counts(out) == (0, 0, 0)
        assert _rows(engine.query("select * from full_t"), "k", "s") == [(1, "a")]
        out = engine.query(merge.format(t="empty_t", s="full_s"))
        assert _counts(out) == (1, 0, 0)
        assert _rows(engine.query("select * from empty_t"), "k", "s") == [(1, "b")]

    def test_quoted_when_is_no_clause(self, engine, ks):
        ks("t", [(1, "a")])
        ks("src", [(2,)], "k long")
        out = engine.query(
            "merge into t using src on t.k = src.k when not matched then "
            "insert (k, s) values (src.k, 'when matched then delete')"
        )
        assert _counts(out) == (1, 0, 0)
        assert _rows(engine.query("select * from t"), "k", "s") == [
            (1, "a"), (2, "when matched then delete"),
        ]

    def test_scalar_subquery_in_set(self, engine, ks):
        ks("t", [(1, 1), (2, 2)], "k long, v long")
        ks("src", [(2, 5)], "k long, v long")
        ks("bonus", [(100,), (300,)], "w long")
        out = engine.query(
            "merge into t using src on t.k = src.k "
            "when matched then update set v = src.v + (select max(w) from bonus)"
        )
        assert _counts(out) == (0, 1, 0)
        assert _rows(engine.query("select * from t"), "k", "v") == [(1, 1), (2, 305)]


class TestScriptAndErrors:
    def test_execute_script_reference_statement_sequence(self, spark, engine):
        """The bulk-load macro's statement sequence as one script:
        CTAS temp table; INSERT..SELECT into tasks; UPDATE..FROM."""
        engine.store.create(
            spark, "tasks",
            spark.createDataFrame([], "job_id string, closed boolean"),
        )
        results = engine.execute_script(
            """
            create table temp_tbl as
                select '{"id": "j9"}' as METADATA;
            insert into tasks (job_id, closed)
                select METADATA:"id", false from temp_tbl;
            update tasks t set closed = true
                from temp_tbl where t.job_id = METADATA:"id";
            """
        )
        assert len(results) == 3
        assert results[2].collect()[0]["rows_updated"] == 1
        assert engine.query("select * from tasks").collect()[0]["closed"] is True

    def test_plain_select_still_routes_to_query(self, spark, engine):
        engine.seed("s1", spark.createDataFrame([(1,)], "k long"))
        assert engine.query("select k from s1").collect()[0]["k"] == 1

    def test_ctas_without_replace_refuses_overwrite(self, spark, engine):
        engine.query("create table c1 as select 1 as k")
        with pytest.raises(ValueError, match="already exists"):
            engine.query("create table c1 as select 2 as k")
        engine.query("create or replace table c1 as select 2 as k")
        assert engine.query("select k from c1").collect()[0]["k"] == 2

    def test_insert_unknown_column_fails(self, spark, engine):
        engine.query("create table c2 as select 1 as k")
        with pytest.raises(ValueError, match="unknown columns"):
            engine.query("insert into c2 (nope) values (1)")


class TestMetadataStatements:
    def test_show_tables_and_describe(self, spark, engine):
        engine.seed("s_meta", spark.createDataFrame([(1,)], "k long"))
        engine.query("create table t_meta as select 1::bigint as k, 'x' as v")
        engine.query("update t_meta set v = 'y' where k = 1")

        tables = {
            r["name"]: (r["kind"], r["version"])
            for r in engine.query("show tables").collect()
        }
        assert tables["t_meta"] == ("table", 1)  # create + update commits
        assert tables["s_meta"][0] == "seed"

        cols = {
            r["name"]: r["type"]
            for r in engine.query("describe table t_meta").collect()
        }
        assert cols == {"k": "bigint", "v": "string"}

        hist = engine.query("describe history t_meta").collect()
        ops = [r["op"] for r in hist]
        assert "create" in ops[0] or "commit" in ops[0] or len(ops) == 2

    def test_describe_history_shows_store_ops(self, spark, engine):
        engine.query("create table h1 as select 1 as k")
        engine.query("delete from h1 where k = 1")
        ops = [
            r["op"]
            for r in engine.query("describe history h1").collect()
        ]
        assert "delete" in ops


class TestMaintenanceStatements:
    def test_optimize_vacuum_restore(self, spark, engine):
        engine.query("create table mt as select explode(sequence(1, 100)) as k")
        engine.query("update mt set k = k + 1000 where k <= 10")
        engine.query("delete from mt where k > 1050")

        n = engine.query("optimize mt").collect()[0]["num_files"]
        assert n >= 1

        restored = engine.query("restore table mt to version 1").collect()[0][
            "restored_as_version"
        ]
        assert restored == engine.store.current_version("mt")
        # v1 state: updated but nothing deleted yet
        assert engine.query("select count(*) as n from mt").collect()[0]["n"] == 100

        removed = engine.query("vacuum mt").collect()[0]["versions_removed"]
        assert removed >= 1
        assert len(engine.store.versions("mt")) == 1

    def test_optimize_zorder_by(self, spark, engine):
        engine.query(
            "create table zt as select explode(sequence(1, 50)) as k"
        )
        n = engine.query("optimize zt zorder by (k)").collect()[0]["num_files"]
        assert n >= 1
        assert (
            engine.query("select count(*) as n from zt").collect()[0]["n"] == 50
        )


class TestCopyInto:
    def test_copy_load_csv_with_header(self, spark, engine, tmp_path):
        src = tmp_path / "in.csv"
        src.write_text("k,v\n1,a\n2,b\n")
        engine.query("create table ct as select 0::bigint as k, '' as v where 1=0")
        out = engine.query(
            f"copy into ct from '{src}' "
            "file_format = (type = 'csv' skip_header = 1)"
        )
        assert out.collect()[0]["rows_loaded"] == 2
        assert _rows(engine.query("select * from ct"), "k", "v") == [
            (1, "a"),
            (2, "b"),
        ]

    def test_copy_unload_then_reload_parquet_roundtrip(
        self, spark, engine, tmp_path
    ):
        engine.query(
            "create table src_t as select explode(sequence(1, 25)) as k"
        )
        out_dir = tmp_path / "unloaded"
        n = engine.query(
            f"copy into '{out_dir}' from src_t "
            "file_format = (type = 'parquet')"
        ).collect()[0]["rows_unloaded"]
        assert n == 25
        engine.query("create table dst_t as select * from src_t where 1=0")
        loaded = engine.query(
            f"copy into dst_t from '{out_dir}' "
            "file_format = (type = 'parquet')"
        ).collect()[0]["rows_loaded"]
        assert loaded == 25
        assert (
            engine.query("select sum(k)::bigint as s from dst_t").collect()[0]["s"]
            == 325
        )

    def test_copy_rejects_unknown_format(self, spark, engine, tmp_path):
        engine.query("create table cf as select 1 as k")
        with pytest.raises(ValueError, match="FILE_FORMAT"):
            engine.query(
                f"copy into cf from '{tmp_path}' file_format = (type = 'avro')"
            )


class TestAlterAndLike:
    def test_add_column_metadata_only_then_writes_fill_it(self, spark, engine):
        import os

        engine.query("create table at1 as select explode(sequence(1, 50)) as k")
        files_before = sorted(
            os.listdir(engine.store.data_path("at1"))
        )
        inodes_before = {
            f: os.stat(os.path.join(engine.store.data_path("at1"), f)).st_ino
            for f in files_before
            if f.endswith(".parquet")
        }
        out = engine.query("alter table at1 add column note varchar")
        assert out.collect()[0]["columns_added"] == 1
        # metadata-only: the new version's data files are the same inodes
        inodes_after = {
            f: os.stat(os.path.join(engine.store.data_path("at1"), f)).st_ino
            for f in os.listdir(engine.store.data_path("at1"))
            if f.endswith(".parquet")
        }
        assert inodes_after == inodes_before
        # surfaces as typed NULLs
        rows = engine.query("select k, note from at1 where k <= 2").collect()
        assert all(r["note"] is None for r in rows)
        # a write fills it; existing rows keep NULL
        engine.query("update at1 set note = 'big' where k > 45")
        got = {
            r["k"]: r["note"]
            for r in engine.query("select * from at1").collect()
        }
        assert got[50] == "big" and got[1] is None
        # duplicate add refuses
        with pytest.raises(ValueError, match="already exists"):
            engine.query("alter table at1 add column note varchar")

    def test_add_column_snowflake_type_mapping(self, spark, engine):
        engine.query("create table at2 as select 1 as k")
        engine.query("alter table at2 add column amt number(10,2)")
        types = {
            r["name"]: r["type"]
            for r in engine.query("describe table at2").collect()
        }
        assert types["amt"] == "decimal(10,2)"

    def test_rename_table_carries_history(self, spark, engine):
        engine.query("create table rn1 as select 1 as k")
        engine.query("delete from rn1 where k = 1")
        engine.query("alter table rn1 rename to rn2")
        assert not engine.store.exists("rn1")
        ops = [r["op"] for r in engine.query("describe history rn2").collect()]
        assert "delete" in ops
        assert engine.query("select count(*) as n from rn2").collect()[0]["n"] == 0

    def test_create_table_like(self, spark, engine):
        engine.query(
            "create table tpl as select 1::bigint as k, 'x' as s, 2.5 as f"
        )
        engine.query("create table cpy like tpl")
        assert engine.query("select count(*) as n from cpy").collect()[0]["n"] == 0
        t_tpl = {
            r["name"]: r["type"]
            for r in engine.query("describe table tpl").collect()
        }
        t_cpy = {
            r["name"]: r["type"]
            for r in engine.query("describe table cpy").collect()
        }
        assert t_tpl == t_cpy
        with pytest.raises(ValueError, match="already exists"):
            engine.query("create table cpy like tpl")


class TestDropAndTransactions:
    def test_drop_table_and_if_exists(self, spark, engine):
        engine.query("create table dr as select 1 as k")
        assert engine.query("drop table dr").collect()[0]["tables_dropped"] == 1
        assert not engine.store.exists("dr")
        assert (
            engine.query("drop table if exists dr").collect()[0][
                "tables_dropped"
            ]
            == 0
        )
        with pytest.raises(FileNotFoundError):
            engine.query("drop table dr")

    def test_transactional_script_rolls_back_on_failure(self, spark, engine):
        engine.query("create table base as select 10 as k")
        with pytest.raises(Exception):
            engine.execute_script(
                """
                create table scratch as select 1 as k;
                update base set k = 99;
                insert into base (k) select not_a_column from base;
                """,
                transaction=True,
            )
        # created table dropped, changed table restored to pre-script state
        assert not engine.store.exists("scratch")
        assert engine.query("select k from base").collect()[0]["k"] == 10
        # the rollback is history-visible (restore commit)
        ops = [r["op"] for r in engine.query("describe history base").collect()]
        assert any(op.startswith("restore") for op in ops)

    def test_transactional_script_rolls_back_drop_table(self, spark, engine):
        """ADVICE r7 #2: a DROP TABLE mid-script must come back on
        rollback (drops are deferred to a trash area until commit)."""
        engine.query("create table keepme as select 7 as k")
        with pytest.raises(Exception):
            engine.execute_script(
                """
                drop table keepme;
                select not_a_column from nowhere;
                """,
                transaction=True,
            )
        assert engine.store.exists("keepme")
        assert engine.query("select k from keepme").collect()[0]["k"] == 7

    def test_transactional_drop_then_recreate_rolls_back_to_original(
        self, spark, engine
    ):
        engine.query("create table swapd as select 1 as k")
        with pytest.raises(Exception):
            engine.execute_script(
                """
                drop table swapd;
                create table swapd as select 2 as k;
                select boom from nowhere;
                """,
                transaction=True,
            )
        # the ORIGINAL content is back, not the mid-script re-creation
        assert engine.query("select k from swapd").collect()[0]["k"] == 1

    def test_transactional_drop_commits_for_real(self, spark, engine):
        engine.query("create table goner as select 1 as k")
        engine.execute_script(
            "drop table goner; create table stays as select 2 as k;",
            transaction=True,
        )
        assert not engine.store.exists("goner")
        assert engine.store.exists("stays")
        # trash area cleaned up on commit
        import os

        assert not os.path.isdir(os.path.join(engine.store.root, "_tx_trash"))

    def test_transactional_create_drop_same_table_rolls_back_clean(
        self, spark, engine
    ):
        """A table CREATED then DROPPED inside the failing script must
        stay gone after rollback (trash restore + created-set drop)."""
        with pytest.raises(Exception):
            engine.execute_script(
                """
                create table ephem as select 1 as k;
                drop table ephem;
                select boom from nowhere;
                """,
                transaction=True,
            )
        assert not engine.store.exists("ephem")

    def test_transactional_script_commits_on_success(self, spark, engine):
        engine.query("create table okb as select 1 as k")
        results = engine.execute_script(
            """
            update okb set k = 2;
            create table okc as select 3 as k;
            """,
            transaction=True,
        )
        assert len(results) == 2
        assert engine.query("select k from okb").collect()[0]["k"] == 2
        assert engine.store.exists("okc")

    def test_transactional_script_refuses_vacuum(self, spark, engine):
        """VERDICT r8 #7: a VACUUM mid-script can destroy the version
        snapshots rollback restores from — refuse UP FRONT, before any
        statement runs."""
        engine.query("create table vt as select 1 as k")
        with pytest.raises(ValueError, match="transactional"):
            engine.execute_script(
                """
                update vt set k = 2;
                vacuum vt;
                """,
                transaction=True,
            )
        # nothing ran: the update never happened
        assert engine.query("select k from vt").collect()[0]["k"] == 1
        with pytest.raises(ValueError, match="transactional"):
            engine.execute_script("optimize vt", transaction=True)
        # non-transactional scripts still allow vacuum
        engine.execute_script("update vt set k = 2; vacuum vt;")
        assert engine.query("select k from vt").collect()[0]["k"] == 2

    def test_sequential_transactions_do_not_clobber_trash(
        self, spark, engine
    ):
        """ADVICE r8 #4: the trash dir is unique per transaction, so a
        later transactional script cannot delete an earlier one's
        restore targets; the deferred-drop state is always disarmed on
        exit (plain drop() afterwards deletes for real)."""
        engine.query("create table t1 as select 1 as k")
        engine.query("create table t2 as select 2 as k")
        with pytest.raises(Exception):
            engine.execute_script(
                "drop table t1; select boom from nowhere;", transaction=True
            )
        assert engine.store.exists("t1")
        engine.execute_script("drop table t2;", transaction=True)
        assert not engine.store.exists("t2")
        # state disarmed: a plain drop now deletes immediately (no trash
        # dirs left behind in the store root)
        import os

        engine.query("drop table t1")
        assert not engine.store.exists("t1")
        leftovers = [
            e
            for e in os.listdir(engine.store.root)
            if e.startswith("_tx_trash")
        ]
        assert leftovers == []

    def test_defer_drops_rearm_raises(self, spark, engine):
        engine.store.defer_drops()
        with pytest.raises(RuntimeError, match="already active"):
            engine.store.defer_drops()
        engine.store.commit_deferred_drops()
        # after disarm, arming again is fine
        engine.store.defer_drops()
        engine.store.commit_deferred_drops()
