"""r16: DML summary counts ride the statement's one materializing
action via Observation (no separate count jobs). These tests pin the
reported counts — including the zero-row edges, where the observed
metric must come back 0, not null/hang — and the fuzzy-join hashed
blocking equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.store import TableStore


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, TableStore(str(tmp_path / "store")))


def _one(df):
    return df.collect()[0]


def test_insert_count_rides_write(eng):
    eng.query("create table t as select 1 as v")
    r = _one(eng.query("insert into t select 2"))
    assert r.rows_inserted == 1
    v = eng.store.current_version("t")
    r = _one(eng.query("insert into t select v + 10 from t where v < 0"))
    assert r.rows_inserted == 0  # empty write must observe 0
    assert eng.store.current_version("t") == v  # and commit no version
    assert eng.query("select count(*) as n from t").collect()[0].n == 2


def test_ctas_count_rides_write(eng):
    r = _one(
        eng.query(
            "create table c as select * from (values (1), (2), (3)) v(x)"
        )
    )
    assert r.rows_inserted == 3
    r = _one(
        eng.query(
            "create or replace table c as select 1 as x where false"
        )
    )
    assert r.rows_inserted == 0


def test_update_delete_merge_counts(eng):
    eng.query(
        "create table t as select * from (values (1, 'a'), (2, 'b'), "
        "(3, 'c')) v(id, s)"
    )
    eng.query("create table src as select * from (values (2), (9)) v(id)")
    # general (FROM) update path
    r = _one(eng.query("update t set s = 'x' from src where t.id = src.id"))
    assert r.rows_updated == 1
    # USING delete path
    r = _one(eng.query("delete from t using src where t.id = src.id"))
    assert r.rows_deleted == 1
    # merge: update + insert branches
    r = _one(
        eng.query(
            "merge into t using src on t.id = src.id "
            "when matched then update set s = 'm' "
            "when not matched then insert (id, s) values (src.id, 'n')"
        )
    )
    assert (r.rows_updated, r.rows_inserted, r.rows_deleted) == (0, 2, 0)
    rows = {r.id: r.s for r in eng.query("select * from t").collect()}
    assert rows == {1: "a", 3: "c", 2: "n", 9: "n"}


def test_delete_where_count_rides_checkpoint(eng):
    eng.query(
        "create table d as select * from (values (1), (2), (3), (4)) v(x)"
    )
    r = _one(eng.query("delete from d where x % 2 = 0"))
    assert r.rows_deleted == 2
    r = _one(eng.query("delete from d where x > 100"))
    assert r.rows_deleted == 0
    assert eng.query("select count(*) as n from d").collect()[0].n == 2


def test_fuzzy_hashed_blocking_matches_bruteforce(spark):
    """r16: the candidate join keys on xxhash64(variant) — collisions
    only add candidates; the verified pair set must equal all-pairs."""
    from dbt_omnata_push_spark.ops.fuzzyjoin import fuzzy_self_pairs

    rows = [
        (1, "martha"), (2, "marhta"), (3, "marta"), (4, "bob"),
        (5, "bobb"), (6, "zzz"), (7, "martha"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_pairs(df, "id", "s", max_dist=2).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (x[0], y[0], lev(x[1], y[1]))
        for x, y in itertools.combinations(rows, 2)
        if lev(x[1], y[1]) <= 2
    }
    assert got == want
