"""Property test for the DML statement engine (engine/dml.py): a random
sequence of INSERT / UPDATE / DELETE / MERGE statements applied through
engine.query must leave the table equal to a pure-Python replay of the
same statements (ordered-multiset comparison — duplicates and multi-row
key matches included)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbt_omnata_push_spark.engine.dag import Engine
from dbt_omnata_push_spark.engine.store import TableStore

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_row = st.tuples(
    st.integers(min_value=0, max_value=12),  # k — small domain forces matches
    st.integers(min_value=-50, max_value=50),  # v
    st.sampled_from(["a", "b", "c"]),  # s
)

_op = st.one_of(
    st.tuples(st.just("insert"), st.lists(_row, min_size=1, max_size=5)),
    st.tuples(
        st.just("update"),
        st.integers(min_value=2, max_value=4),  # modulus
        st.integers(min_value=0, max_value=3),  # remainder
        st.integers(min_value=-5, max_value=5),  # delta
    ),
    st.tuples(
        st.just("delete"),
        st.integers(min_value=2, max_value=4),
        st.integers(min_value=0, max_value=3),
    ),
    st.tuples(st.just("merge"), st.lists(_row, min_size=1, max_size=4)),
)


def _apply_model(model: list[dict], op) -> None:
    kind = op[0]
    if kind == "insert":
        model.extend({"k": k, "v": v, "s": s} for k, v, s in op[1])
    elif kind == "update":
        _, m, r, d = op
        for row in model:
            if row["k"] % m == r:
                row["v"] += d
    elif kind == "delete":
        _, m, r = op
        model[:] = [row for row in model if row["k"] % m != r]
    elif kind == "merge":
        # ON t.k = s.k; matched and src.v < 0 -> delete; other matches
        # -> update v/s from src (src keys made unique so the result is
        # deterministic); not matched -> insert.
        src = {}
        for k, v, s in op[1]:
            src[k] = (v, s)  # last write wins = unique keys
        present = {row["k"] for row in model}
        model[:] = [
            row for row in model if not (row["k"] in src and src[row["k"]][0] < 0)
        ]
        for row in model:
            if row["k"] in src:
                row["v"], row["s"] = src[row["k"]]
        for k, (v, s) in sorted(src.items()):
            if k not in present:
                model.append({"k": k, "v": v, "s": s})


def _apply_engine(engine, op) -> None:
    kind = op[0]
    if kind == "insert":
        values = ", ".join(f"({k}, {v}, '{s}')" for k, v, s in op[1])
        engine.query(f"insert into t (k, v, s) values {values}")
    elif kind == "update":
        _, m, r, d = op
        engine.query(f"update t set v = v + {d} where k % {m} = {r}")
    elif kind == "delete":
        _, m, r = op
        engine.query(f"delete from t where k % {m} = {r}")
    elif kind == "merge":
        src = {}
        for k, v, s in op[1]:
            src[k] = (v, s)
        union = " union all ".join(
            f"select {k} as k, {v} as v, '{s}' as s"
            for k, (v, s) in sorted(src.items())
        )
        engine.query(
            f"merge into t using ({union}) src on t.k = src.k "
            "when matched and src.v < 0 then delete "
            "when matched then update set v = src.v, s = src.s "
            "when not matched then insert (k, v, s) values (src.k, src.v, src.s)"
        )


@pytest.fixture()
def mk_engine(spark, tmp_path_factory):
    def make():
        root = tmp_path_factory.mktemp("dmlprop")
        return Engine(spark, TableStore(str(root / "s")))

    return make


@settings(**_SETTINGS)
@given(ops=st.lists(_op, min_size=1, max_size=5))
def test_dml_sequence_matches_python_replay(spark, mk_engine, ops):
    engine = mk_engine()
    engine.query("create table t as select 0 as k, 0 as v, 'a' as s where 1=0")
    model: list[dict] = []
    for op in ops:
        _apply_engine(engine, op)
        _apply_model(model, op)
    got = sorted(
        (r["k"], r["v"], r["s"])
        for r in engine.query("select * from t").collect()
    )
    want = sorted((row["k"], row["v"], row["s"]) for row in model)
    assert got == want
