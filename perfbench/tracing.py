"""Spans around the engine's layer boundaries, recorded from outside it.

The traced pass wraps public functions of the package by replacing module
and class attributes in this process; the package itself is unchanged.
A span is (name, start, end, parent, op id). Spans stay in memory and are
written out once, at exit. Only ops marked as traced record spans.

Layers and the spans that stand for them:

- ``dag.query`` / ``dag.run``: ``Engine.query`` and ``Engine.run``;
- ``sqlfront.transpile``: ``sqlfront.transpile`` (also the name ``dml``
  imported it under);
- ``dml.<kind>``: ``dml.execute``;
- ``store.<method>``: the public ``TableStore`` methods below;
- ``materialize.<kind>``: from ``Engine.pre_hooks`` to ``post_hooks``;
- ``spark.collect``: executing a frame the op got back (benchmark side).

A span's self time is its duration minus the time its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

STORE_METHODS = (
    "read",
    "append",
    "merge_upsert",
    "update_from",
    "overwrite",
    "delete_where",
)


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float, int, int]] = []
        self._stack: list[tuple[str, float, int]] = []
        self.op_id: int | None = None  # None: the current op is untraced

    # -- recording ------------------------------------------------------
    def open(self, name: str) -> None:
        parent = self._stack[-1][2] if self._stack else -1
        self.spans.append((name, 0.0, 0.0, parent, self.op_id))
        self._stack.append((name, time.perf_counter(), len(self.spans) - 1))

    def close(self, name: str) -> None:
        while self._stack:
            top, t0, idx = self._stack.pop()
            _, _, _, parent, op = self.spans[idx]
            self.spans[idx] = (top, t0, time.perf_counter(), parent, op)
            if top == name:
                return

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block, recorded only inside a traced op."""
        if self.op_id is None:
            yield
            return
        self.open(name)
        try:
            yield
        finally:
            self.close(name)

    # -- wrapping -------------------------------------------------------
    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``name`` is a
        span name or a function of the call's arguments giving one."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.op_id is None:
                return fn(*args, **kwargs)
            span = name(*args, **kwargs) if callable(name) else name
            tracer.open(span)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        setattr(owner, attr, wrapper)

    def install(self, engine) -> None:
        from dbt_omnata_push_spark.engine import dag, dml, sqlfront, store

        self.wrap(dag.Engine, "query", "dag.query")
        self.wrap(dag.Engine, "run", "dag.run")
        self.wrap(sqlfront, "transpile", "sqlfront.transpile")
        self.wrap(dml, "transpile", "sqlfront.transpile")
        self.wrap(dml, "execute", lambda engine, sql, kind: f"dml.{kind}")
        for m in STORE_METHODS:
            self.wrap(store.TableStore, m, f"store.{m}")
        self.add_hooks(engine)

    def add_hooks(self, engine) -> None:
        def kind(model):
            return f"materialize.{model.config.get('materialized', 'view')}"

        def pre(model):
            if self.op_id is not None:
                self.open(kind(model))

        def post(model, result):
            if self.op_id is not None:
                self.close(kind(model))

        engine.pre_hooks.append(pre)
        engine.post_hooks.append(post)

    # -- analysis -------------------------------------------------------
    def per_op(self) -> dict[int, dict[str, dict[str, float]]]:
        """op id -> span name -> {"self_ms", "total_ms", "calls"}."""
        child_ms = [0.0] * len(self.spans)
        for name, t0, t1, parent, op in self.spans:
            if parent >= 0:
                child_ms[parent] += (t1 - t0) * 1e3
        out: dict[int, dict[str, dict[str, float]]] = {}
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if op is None:
                continue
            d = out.setdefault(op, {}).setdefault(
                name, {"self_ms": 0.0, "total_ms": 0.0, "calls": 0}
            )
            dur = (t1 - t0) * 1e3
            d["self_ms"] += dur - child_ms[i]
            d["total_ms"] += dur
            d["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": t0, "end": t1,
                         "parent": parent, "op": op}
                    )
                    + "\n"
                )
