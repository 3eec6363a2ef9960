"""Model abstraction: named transformations with refs, config and vars.

Reproduces the dbt semantics the reference relies on (SURVEY.md §3.1):
- a model is SQL (Jinja-lite template) or a Python builder function;
- ``ref('name')`` / ``ref('pkg','name')`` declare DAG edges and resolve
  to the referenced model's output (accounts_load.sql:16,25);
- ``-- depends_on:`` comments force edges for refs hidden inside
  materialization logic (accounts_load.sql:1-2, README.md:75);
- ``var('key', default)`` reads run vars (dbt_project.yml:23-26);
- ``is_incremental()`` gates the incremental filters
  (transactions_daily.sql:16-21, accounts_load.sql:19-30);
- ``this`` names the model's own target relation.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

_REF_RE = re.compile(r"\{\{\s*ref\(\s*'(?:[^']*'\s*,\s*')?([^']+)'\s*\)\s*\}\}")
_THIS_RE = re.compile(r"\{\{\s*this\s*\}\}")
_VAR_RE = re.compile(
    r"\{\{\s*var\(\s*'([^']+)'\s*(?:,\s*('[^']*'|[^)]+))?\)\s*\}\}"
)
_DEPENDS_RE = re.compile(r"--\s*depends_on:\s*\{\{\s*ref\(\s*'(?:[^']*'\s*,\s*')?([^']+)'\s*\)\s*\}\}")


@dataclass
class Model:
    name: str
    sql: str | None = None
    builder: Callable[["Context"], DataFrame] | None = None
    config: dict[str, Any] = field(default_factory=dict)
    depends_on: list[str] = field(default_factory=list)

    def __post_init__(self):
        if (self.sql is None) == (self.builder is None):
            raise ValueError(f"model {self.name}: exactly one of sql/builder")

    @property
    def refs(self) -> list[str]:
        found = list(self.depends_on)
        if self.sql:
            found += _DEPENDS_RE.findall(self.sql)
            found += _REF_RE.findall(self.sql)
        seen: list[str] = []
        for r in found:
            if r not in seen and r != self.name:
                seen.append(r)
        return seen

    def compile_sql(self, ctx: "Context") -> str:
        """Jinja-lite: resolve ref()/this/var() to concrete names/values."""
        assert self.sql is not None
        sql = _DEPENDS_RE.sub("", self.sql)
        sql = _REF_RE.sub(lambda m: ctx.relation_for(m.group(1)), sql)
        sql = _THIS_RE.sub(ctx.this_view(), sql)

        def sub_var(m):
            key, default = m.group(1), m.group(2)
            val = ctx.var(key, None)
            if val is None and default is not None:
                return default.strip().strip("'")
            return str(val)

        return _VAR_RE.sub(sub_var, sql)


class Context:
    """Per-model execution context handed to builders / SQL compilation."""

    def __init__(self, engine, model: Model):
        self.engine = engine
        self.model = model
        self.spark = engine.spark

    def ref(self, name: str) -> DataFrame:
        return self.engine.ref(name)

    def relation_for(self, name: str) -> str:
        return self.engine.view_name(name)

    def this_view(self) -> str:
        return self.engine.view_name(self.model.name)

    def var(self, key: str, default=None):
        return self.engine.vars.get(key, default)

    def is_incremental(self) -> bool:
        cfg = self.model.config
        mat = cfg.get("materialized")
        if mat not in ("incremental", "tracking_table"):
            return False
        if self.engine.full_refresh:
            return False
        return self.engine.existing(self.model.name) is not None
