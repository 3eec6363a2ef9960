"""Engine: model registry, DAG toposort, materialization dispatch, hooks.

The dbt-runtime replacement (SURVEY.md §3.1 'Spark engine equivalent'):
parse -> DAG -> compile -> execute-in-topological-order, with pre/post
hooks (omnata_push_materialization.sql:2,17) and per-model run results.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .model import Context, Model
from .session import local_frame
from .store import TableStore


def _sub_ident_outside_quotes(sql: str, ident: str, replacement: str) -> str:
    """Replace whole-word occurrences of ``ident`` with ``replacement``,
    skipping single-quoted string literals (a masking-policy body like
    ``'value hidden'`` must not have an embedded parameter name
    rewritten)."""
    import re as _re

    rx = _re.compile(rf"(?i)\b{_re.escape(ident)}\b")
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # escaped ''
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        else:
            m = rx.match(sql, i)
            if m:
                out.append(replacement)
                i = m.end()
            else:
                out.append(c)
                i += 1
    return "".join(out)


# Keywords that can directly follow a relation in a FROM clause — an
# identifier in alias position matching one of these is a clause, not
# an alias, and an identifier in RELATION position matching one is a
# syntax form (VALUES, LATERAL ...) rather than a named table.
_REL_STOP_KW = frozenset(
    "where group order limit qualify having on using join inner left "
    "right full cross natural asof lateral window connect pivot "
    "unpivot fetch sample tablesample at before union intersect "
    "except start when match_condition match_recognize semi anti "
    "values for as".split()
)
_REL_IDENT_RE = re.compile(r'("(?:[^"]|"")+"|[A-Za-z_]\w*)')


def _sql_table_refs(s: str) -> tuple[set[str], bool]:
    """Every relation name in table position of ``s`` (string literals
    and comments must already be stripped), as lowercased unquoted tail
    identifiers, plus a flag for table-position constructs the scan
    cannot NAME (table functions, unparsable relations). Handles comma
    joins (``FROM a, b``), quoted identifiers, dotted names, aliases,
    and subqueries (their inner FROM/JOIN get their own scan); WITH
    aliases are excluded. Callers reasoning about base-table versions
    must treat the flag as "cannot account for every base" (ADVICE r13
    #1 — a missed base must disable version-gated skipping, never
    silently enable it)."""
    refs: set[str] = set()
    unknown = False
    ctes = {
        m.group(1).strip('"').lower()
        for m in re.finditer(
            r'(?is)(?:\bwith\s+|,\s*)("(?:[^"]|"")+"|[A-Za-z_]\w*)'
            r"\s+as\s*\(",
            s,
        )
    }
    n = len(s)

    def skip_ws(j: int) -> int:
        while j < n and s[j].isspace():
            j += 1
        return j

    def skip_parens(j: int) -> int:
        depth = 0
        while j < n:
            if s[j] == "(":
                depth += 1
            elif s[j] == ")":
                depth -= 1
                if depth == 0:
                    return j + 1
            j += 1
        return n

    for m in re.finditer(r"(?is)\b(from|join)\b", s):
        kw = m.group(1).lower()
        j = m.end()
        while True:  # one relation + comma-continuations (FROM only)
            j = skip_ws(j)
            if j >= n:
                break
            if s[j] == "(":
                # subquery / parenthesized join: its inner FROM/JOIN
                # keywords get their own finditer scan
                j = skip_parens(j)
            else:
                im = _REL_IDENT_RE.match(s, j)
                if not im:
                    unknown = True  # FROM <something unparsable>
                    break
                name, j = im.group(1), im.end()
                lw = name.strip('"').lower()
                if not name.startswith('"') and lw in _REL_STOP_KW:
                    # Only VALUES / LATERAL are genuine relation-
                    # position syntax forms; any OTHER stop keyword
                    # here means the scan lost track of the clause —
                    # a base may be missed, so flag it rather than
                    # silently enabling version-gated skip (ADVICE
                    # r14 #2). Quoted identifiers are never keywords
                    # and fall through as real relation names.
                    if lw not in ("values", "lateral"):
                        unknown = True
                    break
                while True:  # dotted name: db.schema.table
                    k = skip_ws(j)
                    if k < n and s[k] == ".":
                        im = _REL_IDENT_RE.match(s, skip_ws(k + 1))
                        if not im:
                            unknown = True
                            break
                        name, j = im.group(1), im.end()
                    else:
                        break
                k = skip_ws(j)
                if k < n and s[k] == "(":
                    # identifier called as a function in table position
                    # (TABLE(...), GENERATOR(...), FLATTEN(...)): not a
                    # nameable, versionable relation
                    j = skip_parens(k)
                    unknown = True
                else:
                    refs.add(name.strip('"').lower())
            # optional [AS] alias (never a clause keyword)
            while True:
                j = skip_ws(j)
                am = _REL_IDENT_RE.match(s, j)
                if not am:
                    break
                word = am.group(1).strip('"').lower()
                if word == "as":
                    j = am.end()
                    continue
                if word in _REL_STOP_KW:
                    break
                j = am.end()
                break
            j = skip_ws(j)
            if kw == "from" and j < n and s[j] == ",":
                j += 1
                continue
            break
    return refs - ctes, unknown


@dataclass
class RunResult:
    model: str
    status: str  # success | skipped | error
    rows_affected: int = 0
    message: str = ""
    extra: dict = field(default_factory=dict)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        vars: dict[str, Any] | None = None,
        full_refresh: bool = False,
    ):
        self.spark = spark
        self.store = store
        self.vars = vars or {}
        self.full_refresh = full_refresh
        self.models: dict[str, Model] = {}
        self.seeds: dict[str, DataFrame] = {}
        self.pre_hooks: list[Callable[[Model], None]] = []
        self.post_hooks: list[Callable[[Model, RunResult], None]] = []
        self._view_cache: dict[str, DataFrame] = {}
        # names whose fresh output exists only in _view_cache (view
        # materializations): ref() prefers these over a stale store
        # table of the same name (r13, r12 advice)
        # name -> same-named store table's version at view-publish
        # time (None = none existed); see _publish / ref
        self._nonstore_published: dict[str, int | None] = {}
        # seq name -> ("per_row", refs_per_row) | ("static", total_sites)
        self._sequence_draws: dict[str, tuple[str, int]] = {}
        # Snowflake session variables (r9): SET x = expr stores the
        # VALUE; $x references substitute outside string literals
        self.session_vars: dict[str, Any] = {}
        # stream-name -> version read, pending advancement on the
        # consuming model's successful materialization (r9)
        self._stream_ref_reads: dict[str, int] = {}
        # _register_views construction cache (r15): frames keyed on the
        # state they derive from, so per-statement registration is a
        # catalog-map update rather than a rebuild. See _register_views.
        self._reg_cache: dict = {}
        # Names registered as temp views OUTSIDE _register_views since
        # its last full pass (AT/CHANGES/ASOF/MR/DML shadow views, CTE
        # materializations). When none of them can shadow an engine-
        # owned name and no frame changed, the catalog is already
        # exactly what a re-registration pass would produce and the
        # pass skips its ~O(#views) createOrReplaceTempView calls
        # (r15, guide §1.2 step 1).
        self._shadowed: set[str] = set()
        self._reg_catalog_ok = False
        # What this engine last wrote into the session catalog, per
        # lowered view name (r16): the flush skips names whose frame
        # object is already the registered one and that nothing
        # shadowed — per-name incremental registration.
        self._reg_written: dict[str, DataFrame] = {}
        # The statement text the active query() is executing, if any.
        # _register_views uses it to skip rebuilding STREAM frames the
        # statement cannot read (construction runs CDC version diffs —
        # the most expensive frame build in the pass).
        self._current_stmt: str | None = None

    # -- registration -----------------------------------------------------
    def register(self, model: Model) -> Model:
        self.models[model.name] = model
        return model

    def seed(self, name: str, df: DataFrame) -> None:
        """dbt seed: CSV/DataFrame -> table (integration_tests/README.md:5)."""
        self.seeds[name] = df
        self.store.overwrite(self.spark, name, df)

    def seed_csv(
        self, name: str, path: str, column_types: dict | None = None
    ) -> DataFrame:
        """dbt seed from a CSV FILE (the reference ships its seeds as
        integration_tests/data/*.csv): header row + agate-style type
        inference (Spark's inferSchema), optional dbt ``column_types``
        overrides. A UTF-8 BOM on the first header cell is stripped —
        the reference's own accounts.csv carries one."""
        from pyspark.sql import functions as F

        df = (
            self.spark.read.option("header", True)
            .option("inferSchema", True)
            .option("quote", '"')
            .option("escape", '"')
            .csv(path)
        )
        first = df.columns[0]
        if first.startswith("﻿"):
            df = df.withColumnRenamed(first, first.lstrip("﻿"))
        for c, t in (column_types or {}).items():
            df = df.withColumn(c, F.col(c).cast(t))
        self.seed(name, df)
        return df

    def source_freshness(
        self,
        name: str,
        loaded_at_col: str,
        warn_after_s: float,
        error_after_s: float,
        now_epoch: float | None = None,
    ) -> dict:
        """dbt source freshness: age of max(loaded_at) against the
        warn/error ladder. Returns {max_loaded_at, age_s, status} with
        status pass|warn|error; an empty source is an error (dbt's
        "could not compute freshness" case)."""
        import time

        from pyspark.sql import functions as F

        mx = self.ref(name).agg(F.max(loaded_at_col)).collect()[0][0]
        if mx is None:
            return {"max_loaded_at": None, "age_s": None, "status": "error"}
        now = time.time() if now_epoch is None else now_epoch
        age = now - mx.timestamp()
        status = (
            "pass"
            if age <= warn_after_s
            else ("warn" if age <= error_after_s else "error")
        )
        return {"max_loaded_at": mx, "age_s": age, "status": status}

    # -- name resolution --------------------------------------------------
    def view_name(self, name: str) -> str:
        return f"model__{name}"

    def existing(self, name: str) -> DataFrame | None:
        if self.store.exists(name):
            return self.store.read(self.spark, name)
        return None

    def ref(self, name: str) -> DataFrame:
        """Resolve a ref: materialized output > seed > stream >
        registered view. A STREAM ref (r9) is the dbt-on-Snowflake
        incremental idiom — ``ref('my_stream')`` yields the
        unconsumed CDC delta; when the referencing model materializes
        successfully, the offset advances (run() calls
        _advance_streams_for), so each delta is processed exactly
        once across runs."""
        if name in self._nonstore_published and name in self._view_cache:
            # This run built the name as a VIEW materialization: the
            # cache is the fresh output, and any same-named store table
            # is stale residue (materialization changed off table
            # without dropping — r13, r12 advice). Store-backed
            # publishes clear the mark — and (r14, ADVICE r13 #5) a
            # store table written OUT-OF-BAND since the publish
            # (ad-hoc CTAS/COPY via engine.query) un-pins it too: the
            # version recorded at publish time no longer matches.
            cur_v = (
                self.store.current_version(name)
                if self.store.exists(name)
                else None
            )
            if cur_v == self._nonstore_published[name]:
                return self._view_cache[name]
            self._nonstore_published.pop(name, None)
            self._view_cache.pop(name, None)
        if self.store.exists(name):
            # Store tables resolve FRESH, never from _view_cache (r12):
            # the cache pins the DataFrame a previous run's build_df
            # published, so a re-seed or DML between runs would be
            # invisible to later model builds (an incremental model
            # silently missing its new source batch). A version-pointer
            # read is plan-time cheap; the cache stays authoritative
            # only for ephemeral outputs that live nowhere else.
            return self._policy_masked(name, self.store.read(self.spark, name))
        if name in self.seeds:
            return self.seeds[name]
        if name in self._view_cache:
            return self._view_cache[name]
        if name.lower() in self.store.streams():
            df, read_v = self.stream_frame(name)
            self._stream_ref_reads[name.lower()] = read_v
            return df
        raise KeyError(f"unresolvable ref: {name}")

    def _policy_masked(self, name: str, df: DataFrame) -> DataFrame:
        """Apply the table's column masking policies (r8, Snowflake
        governance parity) for the SESSION role (``vars['role']``,
        default PUBLIC). Enforcement lives at the engine's read
        surface — ad-hoc SQL views and model refs — while the storage
        layer stays raw, like Snowflake's micro-partitions vs. query
        results. DML internals (UPDATE/MERGE row matching) read
        storage directly, a documented divergence: Snowflake masks
        those reads per-role too, but rewriting matched rows through a
        mask would corrupt the store.

        Row access policies (r9) apply FIRST, as in Snowflake: the
        row filter decides visibility on RAW column values, then
        column masks rewrite what survives — so a policy keyed on a
        masked column still sees the true value."""
        ra = self.store.row_access_for(name)
        mask = self.store.masking_for(name)
        if not ra and not mask:
            return df
        import re as _re

        from pyspark.sql import functions as F

        from .sqlfront import transpile

        pols = self.store.policies()
        role = str(self.vars.get("role", "PUBLIC"))
        if ra:
            pol = pols.get(ra["policy"])
            if pol is None:
                # Fail CLOSED: the table's metadata says it is
                # row-access protected, but the policy body cannot be
                # loaded (corrupt/missing policy store). Returning raw
                # rows here would silently bypass governance.
                raise RuntimeError(
                    f"table '{name}' is protected by row access policy "
                    f"'{ra['policy']}' which cannot be loaded from the "
                    "policy store; refusing to serve unfiltered rows"
                )
            expr = transpile(pol["body"])
            expr = _re.sub(
                r"(?i)\bcurrent_role\s*\(\s*\)",
                "'" + role.replace("'", "''") + "'",
                expr,
            )
            # two-phase substitution: a later parameter's name may
            # appear inside an earlier parameter's bound column
            for i, (pname, _ptype) in enumerate(pol["params"]):
                expr = _sub_ident_outside_quotes(
                    expr, pname, f"__RA_P{i}__"
                )
            for i, col in enumerate(ra["columns"]):
                expr = expr.replace(f"__RA_P{i}__", f"`{col}`")
            # rows are visible only when the policy returns TRUE
            # (FALSE and NULL both hide, SQL filter semantics)
            df = df.filter(F.expr(expr))
        for col, pname in mask.items():
            if col not in df.columns:
                continue
            pol = pols.get(pname)
            if pol is None:
                # Same fail-closed rule for column masks: a protected
                # column must never fall through to raw values.
                raise RuntimeError(
                    f"column '{name}.{col}' is protected by masking "
                    f"policy '{pname}' which cannot be loaded from the "
                    "policy store; refusing to serve unmasked values"
                )
            expr = transpile(pol["body"])
            expr = _re.sub(
                r"(?i)\bcurrent_role\s*\(\s*\)",
                "'" + role.replace("'", "''") + "'",
                expr,
            )
            expr = _sub_ident_outside_quotes(expr, pol["param"], f"`{col}`")
            df = df.withColumn(
                col, F.expr(expr).cast(df.schema[col].dataType)
            )
        return df

    def table_changes(
        self,
        name: str,
        from_version: int,
        to_version: int,
        unique_key: str,
    ) -> DataFrame:
        """Policy-enforced CDC read (VERDICT r8 #4): the engine
        analogue of Delta's ``table_changes()``. ``store.read_changes``
        is a storage-level API (raw bytes, privileged access); this
        surface applies the table's row access policy and column masks
        to the change rows, so a non-exempt role's CDC consumer never
        sees raw PII in pre- or post-images."""
        return self._policy_masked(
            name,
            self.store.read_changes(
                self.spark, name, from_version, to_version, unique_key
            ),
        )

    def stream_frame(self, name: str) -> tuple[DataFrame, int]:
        """The current contents of a Snowflake-style STREAM (r9): the
        net CDC delta from the stream's offset to the tracked table's
        current version, rendered with METADATA$ACTION /
        METADATA$ISUPDATE and policy-governed like every engine read.
        Returns (frame, read_version) — the version a consuming DML
        must advance the offset to."""
        st = self.store.streams().get(name.lower())
        if st is None:
            raise KeyError(f"stream not found: {name}")
        from .sqlfront import snowflake_change_columns

        table = st["table"]
        cur = self.store.current_version(table)
        pk = self.store.primary_key(table)
        if not pk:
            raise ValueError(
                f"stream {name}: table '{table}' lost its primary key"
            )
        try:
            raw = self.store.read_changes(
                self.spark, table, st["offset"], cur, pk["columns"]
            )
        except ValueError as e:
            # Snowflake's "stream is stale" diagnosis (r10): the offset
            # version was vacuumed AND no manifest chain covers the
            # window, so the delta is unrecoverable — name the remedy
            # instead of surfacing read_version's generic raise.
            if st["offset"] not in self.store.versions(table):
                raise ValueError(
                    f"stream '{name}' is stale: its offset version "
                    f"{st['offset']} of '{table}' was vacuumed and no "
                    "change manifests cover the window; recreate the "
                    "stream (CREATE OR REPLACE STREAM ...) to resume "
                    "from the current version"
                ) from e
            raise
        return (
            snowflake_change_columns(self._policy_masked(table, raw)),
            cur,
        )

    def _advance_consumed_streams(self, sql: str, kind: str) -> None:
        """Snowflake stream semantics: a DML statement that reads a
        stream advances its offset when it commits (a plain SELECT
        does not). Streams referenced by name in a successful writing
        statement advance to the version their registered view read."""
        if kind not in (
            "insert",
            "insert_multi",
            "ctas",
            "merge",
            "update",
            "delete",
            "copy",
        ):
            return
        import re as _re

        from .dml import _strip_comments

        # Strip comments, then blank string literals and quoted
        # identifiers: a stream name inside a `-- comment`, a '...'
        # literal, or a "quoted ident" did not consume the stream.
        stripped = _strip_comments(sql)
        stripped = _re.sub(r"'(?:[^']|'')*'", "''", stripped)
        stripped = _re.sub(r'"(?:[^"]|"")*"', '""', stripped)
        for sname, read_v in list(
            getattr(self, "_stream_read_versions", {}).items()
        ):
            # Consumption means READING the stream as a relation, so
            # the name must sit in table position — immediately after
            # FROM / JOIN / USING (MERGE) — not anywhere a same-named
            # column or alias could appear. Missing an exotic reference
            # (comma-join) leaves the offset put: the delta re-delivers
            # (at-least-once), never silently discards.
            if _re.search(
                rf"(?i)\b(?:from|join|using)\s*\(?\s*"
                rf"{_re.escape(sname)}\b(?!\s*\.)",
                stripped,
            ):
                self.store.advance_stream(sname, read_v)

    def _publish(
        self, name: str, df: DataFrame, nonstore: bool | None = None
    ) -> None:
        # nonstore=True marks a name whose authoritative output lives
        # ONLY in the cache this run (view materialization): ref() must
        # prefer it even when a stale store table of the same name
        # still exists (model switched off table materialization
        # without dropping — r12 advice). nonstore=False (store-backed
        # materializations) clears the mark, restoring the store-first
        # rule; None (ref republishing in build_df) leaves it alone.
        self._view_cache[name] = df
        if nonstore is True:
            # record the same-named store table's version at publish
            # time (None = no such table) so ref() can detect a LATER
            # out-of-band store write over the name (ad-hoc CTAS/COPY
            # through engine.query) and stop pinning the stale view —
            # ADVICE r13 #5
            self._nonstore_published[name] = (
                self.store.current_version(name)
                if self.store.exists(name)
                else None
            )
        elif nonstore is False:
            self._nonstore_published.pop(name, None)
        df.createOrReplaceTempView(self.view_name(name))
        self._mark_shadowed(self.view_name(name))

    def _mark_shadowed(self, *names: str) -> None:
        """Record temp-view names registered outside _register_views
        (shadow views for AT/CHANGES/ASOF/MR resolution, mid-statement
        DML frames, CTE materializations). The next registration pass
        must flush if any of them collides with a name it owns."""
        for n in names:
            if n:
                self._shadowed.add(
                    n.strip('"').rsplit(".", 1)[-1].lower()
                )

    @staticmethod
    def _fstat(path: str) -> tuple | None:
        """Cache key for a metadata file: every writer goes through
        os.replace, so (mtime_ns, size, inode) changes on any update."""
        try:
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            return None

    def _register_views(self) -> None:
        """Register every seed and store table as a temp view under its
        own (unqualified) name, for ad-hoc SQL. Streams register too
        (r9), tracking the version each view read so a consuming DML
        can advance the offset.

        Still runs per statement — a prior statement may have shadowed
        a table name with an alias view (AT/CHANGES resolution), and
        re-registration is what heals that — but all frame CONSTRUCTION
        is cached on the state it derives from (r15, guide §1.2 step 1:
        remove unnecessary passes): store.read is version-keyed,
        masking keys on (policies file, role), streams on (offset, base
        version, base meta), the history views on their backing file's
        stat, and the stored-view fixpoint re-resolves only when any of
        those inputs changed. Re-registering a cached frame is a
        catalog-map update — no Spark job, no re-analysis.

        r15 second pass: even the catalog-map updates are skipped when
        NOTHING changed — registrations are deferred into ``regs`` and
        flushed only when a frame changed this pass, the catalog was
        never fully written (first pass), or an out-of-band temp view
        (_mark_shadowed: AT/CHANGES/ASOF/MR/DML shadow views, CTE
        materializations) may shadow one of the names this pass owns.
        A skipped pass leaves the catalog bit-identical to a flushed
        one by construction: same names, same cached frame objects."""
        cache = self._reg_cache
        changed = False
        regs: list[tuple[str, DataFrame]] = []
        for name in list(self.seeds):
            df = self.seeds[name]
            if cache.get(("seed", name)) is not df:
                cache[("seed", name)] = df
                changed = True
            regs.append((name, df))
        pol_state = (
            self._fstat(self.store._policies_file()),
            str(self.vars.get("role", "PUBLIC")),
        )
        if os.path.isdir(self.store.root):
            for entry in os.listdir(self.store.root):
                logical = entry.replace("__", ".")
                if self.store.exists(logical):
                    view = logical.rsplit(".", 1)[-1]
                    raw = self.store.read(self.spark, logical)
                    hit = cache.get(("table", logical))
                    if (
                        hit is not None
                        and hit[0] is raw
                        and hit[1] == pol_state
                    ):
                        masked = hit[2]
                    else:
                        masked = self._policy_masked(logical, raw)
                        cache[("table", logical)] = (raw, pol_state, masked)
                        changed = True
                    regs.append((view, masked))
        self._stream_read_versions: dict[str, int] = {}
        # Stream-frame construction runs CDC version diffs — by far the
        # most expensive frame build in this pass (r15, guide §1.2
        # step 1: don't compute what the statement throws away). When
        # the active statement's text is known, a stream whose cached
        # frame is invalid is rebuilt only if the statement — or any
        # stored view it could resolve through — can reference it
        # (substring match on lowered SQL: over-approximate, so a skip
        # is always safe). A skipped stream's stale temp view is
        # DROPPED, so a reference the gate somehow missed fails loudly
        # with an unresolved relation instead of reading a stale
        # window.
        gate_hay = None
        stmt = self._current_stmt
        if stmt is not None and self.store.streams():
            vstat0 = self._fstat(self.store._views_file())
            vh = cache.get("stream_gate_viewsql")
            if vh is None or vh[0] != vstat0:
                vh = (
                    vstat0,
                    " ".join(
                        str(v.get("sql", ""))
                        for v in self.store.views().values()
                    ).lower(),
                )
                cache["stream_gate_viewsql"] = vh
            gate_hay = stmt.lower() + " " + vh[1]
        for sname, st_meta in self.store.streams().items():
            base = st_meta.get("table", "")
            skey = (
                st_meta.get("offset"),
                base,
                self.store.current_version(base),
                self._fstat(self.store._meta_file(base)),
                pol_state,
            )
            hit = cache.get(("stream", sname))
            if hit is not None and hit[0] == skey:
                df, read_v = hit[1], hit[2]
            elif gate_hay is not None and sname not in gate_hay:
                cache.pop(("stream", sname), None)
                self._reg_written.pop(sname.lower(), None)
                try:
                    self.spark.catalog.dropTempView(sname)
                except Exception:  # noqa: BLE001 — view may not exist
                    pass
                continue
            else:
                df, read_v = self.stream_frame(sname)
                cache[("stream", sname)] = (skey, df, read_v)
                changed = True
            regs.append((sname, df))
            self._stream_read_versions[sname] = read_v
        # INFORMATION_SCHEMA.TASK_HISTORY read surface (r12): one row
        # per task execution attempt. ALWAYS registered (r13, r12
        # advice) — Snowflake returns an empty result before any task
        # has run, not a missing-view error — and under a collision-
        # proof internal name so it can never shadow a user table
        # called task_history (the TABLE(INFORMATION_SCHEMA.
        # TASK_HISTORY()) rewrite targets this name directly).
        th_stat = self._fstat(self.store._task_history_file())
        hit = cache.get("task_history")
        if hit is not None and hit[0] == th_stat:
            th_df = hit[1]
        else:
            th = self.store.task_history()
            th_df = local_frame(
                self.spark,
                [
                    (
                        r.get("name"),
                        r.get("root"),
                        r.get("run_order"),
                        r.get("state"),
                        r.get("status_detail"),
                        r.get("scheduled_time"),
                        r.get("completed_time"),
                        r.get("error"),
                    )
                    for r in th
                ],
                "name string, root string, run_order int, state string, "
                "status_detail string, scheduled_time string, "
                "completed_time string, error string",
            )
            cache["task_history"] = (th_stat, th_df)
            changed = True
        regs.append(("__is_task_history", th_df))
        # INFORMATION_SCHEMA.DYNAMIC_TABLE_REFRESH_HISTORY (r13):
        # one row per refresh attempt (SUCCEEDED / SKIPPED), always
        # registered, collision-proof internal name (same contract as
        # the task history view).
        dth_stat = self._fstat(self.store._dt_refresh_history_file())
        hit = cache.get("dt_refresh_history")
        if hit is not None and hit[0] == dth_stat:
            dth_df = hit[1]
        else:
            dth = self.store.dt_refresh_history()
            dth_df = local_frame(
                self.spark,
                [
                    (
                        r.get("name"),
                        r.get("refreshed_at"),
                        r.get("state"),
                        r.get("mode"),
                        json.dumps(r.get("base_versions") or {}),
                    )
                    for r in dth
                ],
                "name string, refreshed_at string, state string, "
                "mode string, base_versions string",
            )
            cache["dt_refresh_history"] = (dth_stat, dth_df)
            changed = True
        regs.append(("__is_dt_refresh_history", dth_df))
        # Stored (non-materialized) views re-resolve on every read, so
        # they always reflect base tables' current versions and inherit
        # governance (their FROMs hit the masked/filtered temp views
        # registered above, never raw storage). Views may reference
        # other views: iterate to a fixpoint, registering whatever
        # resolves each pass; anything still unresolved (broken base)
        # surfaces as an unresolved-relation error at use. Re-resolved
        # only when a base frame, history, or the view store changed
        # this pass (the analyzed plans are otherwise identical).
        vstat = self._fstat(self.store._views_file())
        hit = cache.get("views_resolved")
        if not changed and hit is not None and hit[0] == vstat:
            # Nothing changed this pass: flush per NAME (r16) — only
            # frames the catalog doesn't already hold (object identity)
            # or whose name was shadowed out-of-band re-register; a
            # fully clean pass touches nothing.
            regs.extend(hit[1])
            self._flush_regs(regs)
            return
        self._flush_regs(regs, clear_shadowed=False)
        from .sqlfront import transpile as _transpile

        pending = dict(self.store.views())
        resolved: list[tuple[str, DataFrame]] = []
        for _ in range(len(pending) + 1):
            if not pending:
                break
            progressed = False
            for vname, v in list(pending.items()):
                try:
                    df = self.spark.sql(_transpile(v["sql"]))
                except Exception:
                    continue
                df.createOrReplaceTempView(vname)
                self._reg_written[vname.lower()] = df
                resolved.append((vname, df))
                pending.pop(vname)
                progressed = True
            if not progressed:
                break
        cache["views_resolved"] = (vstat, resolved)
        self._shadowed.clear()
        self._reg_catalog_ok = True

    def _flush_regs(
        self, regs: list[tuple[str, DataFrame]], clear_shadowed: bool = True
    ) -> None:
        """Per-name incremental catalog flush (r16, guide §1.2): a
        lifecycle statement typically changes ONE table's frame, but the
        r15 flush re-issued createOrReplaceTempView for every owned name
        (~7 ms of py4j + catalog-map work each). Re-register only names
        whose frame object differs from what this engine last wrote, or
        that an out-of-band registration may have shadowed. ``regs``
        order is preserved, so duplicate view names keep last-wins."""
        written = self._reg_written
        shadowed = self._shadowed
        for vname, vdf in regs:
            key = vname.lower()
            if written.get(key) is not vdf or key in shadowed:
                vdf.createOrReplaceTempView(vname)
                written[key] = vdf
        if clear_shadowed:
            self._shadowed.clear()
            self._reg_catalog_ok = True

    def _substitute_session_vars(self, sql: str) -> str:
        """``$name`` -> the stored value as a SQL literal, skipping
        string literals and ``METADATA$ACTION``-style identifiers (the
        ``$`` must not follow a word character). An unbound reference
        raises, as in Snowflake."""
        import re as _re

        ref = _re.compile(r"(?<![\w$])\$([A-Za-z_]\w*)")
        if not ref.search(sql):
            return sql

        def render(v) -> str:
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, (int, float)):
                return repr(v)
            s = str(v).replace("'", "''")
            return f"'{s}'"

        out, i, n = [], 0, len(sql)
        while i < n:
            c = sql[i]
            if c == "'":
                j = i + 1
                while j < n:
                    if sql[j] == "'":
                        if j + 1 < n and sql[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                out.append(sql[i : j + 1])
                i = j + 1
                continue
            m = ref.match(sql, i)
            if m:
                name = m.group(1).lower()
                if name not in self.session_vars:
                    raise ValueError(
                        f"session variable not set: ${m.group(1)} "
                        "(SET it first)"
                    )
                out.append(render(self.session_vars[name]))
                i = m.end()
            else:
                out.append(c)
                i += 1
        return "".join(out)

    @staticmethod
    def _blank_quoted_keep_len(s: str) -> str:
        """Replace the CONTENTS of '...' literals and "..." quoted
        identifiers with spaces, preserving every character position so
        match offsets computed on the blanked text index the original."""
        import re as _re

        def pad(m: _re.Match) -> str:
            q = m.group(0)[0]
            return q + " " * (len(m.group(0)) - 2) + q

        s = _re.sub(r"'(?:[^']|'')*'", pad, s)
        return _re.sub(r'"(?:[^"]|"")*"', pad, s)

    def _rewrite_nextval(self, sql: str) -> tuple[str, dict | None]:
        """Snowflake ``seq.NEXTVAL`` (r9; r10 redesign for expression
        contexts + multi-reference draws). Two forms:

        * ``VALUES (...)`` bodies: every reference site is replaced
          driver-side with the literal value it draws (sites are
          statically enumerable in a VALUES list) — site k of a
          sequence mints ``counter + increment*k``, and the statement
          records a STATIC draw count so the consuming DML advances by
          exactly the sites evaluated.
        * SELECT bodies: each top-level select item CONTAINING a
          nextval reference (bare, aliased, or nested inside an
          arithmetic/scalar expression — VERDICT r9 #5) is swapped for
          a typed NULL placeholder; after the query runs,
          _fill_sequence_values computes the item's expression over
          the RESULT's global row index (two narrow jobs via
          ops.rownum, never a single-partition Window). Distinct
          references to the SAME sequence in one statement mint
          DISJOINT values (ADVICE r9): with n references, row i's
          reference j draws ``counter + increment*(i*n + j)``, and the
          consuming DML advances by rows_inserted * n.

        Draws happen per RESULT row — a WHERE filter neither burns
        values nor creates collisions. Which row gets which value is
        arbitrary, as in Snowflake. The counter advances only when a
        consuming DML succeeds — a plain SELECT re-reads the same
        block (documented divergence: Snowflake burns values on any
        evaluation; the engine's model matches its STREAM offsets).
        NEXTVAL outside the top-level select list / VALUES (WHERE,
        CTE, subquery) raises rather than silently mangling."""
        seqs = self.store.sequences()
        if not seqs:
            return sql, None
        import re as _re

        site_pat = _re.compile(
            r"\b([A-Za-z_]\w*)\s*\.\s*nextval\b", _re.IGNORECASE
        )
        blanked = self._blank_quoted_keep_len(sql)
        hits = [
            m
            for m in site_pat.finditer(blanked)
            if m.group(1).lower() in seqs
        ]
        if not hits:
            return sql, None

        if _re.match(r"(?is)^\s*values\b", sql):
            # Static path: substitute literals in text order.
            draws: dict[str, int] = {}
            out, last = [], 0
            for m in hits:
                name = m.group(1).lower()
                sq = seqs[name]
                k = draws.get(name, 0)
                draws[name] = k + 1
                val = sq["counter"] + sq["increment"] * k
                out.append(sql[last : m.start()])
                out.append(f"CAST({val} AS BIGINT)")
                last = m.end()
            out.append(sql[last:])
            for name, n in draws.items():
                self._sequence_draws[name] = ("static", n)
            return "".join(out), None

        # SELECT path: locate the top-level select list [start, end).
        # The list is bounded by FROM — or, in a FROM-less body, by a
        # top-level ORDER BY / LIMIT (ADVICE r10: `SELECT sq.nextval
        # ORDER BY 1` must not absorb the trailing clause into the item
        # template and then fail at fill time).
        depth, sel_start, sel_end = 0, None, None
        for m in _re.finditer(
            r"[()]|\bselect\b|\bfrom\b|\border\s+by\b|\blimit\b",
            blanked,
            _re.IGNORECASE,
        ):
            t = m.group(0)
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and t.lower() == "select" and sel_start is None:
                sel_start = m.end()
            elif depth == 0 and sel_start is not None:
                sel_end = m.start()
                break
        if sel_start is None:
            raise ValueError(
                "NEXTVAL is supported in the top-level select list or a "
                f"VALUES clause, not here: {sql[:80]}"
            )
        if sel_end is None:
            sel_end = len(sql)
        if any(
            not (sel_start <= m.start() < sel_end) for m in hits
        ):
            raise ValueError(
                "NEXTVAL outside the top-level select list (WHERE / CTE "
                "/ subquery) is not supported; draw it in the select "
                "list and filter/join on the result column instead"
            )

        list_text = sql[sel_start:sel_end]
        pfx = _re.match(r"(?is)^\s*(distinct|all)\b", list_text)
        prefix = list_text[: pfx.end()] if pfx else ""
        body_text = list_text[len(prefix):]
        from .sqlfront import _split_top_level_args

        items = _split_top_level_args(body_text)

        site_n: dict[str, int] = {}  # seq -> total reference count
        parsed = []  # (item_text, [(marker, seq, ordinal)], alias|None)
        marker_id = 0
        alias_re = _re.compile(
            r'(?is)^(.*\S)\s+as\s+([A-Za-z_]\w*|"[^"]+")\s*$'
        )
        for item in items:
            ib = self._blank_quoted_keep_len(item)
            msites = [
                m
                for m in site_pat.finditer(ib)
                if m.group(1).lower() in seqs
            ]
            if not msites:
                parsed.append((item, [], None))
                continue
            am = alias_re.match(item)
            expr_text, alias = (
                (am.group(1), am.group(2)) if am else (item, None)
            )
            # an alias match that chopped a site off means the " as x"
            # belonged to something else (defensive: recheck positions)
            if am and any(m.end() > len(am.group(1)) for m in msites):
                expr_text, alias = item, None
            sites, out, last = [], [], 0
            for m in [
                m
                for m in site_pat.finditer(
                    self._blank_quoted_keep_len(expr_text)
                )
                if m.group(1).lower() in seqs
            ]:
                name = m.group(1).lower()
                j = site_n.get(name, 0)
                site_n[name] = j + 1
                marker = f"__SEQ_SITE_{marker_id}__"
                marker_id += 1
                sites.append((marker, name, j))
                out.append(expr_text[last : m.start()])
                out.append(marker)
                last = m.end()
            out.append(expr_text[last:])
            parsed.append(("".join(out), sites, alias))

        # assign output aliases: explicit ones kept (duplicates among
        # fills rejected — silently renaming a user alias would change
        # the schema), bare/expression items auto-named and uniquified
        used: set[str] = set()
        fills: list[tuple[str, str]] = []  # (alias, template)
        new_items: list[str] = []
        for template, sites, alias in parsed:
            if not sites:
                new_items.append(template)
                continue
            if alias is not None:
                a = alias.strip('"')
                if a.lower() in used:
                    raise ValueError(
                        f"duplicate NEXTVAL output alias '{a}'; alias "
                        "each reference distinctly"
                    )
            else:
                a, k = "nextval", 2
                while a.lower() in used:
                    a = f"nextval_{k}"
                    k += 1
            used.add(a.lower())
            ident = (
                a if _re.match(r"^[A-Za-z_]\w*$", a) else f"`{a}`"
            )
            new_items.append(f"CAST(NULL AS BIGINT) AS {ident}")
            fills.append((a, template))

        site_meta = {}
        for template, sites, _alias in parsed:
            for marker, name, j in sites:
                site_meta[marker] = (name, j)
        new_sql = (
            sql[:sel_start]
            + prefix
            + " "
            + ", ".join(new_items)
            + " "
            + sql[sel_end:]
        )
        for name, n in site_n.items():
            self._sequence_draws[name] = ("per_row", n)
        return new_sql, {
            "items": fills,
            "sites": site_meta,
            "n_refs": dict(site_n),
        }

    def _fill_sequence_values(self, df: DataFrame, fills: dict) -> DataFrame:
        from pyspark.sql import functions as F

        from ..ops.rownum import with_global_index
        from .sqlfront import transpile as _transpile

        seqs = self.store.sequences()
        gid = "__seq_gid__"
        out = with_global_index(df, gid, one_based=True)
        for alias, template in fills["items"]:
            expr_sql = template
            bare = template in fills["sites"]
            for marker, (name, j) in fills["sites"].items():
                if marker not in expr_sql:
                    continue
                sq = seqs[name]
                n = fills["n_refs"][name]
                val = (
                    f"({sq['counter']} + {sq['increment']} * "
                    f"(({gid} - 1) * {n} + {j}))"
                )
                expr_sql = expr_sql.replace(marker, val)
            col = F.expr(_transpile(expr_sql))
            out = out.withColumn(alias, col.cast("long") if bare else col)
        return out.drop(gid)

    def _advance_used_sequences(self, res: DataFrame, kind: str) -> None:
        """A consuming DML that drew from sequences (its body's nested
        query() recorded them) advances each counter past every value
        minted: rows_inserted * refs-per-row for SELECT draws, the
        static site count for VALUES draws — so the next statement
        mints a disjoint block even with multiple references to one
        sequence in a single statement (ADVICE r9)."""
        if not self._sequence_draws:
            return
        if kind not in ("insert", "insert_multi", "ctas", "copy"):
            self._sequence_draws.clear()
            return
        try:
            row = res.collect()[0].asDict()
            n = int(row.get("rows_inserted") or 0)
        except Exception:
            n = 0
        for name, (mode, k) in list(self._sequence_draws.items()):
            self.store.advance_sequence(
                name, k if mode == "static" else n * k
            )
        self._sequence_draws.clear()

    def execute_task(
        self, name: str, scheduled_time: str | None = None
    ) -> DataFrame:
        """Snowflake EXECUTE TASK (r9): manually trigger a task and run
        its resumed descendants in topological order (AFTER edges form
        the DAG). The NAMED task runs regardless of its own state —
        Snowflake's manual trigger — but a SUSPENDED child is skipped
        along with its entire subtree, as in Snowflake where only
        started child tasks fire. Each task's SQL runs through
        ``Engine.query`` (full dialect surface, sequential on the
        driver: orchestration is metadata-scale, the DATA work inside
        each statement is what distributes). Returns one row per task
        run, in execution order."""
        tasks = self.store.tasks()
        key = name.lower()
        if key not in tasks:
            raise ValueError(f"task not found: {name}")
        children: dict[str, list[str]] = {}
        for n, t in tasks.items():
            for p in t.get("after", []):
                children.setdefault(p, []).append(n)
        selected = {key}
        frontier = [key]
        while frontier:
            cur = frontier.pop()
            for ch in sorted(children.get(cur, [])):
                if ch in selected or tasks[ch]["state"] != "started":
                    continue
                selected.add(ch)
                frontier.append(ch)
        ts = TopologicalSorter()
        for n in selected:
            ts.add(n, *[p for p in tasks[n]["after"] if p in selected])
        order = list(ts.static_order())
        rows = []
        hist: list[dict] = []
        skipped: set[str] = set()

        def _record(i, n, status, error=None):
            from datetime import datetime, timezone

            rows.append((i, n, status))
            hist.append(
                {
                    "name": n,
                    "root": key,
                    "run_order": i,
                    "state": {
                        "success": "SUCCEEDED",
                        "failed": "FAILED",
                    }.get(status, "SKIPPED"),
                    "status_detail": status,
                    "scheduled_time": scheduled_time,
                    "completed_time": datetime.now(
                        timezone.utc
                    ).isoformat(),
                    "error": error,
                }
            )

        for i, n in enumerate(order):
            # A skipped predecessor skips the whole subtree, as in
            # Snowflake where dependents only fire after a successful
            # predecessor run.
            if any(
                p in skipped
                for p in tasks[n]["after"]
                if p in selected
            ):
                skipped.add(n)
                _record(i, n, "skipped_upstream")
                continue
            # WHEN gate (r10): evaluated at run time through the full
            # dialect surface; FALSE/NULL skips (Snowflake conditional
            # tasks).
            when = tasks[n].get("when")
            if when:
                from .sqlfront import transpile as _transpile

                when = self._resolve_stream_has_data(when)
                prev_stmt = self._current_stmt
                self._current_stmt = when
                try:
                    self._register_views()
                    ok = self.spark.sql(
                        f"SELECT CAST(({_transpile(when)}) AS BOOLEAN) AS ok"
                    ).collect()[0]["ok"]
                finally:
                    self._current_stmt = prev_stmt
                if not ok:
                    skipped.add(n)
                    _record(i, n, "skipped_when")
                    continue
            try:
                self.query(tasks[n]["sql"])
            except Exception as e:  # noqa: BLE001 — Snowflake records,
                # skips the subtree, and keeps the scheduler alive
                # (r12: a failing body previously aborted the whole
                # DAG run AND any remaining run_due tick)
                skipped.add(n)
                _record(
                    i, n, "failed", f"{type(e).__name__}: {e}"[:500]
                )
                continue
            _record(i, n, "success")
        self.store.append_task_history(hist)
        return local_frame(
            self.spark, rows, "run_order int, task_name string, status string"
        )

    def _resolve_stream_has_data(self, when: str) -> str:
        """SYSTEM$STREAM_HAS_DATA('s') in a task WHEN clause (r12):
        the canonical Snowflake gate for stream-driven tasks. Resolved
        driver-side as an O(1) version-pointer compare — the stream's
        offset against its table's current version — exactly the
        approximation Snowflake documents (may return TRUE for a
        net-empty delta; never FALSE when data exists). No data is
        read, so the gate cannot consume or advance the stream."""
        pat = re.compile(
            r"(?is)system\$stream_has_data\s*\(\s*'([^']+)'\s*\)"
        )

        def sub(m):
            st = self.store.streams().get(m.group(1).lower())
            if st is None:
                raise ValueError(
                    "SYSTEM$STREAM_HAS_DATA: stream not found: "
                    f"{m.group(1)}"
                )
            cur = self.store.current_version(st["table"]) or 0
            return "TRUE" if st["offset"] < cur else "FALSE"

        return pat.sub(sub, when)

    def run_due(self, now=None) -> DataFrame:
        """Scheduler tick (r11, VERDICT r10 #3): fire every STARTED
        ROOT task whose SCHEDULE has elapsed at ``now``, then its
        WHEN-gated resumed DAG through the same machinery as EXECUTE
        TASK. ``now`` is an INJECTABLE datetime (naive = UTC) so tests
        are deterministic and no query reads the wall clock; it
        defaults to the current UTC time for interactive use. Missed
        ticks collapse into one run and the fire time is stamped as
        the task's ``last_run`` anchor (Snowflake never queues a
        backlog of overlapping schedules). Suspended roots and
        schedule-less tasks never fire; AFTER children fire only
        through their root, as in Snowflake. Returns one row per task
        run across all due DAGs, in execution order."""
        from datetime import datetime, timezone

        from .schedule import parse_schedule

        if now is None:
            now = datetime.now(timezone.utc)
        tasks = self.store.tasks()
        out = []
        for name in sorted(tasks):
            t = tasks[name]
            sched = t.get("schedule")
            if not sched or t.get("after") or t["state"] != "started":
                continue
            last = t.get("last_run")
            last_dt = datetime.fromisoformat(last) if last else None
            fire = parse_schedule(sched).due(last_dt, now)
            if fire is None:
                continue
            # Stamp BEFORE running: a failing body must not make the
            # schedule re-fire in a tight loop on every tick.
            self.store.record_task_run(name, fire.isoformat())
            for r in self.execute_task(
                name, scheduled_time=fire.isoformat()
            ).collect():
                out.append(
                    (name, r["run_order"], r["task_name"], r["status"])
                )
        # Dynamic-table lag tick (r13): refresh every STARTED dynamic
        # table whose TARGET_LAG has elapsed at ``now``. The refresh
        # itself is version-gated — unchanged bases commit NOTHING —
        # so an idle tick is O(1) metadata reads per table. DT-over-DT
        # chains refresh in dependency order (upstream first), so one
        # tick propagates a base change through the whole chain.
        dts = self.store.dynamic_tables()
        dt_graph = {
            name: [
                b
                for b in self._dt_refs(d["sql"])[0]
                if b in dts and b != name
            ]
            for name, d in dts.items()
        }
        for name in TopologicalSorter(dt_graph).static_order():
            d = dts[name]
            if d.get("state") != "started" or d.get("lag_s") is None:
                continue
            last = d.get("last_refresh")
            last_dt = (
                datetime.fromisoformat(last) if last else None
            )
            if last_dt is not None:
                if last_dt.tzinfo is None:
                    last_dt = last_dt.replace(tzinfo=timezone.utc)
                now_utc = (
                    now
                    if now.tzinfo
                    else now.replace(tzinfo=timezone.utc)
                )
                if (now_utc - last_dt).total_seconds() < d["lag_s"]:
                    continue
            status = self.refresh_dynamic_table(name, now=now)
            out.append((name, 0, name, f"dt_{status}"))
        return local_frame(
            self.spark,
            out,
            "root string, run_order int, task_name string, status string",
        )

    # -- dynamic tables (r13) ----------------------------------------------
    def _dt_refs(self, sql: str) -> tuple[set[str], bool]:
        """Relation names the defining SQL references in table
        position (lowercased tails), plus the cannot-name flag, with
        literals/comments stripped first."""
        from .dml import _strip_comments

        stripped = _strip_comments(sql).lower()
        stripped = re.sub(r"'(?:[^']|'')*'", "''", stripped)
        return _sql_table_refs(stripped)

    def _dt_base_versions(self, sql: str) -> tuple[dict, bool]:
        """(store-table name -> current version) for every relation the
        defining SQL references in table position, plus a flag set
        whenever ANY reference cannot be version-accounted (a seed, a
        temp view, an ambiguous tail, a table function, an unparsable
        relation). The flag disables version-gated refresh skipping —
        a base the gate cannot see must force a recompute, never a
        silent permanent SKIPPED (ADVICE r13 #1: the old scan missed
        comma-join and quoted bases yet still skipped on the partial
        map)."""
        import os as _os

        refs, unknown = self._dt_refs(sql)
        # tail -> logical store names (a tail shared by two schemas is
        # ambiguous: refuse to version-account it)
        tails: dict[str, list[str]] = {}
        if _os.path.isdir(self.store.root):
            for entry in _os.listdir(self.store.root):
                logical = entry.replace("__", ".")
                if not self.store.exists(logical):
                    continue
                tails.setdefault(
                    logical.rsplit(".", 1)[-1].lower(), []
                ).append(logical)
        seed_tails = {s.lower() for s in self.seeds}
        versions: dict[str, int] = {}
        unversioned = unknown
        for r in refs:
            hits = tails.get(r, [])
            v = (
                self.store.current_version(hits[0])
                if len(hits) == 1
                else None
            )
            if v is not None and r not in seed_tails:
                versions[r] = v
            else:
                unversioned = True
        return versions, unversioned

    # A dynamic table qualifies for the incremental refresh path only
    # when its defining query is a stateless per-row transform over ONE
    # base table (SELECT <exprs> FROM base [WHERE pred]): then
    # full(old ∪ delta) == full(old) ∪ full(delta) as multisets, so
    # appending the transformed delta is exact. Anything that could
    # break that algebra refuses conservatively (full recompute).
    _DT_NON_INCREMENTAL_RE = re.compile(
        r"(?is)\b(join|group\s+by|order\s+by|limit|distinct|over|"
        r"union|intersect|except|qualify|connect\s+by|"
        r"match_recognize|lateral|pivot|unpivot|window|having|"
        r"sum\s*\(|count\s*\(|avg\s*\(|min\s*\(|max\s*\(|"
        r"listagg\s*\(|array_agg\s*\(|\(\s*select\b)"
    )
    _DT_SIMPLE_RE = re.compile(
        r"(?is)^\s*select\s+.+?\s+from\s+([A-Za-z_]\w*)"
        r"\s*(?:where\s+.+)?$"
    )

    def _dt_base_delta(
        self, meta: dict, base: str
    ) -> tuple[DataFrame, bool] | None:
        """(appended-rows delta of ``base`` since the last refresh,
        changed) — or None when the append-only incremental algebra
        cannot apply: the base's anchor version must be known and
        EVERY commit since must carry an insert-only ('files') CDC
        manifest, so the delta reads ONLY the appended files
        (O(delta), no shuffle, no full-table scan). changed=False
        means no new version (the delta frame is empty) — join
        maintenance needs to distinguish "this base idle" from "this
        base ineligible"."""
        if not self.store.exists(base):
            return None
        last = meta.get("base_versions", {})
        if base not in last:
            return None
        v0 = last[base]
        v1 = self.store.current_version(base)
        if v1 is None or v1 < v0:
            return None
        if v1 == v0:
            return self.store.read(self.spark, base).limit(0), False
        parts = []
        for v in range(v0 + 1, v1 + 1):
            man = self.store._cdc_manifest(self.spark, base, v)
            if man is None or man[0] != "files":
                return None  # delete/update or no manifest: full path
            parts.append(man[1].drop("change_type"))
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p, allowMissingColumns=True)
        return delta, True

    def _dt_append_only_delta(
        self, meta: dict, base: str
    ) -> DataFrame | None:
        """Single-base form: the non-empty appended-rows delta, or
        None when ineligible OR unchanged (the skip gate owns the
        unchanged case for single-base shapes)."""
        if set(meta.get("base_versions", {})) != {base}:
            return None
        r = self._dt_base_delta(meta, base)
        if r is None or not r[1]:
            return None
        return r[0]

    def _dt_delta_query(
        self, sql: str, base: str, delta: DataFrame
    ) -> DataFrame:
        """Run the defining SQL with the base's FROM redirected to a
        temp view over the delta rows."""
        return self._dt_redirect_query(sql, {base: delta})

    # An identifier right after a redirected relation that is NOT an
    # alias but the next clause.
    _DT_ALIAS_GUARD = (
        r"(?!(?:inner|left|right|full|cross|natural|join|on|using|"
        r"where|group|order|limit|qualify|having|union|intersect|"
        r"except|as)\b)"
    )

    def _dt_redirect_query(
        self, sql: str, frames: dict[str, DataFrame]
    ) -> DataFrame:
        """Run the defining SQL with each base's table-position
        references redirected to a temp view over the given frame.
        When the original reference carried no alias, the base name
        becomes the view's alias so qualified column refs (base.col)
        keep resolving. The substitution never touches string-literal
        contents (ADVICE r14 #5: a base name inside a label literal
        must pass through unchanged)."""
        out = sql
        for base, df in frames.items():
            view = f"__dt_redir_{base}"
            df.createOrReplaceTempView(view)
            self._mark_shadowed(view)

            def repl(m, base=base, view=view):
                alias = m.group(2)
                return (
                    f"{m.group(1)} {view}"
                    + (alias if alias else f" {base}")
                )

            pat = (
                rf"(?is)\b(from|join)\s+{re.escape(base)}\b(?!\s*\.)"
                rf"(\s+(?:as\s+)?{self._DT_ALIAS_GUARD}[A-Za-z_]\w*)?"
            )
            parts = re.split(r"('(?:[^']|'')*')", out)
            out = "".join(
                p if i % 2 else re.sub(pat, repl, p)
                for i, p in enumerate(parts)
            )
        return self.query(out)

    def _dt_incremental_delta(
        self, meta: dict
    ) -> DataFrame | None:
        """Per-row incremental path: transformed appended rows to
        APPEND to the backing table, or None when the full path must
        run. Eligible shape: a stateless per-row transform over ONE
        base (SELECT exprs FROM base [WHERE pred]) — then
        full(old ∪ delta) == full(old) ∪ full(delta) as multisets."""
        from .dml import _strip_comments

        sql = _strip_comments(meta["sql"]).strip().rstrip(";")
        if self._DT_NON_INCREMENTAL_RE.search(sql):
            return None
        m = self._DT_SIMPLE_RE.match(sql)
        if not m:
            return None
        base = m.group(1).lower()
        delta = self._dt_append_only_delta(meta, base)
        if delta is None:
            return None
        return self._dt_delta_query(sql, base, delta)

    # Incremental AGGREGATE maintenance (r13): SELECT <group cols>,
    # <decomposable aggs> FROM base [WHERE] GROUP BY <group cols>.
    # SUM/COUNT/MIN/MAX are decomposable under APPEND-ONLY deltas:
    # agg(old ∪ delta) == combine(agg(old), agg(delta)) per group —
    # sum/count combine by summing partials, min/max by min/max. The
    # refresh aggregates ONLY the delta and re-combines with the
    # (group-sized) current output: O(|DT| + delta), never O(|base|).
    # AVG / DISTINCT / anything else refuses to the full path (AVG is
    # expressible as sum+count columns by the user).
    _DT_AGG_SHAPE_RE = re.compile(
        r"(?is)^\s*select\s+(.+?)\s+from\s+([A-Za-z_]\w*)"
        r"(?:\s+where\s+(.+?))?\s+group\s+by\s+(.+?)\s*$"
    )
    _DT_AGG_BLOCK_RE = re.compile(
        r"(?is)\b(join|distinct|over|union|intersect|except|having|"
        r"qualify|limit|order\s+by|connect\s+by|match_recognize|"
        r"lateral|pivot|unpivot|window|avg\s*\(|listagg\s*\(|"
        r"array_agg\s*\(|count\s*\(\s*distinct|\(\s*select\b|"
        r"rollup|cube|grouping)"
    )
    _DT_AGG_ITEM_RE = re.compile(
        r"(?is)^\s*(?:cast\s*\(\s*)?(sum|count|min|max)\s*\("
        r"\s*(\*|.+?)\s*\)\s*(?:as\s+(\w+)\s*\)\s*)?"
        r"(?:as\s+(\w+))\s*$"
    )

    def _dt_incremental_agg(
        self, key: str, meta: dict
    ) -> DataFrame | None:
        """Merged (old ∪ delta-agg) re-aggregation for an eligible
        single-base GROUP BY query, or None for the full path."""
        from pyspark.sql import functions as F

        from .dml import _split_top_level_args, _strip_comments

        sql = _strip_comments(meta["sql"]).strip().rstrip(";")
        if self._DT_AGG_BLOCK_RE.search(sql):
            return None
        m = self._DT_AGG_SHAPE_RE.match(sql)
        if not m:
            return None
        select_list, base = m.group(1), m.group(2).lower()
        group_list = [
            g.strip().strip('"').lower()
            for g in m.group(4).split(",")
        ]
        if not all(re.fullmatch(r"[A-Za-z_]\w*", g) for g in group_list):
            return None  # expression group keys: full path
        keys: list[str] = []
        combine: dict[str, tuple[str, str | None]] = {}
        for item in _split_top_level_args(select_list):
            item = item.strip()
            am = self._DT_AGG_ITEM_RE.match(item)
            if am:
                fn = am.group(1).lower()
                alias = am.group(4)
                cast_t = am.group(3)
                combine[alias] = (
                    "sum" if fn in ("sum", "count") else fn,
                    cast_t,
                )
                continue
            im = re.fullmatch(
                r'(?is)\s*([A-Za-z_]\w*|"[^"]+")\s*', item
            )
            if not im:
                return None  # computed group column: full path
            keys.append(im.group(1).strip('"'))
        if not combine or sorted(k.lower() for k in keys) != sorted(
            group_list
        ):
            return None
        delta = self._dt_append_only_delta(meta, base)
        if delta is None:
            return None
        delta_agg = self._dt_delta_query(sql, base, delta)
        old = self.store.read(self.spark, key)
        merged = old.unionByName(delta_agg)
        aggs = [
            getattr(F, fn)(F.col(a)).alias(a)
            if not cast_t
            else getattr(F, fn)(F.col(a)).cast(cast_t).alias(a)
            for a, (fn, cast_t) in combine.items()
        ]
        out = merged.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
        return out.select(*old.columns)

    # Incremental JOIN maintenance (r14, VERDICT r13 #5): a two-base
    # INNER equi-join under append-only deltas. Anything else (outer
    # joins, >1 join, aggregates, DISTINCT, subqueries) refuses to the
    # full path.
    _DT_JOIN_BLOCK_RE = re.compile(
        r"(?is)\b(group\s+by|distinct|over|union|intersect|except|"
        r"having|qualify|limit|order\s+by|connect\s+by|"
        r"match_recognize|lateral|pivot|unpivot|window|rollup|cube|"
        r"grouping|left\s+join|right\s+join|full\s+join|cross\s+join|"
        r"natural\s+join|asof\s+join|sum\s*\(|count\s*\(|avg\s*\(|"
        r"min\s*\(|max\s*\(|listagg\s*\(|array_agg\s*\(|\(\s*select\b)"
    )
    @staticmethod
    def _parse_join_chain(
        from_clause: str,
    ) -> list[tuple[str, str | None]] | None:
        """``A [alias] JOIN B [alias] ON cond [JOIN C ...]`` ->
        ordered [(base, alias)], or None when any segment is not a
        bare-table INNER-join chain (derived tables, missing ON,
        comma cross joins). Parens and commas INSIDE an ON condition
        (function calls like ``on coalesce(a.k, 0) = d.k``) are fine
        — only top-level commas (comma joins) and parens in relation
        position refuse."""
        depth, in_str = 0, False
        for ch in from_clause:
            if in_str:
                in_str = ch != "'"
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                return None  # comma join
        segs = re.split(r"(?is)\b(?:inner\s+)?join\b", from_clause)
        if len(segs) < 2:
            return None
        rels: list[tuple[str, str | None]] = []
        m = re.fullmatch(
            r"(?is)\s*([A-Za-z_]\w*)"
            r"(?:\s+(?:as\s+)?([A-Za-z_]\w*))?\s*",
            segs[0],
        )
        if not m:
            return None
        rels.append((m.group(1).lower(), m.group(2)))
        for seg in segs[1:]:
            sm = re.match(
                r"(?is)^\s*([A-Za-z_]\w*)"
                r"(?:\s+(?:as\s+)?(?!on\b)([A-Za-z_]\w*))?"
                r"\s+on\s+.+$",
                seg,
                re.DOTALL,
            )
            if not sm:
                return None
            rels.append((sm.group(1).lower(), sm.group(2)))
        return rels

    def _dt_join_delta_legs(
        self, sql: str, meta: dict, *, require_exact_bases: bool = True
    ) -> tuple[list[DataFrame], list[str]] | None:
        """Append-only delta expansion for an N-base INNER equi-join
        chain (r15, VERDICT r14 #4). With each base B_i = B_i_old ∪
        ΔB_i, the new output rows telescope into one leg per base:

          Δ(B1⋈…⋈Bn) = ⋃_i  B1_old ⋈ … ⋈ B(i-1)_old
                              ⋈ ΔB_i ⋈ B(i+1) ⋈ … ⋈ Bn

        (earlier bases anchored at the recorded refresh version via
        time travel, later bases current) — every leg is ONE
        delta-sized probe against full relations, so an n-way chain
        costs n delta joins, never a full-join recompute. The delta
        side carries a size-gated broadcast hint. Returns (leg
        frames — one per CHANGED base, [] when all idle — and the
        chain's bases), or None when the shape/history is ineligible
        and the full path must run. ``require_exact_bases=False``
        (the UNION ALL composition) checks containment instead of
        equality — the CALLER then owns proving every recorded base
        is accounted for across its legs."""
        m = re.match(r"(?is)^\s*select\s+.+?\s+from\s+(.+)$", sql)
        if not m:
            return None
        from_part = re.split(
            r"(?is)\bwhere\b|\bgroup\s+by\b", m.group(1), maxsplit=1
        )[0]
        rels = self._parse_join_chain(from_part)
        if not rels:
            return None
        bases = [b for b, _ in rels]
        if len(set(bases)) != len(bases):
            return None  # self-join: the expansion needs two anchors
        if require_exact_bases:
            if set(meta.get("base_versions", {})) != set(bases):
                return None
        elif not set(bases) <= set(meta.get("base_versions", {})):
            return None
        deltas: dict[str, DataFrame] = {}
        changed: dict[str, bool] = {}
        for b in bases:
            r = self._dt_base_delta(meta, b)
            if r is None:
                return None
            deltas[b], changed[b] = r
        last_changed = max(
            (i for i, b in enumerate(bases) if changed[b]), default=-1
        )
        olds: dict[str, DataFrame] = {}
        try:
            for i, b in enumerate(bases):
                if i < last_changed:
                    olds[b] = self.store.read_version(
                        self.spark, b, meta["base_versions"][b]
                    )
        except ValueError:
            return None  # anchor version vacuumed
        # Broadcast a delta leg ONLY while its optimizer size estimate
        # stays under autoBroadcastJoinThreshold (VERDICT r14 #1): a
        # delta is usually tiny but UNBOUNDED — a bulk backfill makes
        # a forced broadcast fail with an OOM instead of degrading.
        # Over the bound the hint drops and AQE picks the strategy;
        # the refresh stays incremental either way.
        from ..ops.partitioning import maybe_broadcast

        legs = []
        for i, b in enumerate(bases):
            if not changed[b]:
                continue
            frames = {bases[j]: olds[bases[j]] for j in range(i)}
            frames[b] = maybe_broadcast(deltas[b])
            legs.append(self._dt_redirect_query(sql, frames))
        return legs, bases

    @staticmethod
    def _split_top_union_all(sql: str) -> list[str] | None:
        """Split on top-level UNION ALL (paren- and quote-aware).
        Returns the legs, or None when a top-level bare UNION /
        INTERSECT / EXCEPT appears (set semantics are not
        append-only-decomposable)."""
        parts: list[str] = []
        depth, in_str, last, i, n = 0, False, 0, 0, len(sql)
        while i < n:
            ch = sql[i]
            if in_str:
                if ch == "'":
                    in_str = False
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and ch in "uUiIeE":
                m = re.match(
                    r"(?is)(union\s+all\b|union\b|intersect\b|"
                    r"except\b|minus\b)",
                    sql[i:],
                )
                if m and re.search(r"[\s)]", sql[i - 1 : i] or " "):
                    if not m.group(1).lower().startswith("union") or (
                        "all" not in m.group(1).lower()
                    ):
                        return None  # set-semantics operator
                    parts.append(sql[last:i])
                    i += m.end()
                    last = i
                    continue
            i += 1
        parts.append(sql[last:])
        return parts if len(parts) > 1 else None

    # SELECT DISTINCT over a single base (r15): under append-only
    # deltas, distinct(old ∪ Δ) = distinct(old) ∪ (distinct(Δ) ∖
    # distinct(old)) — the appended output delta is the transformed
    # delta's distinct rows ANTI-JOINED against the group-sized
    # current output. O(|Δ| + |DT|), never a base rescan. Blockers
    # mirror the per-row path minus DISTINCT itself.
    _DT_DISTINCT_BLOCK_RE = re.compile(
        r"(?is)\b(join|group\s+by|order\s+by|limit|over|"
        r"union|intersect|except|qualify|connect\s+by|"
        r"match_recognize|lateral|pivot|unpivot|window|having|"
        r"sum\s*\(|count\s*\(|avg\s*\(|min\s*\(|max\s*\(|"
        r"listagg\s*\(|array_agg\s*\(|\(\s*select\b)"
    )
    _DT_DISTINCT_RE = re.compile(
        r"(?is)^\s*select\s+distinct\s+.+?\s+from\s+([A-Za-z_]\w*)"
        r"\s*(?:where\s+.+)?$"
    )

    def _dt_incremental_distinct(
        self, key: str, meta: dict
    ) -> DataFrame | None:
        """New-distinct-rows delta for SELECT DISTINCT ... FROM base
        [WHERE ...], or None for the full path."""
        from pyspark.sql import functions as F  # noqa: F401

        from .dml import _strip_comments

        sql = _strip_comments(meta["sql"]).strip().rstrip(";")
        if self._DT_DISTINCT_BLOCK_RE.search(sql):
            return None
        m = self._DT_DISTINCT_RE.match(sql)
        if not m:
            return None
        base = m.group(1).lower()
        delta = self._dt_append_only_delta(meta, base)
        if delta is None:
            return None
        fresh = self._dt_delta_query(sql, base, delta)
        old = self.store.read(self.spark, key)
        # NULL-safe anti-join: a distinct row with NULLs must still
        # match its existing copy, so the join keys compare with <=>
        cond = None
        for c in old.columns:
            eq = fresh[c].eqNullSafe(old[c])
            cond = eq if cond is None else (cond & eq)
        return fresh.join(old, cond, "left_anti")

    # A union leg may carry a table alias (the single-base shape
    # regex does not): SELECT exprs FROM base [alias] [WHERE ...]
    _DT_UNION_LEG_RE = re.compile(
        r"(?is)^\s*select\s+.+?\s+from\s+([A-Za-z_]\w*)"
        r"(?:\s+(?:as\s+)?(?!where\b)([A-Za-z_]\w*))?"
        r"\s*(?:where\s+.+)?$"
    )

    def _dt_incremental_union(self, meta: dict) -> DataFrame | None:
        """Incremental maintenance for a top-level UNION ALL whose
        legs are single-base per-row transforms OR inner equi-join
        chains (r15): UNION ALL is multiset concatenation, so with
        each leg q_i,

            ⋃_i q_i(bases ∪ Δ) = (current output) ∪ ⋃_i Δq_i

        — the appended delta is each leg's own incremental delta
        (the appended-rows transform for simple legs; the per-base
        telescoped join expansion for join legs). The realistic
        multi-source feed shape, with or without per-leg enrichment
        joins. Bare UNION / INTERSECT / EXCEPT refuse (set semantics
        are not append-only-decomposable); every base recorded at the
        last refresh must be claimed by some leg. Returns the delta
        to APPEND, or None."""
        from .dml import _strip_comments

        sql = _strip_comments(meta["sql"]).strip().rstrip(";")
        legs = self._split_top_union_all(sql)
        if not legs:
            return None
        leg_specs: list[tuple[str, str, str | None]] = []
        for leg in legs:
            leg = leg.strip()
            if not self._DT_NON_INCREMENTAL_RE.search(leg):
                m = self._DT_UNION_LEG_RE.match(leg)
                if not m:
                    return None
                leg_specs.append(("simple", leg, m.group(1).lower()))
            elif not self._DT_JOIN_BLOCK_RE.search(leg):
                leg_specs.append(("join", leg, None))
            else:
                return None
        deltas: dict[str, tuple[DataFrame, bool]] = {}
        all_bases: set[str] = set()
        parts_raw: list[DataFrame] = []
        for kind, leg, b in leg_specs:
            if kind == "simple":
                if b not in deltas:
                    r = self._dt_base_delta(meta, b)
                    if r is None:
                        return None
                    deltas[b] = r
                all_bases.add(b)
                delta, changed = deltas[b]
                if changed:
                    parts_raw.append(
                        self._dt_redirect_query(leg, {b: delta})
                    )
            else:
                jr = self._dt_join_delta_legs(
                    leg, meta, require_exact_bases=False
                )
                if jr is None:
                    return None
                jparts, jbases = jr
                all_bases.update(jbases)
                parts_raw.extend(jparts)
        # every base the refresh is gated on must be claimed by a leg
        # (an unclaimed base would silently never contribute deltas)
        if set(meta.get("base_versions", {})) != all_bases:
            return None
        if not parts_raw:
            return None  # all bases idle: the skip gate owns this
        # SQL UNION ALL binds POSITIONALLY with the FIRST leg's names
        # (later legs may project different aliases), so each delta
        # renames positionally to the statement's output columns —
        # never a by-name bind. self.query is analysis-only here
        # (lazy; .columns never runs a job).
        names = self.query(legs[0].strip()).columns
        parts = []
        for part in parts_raw:
            if len(part.columns) != len(names):
                return None  # malformed union: full path decides
            parts.append(part.toDF(*names))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _dt_incremental_join(self, meta: dict) -> DataFrame | None:
        """Plain (no GROUP BY) join maintenance: union of the delta
        legs, APPENDED to the backing table. Two-base in r14
        (VERDICT r13 #5); generalized to N-base chains in r15
        (VERDICT r14 #4) via _dt_join_delta_legs."""
        from .dml import _strip_comments

        sql = _strip_comments(meta["sql"]).strip().rstrip(";")
        if self._DT_JOIN_BLOCK_RE.search(sql):
            return None
        r = self._dt_join_delta_legs(sql, meta)
        if not r or not r[0]:
            return None  # ineligible, or all bases idle
        legs = r[0]
        out = legs[0]
        for p in legs[1:]:
            out = out.unionByName(p)
        return out

    # Incremental AGG-OVER-JOIN maintenance (r15, VERDICT r14 #3):
    # SELECT <group cols>, <SUM/COUNT/MIN/MAX aggs> FROM <inner
    # equi-join chain> [WHERE] GROUP BY <cols> — the flagship
    # fact⋈dim rollup. The delta-join legs (append-only expansion,
    # same algebra as the plain join path) are each aggregated by the
    # defining query itself, then re-combined with the group-sized
    # current output: O(|DT| + delta-joins), never a base rescan.
    _DT_JOINAGG_BLOCK_RE = re.compile(
        r"(?is)\b(distinct|over|union|intersect|except|having|"
        r"qualify|limit|order\s+by|connect\s+by|match_recognize|"
        r"lateral|pivot|unpivot|window|rollup|cube|grouping|"
        r"left\s+join|right\s+join|full\s+join|cross\s+join|"
        r"natural\s+join|asof\s+join|avg\s*\(|listagg\s*\(|"
        r"array_agg\s*\(|count\s*\(\s*distinct|\(\s*select\b)"
    )
    _DT_JOINAGG_SHAPE_RE = re.compile(
        r"(?is)^\s*select\s+(.+?)\s+from\s+.+?"
        r"\s+group\s+by\s+(.+?)\s*$"
    )

    def _dt_incremental_join_agg(
        self, key: str, meta: dict
    ) -> DataFrame | None:
        """Merged (old ∪ per-leg delta aggs) re-aggregation for an
        eligible join+GROUP BY query, or None for the full path.
        Decomposability is the same append-only argument as the
        single-base agg path: the join's new rows partition exactly
        into the delta legs, and SUM/COUNT/MIN/MAX combine across any
        partition of the input."""
        from pyspark.sql import functions as F

        from .dml import _split_top_level_args, _strip_comments

        sql = _strip_comments(meta["sql"]).strip().rstrip(";")
        if self._DT_JOINAGG_BLOCK_RE.search(sql):
            return None
        if not re.search(r"(?is)\bjoin\b", sql):
            return None  # single-base: _dt_incremental_agg owns it
        m = self._DT_JOINAGG_SHAPE_RE.match(sql)
        if not m:
            return None
        select_list, group_s = m.group(1), m.group(2)
        group_exprs = [
            re.sub(r"\s+", "", g).lower() for g in group_s.split(",")
        ]
        if not all(
            re.fullmatch(r"[a-z_]\w*(\.[a-z_]\w*)?", g)
            for g in group_exprs
        ):
            return None  # expression group keys: full path
        keys: list[str] = []
        key_exprs: list[str] = []
        combine: dict[str, tuple[str, str | None]] = {}
        for item in _split_top_level_args(select_list):
            item = item.strip()
            am = self._DT_AGG_ITEM_RE.match(item)
            if am:
                fn = am.group(1).lower()
                combine[am.group(4)] = (
                    "sum" if fn in ("sum", "count") else fn,
                    am.group(3),
                )
                continue
            im = re.fullmatch(
                r"(?is)\s*([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)"
                r"\s*(?:as\s+([A-Za-z_]\w*))?\s*",
                item,
            )
            if not im:
                return None  # computed group column: full path
            expr = re.sub(r"\s+", "", im.group(1)).lower()
            keys.append((im.group(2) or expr.split(".")[-1]).lower())
            key_exprs.append(expr)
        if not combine or sorted(key_exprs) != sorted(group_exprs):
            return None
        r = self._dt_join_delta_legs(sql, meta)
        if not r or not r[0]:
            return None
        legs = r[0]
        old = self.store.read(self.spark, key)
        merged = old
        for leg in legs:
            merged = merged.unionByName(leg.select(*old.columns))
        aggs = [
            getattr(F, fn)(F.col(a)).alias(a)
            if not cast_t
            else getattr(F, fn)(F.col(a)).cast(cast_t).alias(a)
            for a, (fn, cast_t) in combine.items()
        ]
        out = merged.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
        return out.select(*old.columns)

    def _dt_incremental_upsert(
        self, key: str, meta: dict
    ) -> bool:
        """Keyed CDC maintenance for the single-base per-row-transform
        shape when the base history carries UPDATE/DELETE commits
        (r14, VERDICT r13 #6): requires the base to have a PRIMARY KEY
        whose columns pass through the select list unchanged (bare
        references or ``*``). The net CHANGES window
        (store.read_changes — deletion-vector aware, O(changed) under
        manifests) maintains the DT as:

            DELETE output rows keyed by (delete ∪ update_preimage)
            APPEND transform(insert ∪ update_postimage)

        The delete is a deletion-vector commit (O(matched + #files),
        no rewrite) keyed by a DELETE ... USING semi-join against the
        changed-key frame (VERDICT r14 #2): keys never touch the
        driver, so the path holds at ANY changed-key count — the key
        frame broadcasts while small (size-gated) and shuffles
        otherwise. Returns True when applied."""
        from pyspark.sql import functions as F

        from .dml import _strip_comments

        sql = _strip_comments(meta["sql"]).strip().rstrip(";")
        if self._DT_NON_INCREMENTAL_RE.search(sql):
            return False
        m = self._DT_SIMPLE_RE.match(sql)
        if not m:
            return False
        base = m.group(1).lower()
        if set(meta.get("base_versions", {})) != {base}:
            return False
        pk = self.store.primary_key(base)
        if not pk:
            return False
        pk_cols = [c.lower() for c in pk["columns"]]
        # every key column must pass through the select list unchanged
        select_list = re.match(
            r"(?is)^\s*select\s+(.+?)\s+from\s+", sql
        ).group(1)
        if select_list.strip() != "*":
            from .dml import _split_top_level_args

            bare = {
                it.strip().strip('"').lower()
                for it in _split_top_level_args(select_list)
                if re.fullmatch(
                    r'\s*(?:[A-Za-z_]\w*|"[^"]+")\s*', it
                )
            }
            if not set(pk_cols) <= bare:
                return False
        v0 = meta["base_versions"][base]
        v1 = self.store.current_version(base)
        if v1 is None or v1 <= v0:
            return False
        try:
            changes = self.store.read_changes(
                self.spark, base, v0, v1, pk_cols
            )
        except ValueError:
            return False  # window unrecoverable (vacuumed, no chain)
        changes = changes.localCheckpoint()
        gone_keys = (
            changes.filter(
                F.col("change_type").isin(
                    "delete", "update_preimage"
                )
            )
            .select(*pk_cols)
            .distinct()
        )
        # DELETE ... USING: the changed keys stay a distributed frame
        # end-to-end — the plan carries ONE semi-join, never a
        # collected IN-list or an OR-tree, so key count is unbounded
        # (the r14 100k/5k driver-safety caps are gone with the
        # collect they guarded).
        if not gone_keys.isEmpty():
            self.store.delete_where(
                self.spark, key, using=gone_keys, on=pk_cols
            )
        fresh = changes.filter(
            F.col("change_type").isin("insert", "update_postimage")
        ).drop("change_type")
        self.store.append(
            self.spark, key, self._dt_delta_query(sql, base, fresh)
        )
        return True

    def refresh_dynamic_table(
        self, name: str, force: bool = False, now=None, _chain=None
    ) -> str:
        """Refresh a dynamic table — UNLESS every base table's version
        pointer is unchanged since the last successful refresh, in
        which case the refresh is recorded SKIPPED and commits nothing
        (O(1); Snowflake's no-new-data skip). When the bases DID
        change: REFRESH_MODE AUTO/INCREMENTAL first tries the
        incremental path (append the transformed insert-only delta —
        O(delta), the 100 TB posture for streaming-append bases),
        falling back to a full recompute + overwrite whenever the
        query shape or the change history can't guarantee exactness.
        ``force=True`` (initial build, explicit REFRESH after
        suspected drift) always recomputes fully. Returns
        'refreshed' | 'skipped'."""
        from datetime import datetime as _dt
        from datetime import timezone as _tz

        dts = self.store.dynamic_tables()
        key = name.lower()
        if key not in dts:
            raise ValueError(f"dynamic table not found: {name}")
        meta = dts[key]
        # TARGET_LAG = DOWNSTREAM upstreams refresh on dependent demand
        # (ADVICE r13 #2): Snowflake refreshes a DOWNSTREAM table
        # whenever a dependent refreshes. Without this, the dependent's
        # version gate would pin the never-refreshed upstream's version
        # and record SKIPPED forever. Cycle-guarded; each upstream is
        # itself version-gated, so an idle chain walk stays O(1) per
        # table.
        chain = _chain if _chain is not None else set()
        chain.add(key)
        for up in sorted(self._dt_refs(meta["sql"])[0]):
            d_up = dts.get(up)
            if (
                up != key
                and up not in chain
                and d_up is not None
                and d_up.get("lag_s") is None
                and d_up.get("state") == "started"
            ):
                self.refresh_dynamic_table(up, now=now, _chain=chain)
        when = (now or _dt.now(_tz.utc)).isoformat()
        versions, unversioned = self._dt_base_versions(meta["sql"])
        can_skip = (
            not force
            and self.store.exists(key)
            and versions
            and not unversioned
            and versions == meta.get("base_versions")
        )
        if can_skip:
            self.store.record_dynamic_refresh(
                key, versions, when, "SKIPPED"
            )
            return "skipped"
        mode = "full"
        delta = None
        merged = None
        applied = False
        if (
            not force
            and self.store.exists(key)
            and not unversioned
            and meta.get("refresh_mode", "auto") in ("auto", "incremental")
        ):
            delta = self._dt_incremental_delta(meta)
            if delta is None:
                # two-base equi-join delta expansion (r14)
                delta = self._dt_incremental_join(meta)
            if delta is None:
                # UNION ALL multi-source feed (r15)
                delta = self._dt_incremental_union(meta)
            if delta is None:
                # SELECT DISTINCT anti-join maintenance (r15)
                delta = self._dt_incremental_distinct(key, meta)
            if delta is None:
                merged = self._dt_incremental_agg(key, meta)
            if delta is None and merged is None:
                # agg-over-join rollup (r15, VERDICT r14 #3)
                merged = self._dt_incremental_join_agg(key, meta)
            if delta is None and merged is None:
                # keyed CDC upsert maintenance (r14) — commits its own
                # delete-vector + append pair when it applies
                applied = self._dt_incremental_upsert(key, meta)
        if applied:
            mode = "incremental"
        elif delta is not None:
            self.store.append(self.spark, key, delta)
            mode = "incremental"
        elif merged is not None:
            # incremental aggregate maintenance: the combine touched
            # O(|DT| + delta) rows; the overwrite is group-sized
            self.store.overwrite(self.spark, key, merged)
            mode = "incremental_agg"
        else:
            df = self.query(meta["sql"])
            self.store.overwrite(self.spark, key, df)
        self.store.record_dynamic_refresh(
            key, versions, when, "SUCCEEDED", mode=mode
        )
        return "refreshed"

    def query(self, sql: str, dialect: str = "snowflake") -> DataFrame:
        """One-off ad-hoc statement over the engine's tables (r7): every
        store table and seed registers as a temp view under its own
        name, then the statement runs through the full reference-
        dialect surface — sqlfront transpile, AT/BEFORE time travel,
        global-rownum routing. ``dialect='spark'`` skips transpilation.
        This is the interactive analogue of a dbt model: a user of the
        reference can paste their Snowflake-dialect SELECT directly.

        DML statements (the reference macros' own surface — INSERT /
        INSERT ALL / UPDATE..FROM / DELETE / MERGE / CTAS / TRUNCATE)
        are routed to the versioned store via engine.dml and return a
        Snowflake-style summary frame (rows_inserted/updated/deleted).
        """
        prev = self._current_stmt
        self._current_stmt = sql if isinstance(sql, str) else None
        try:
            return self._query_impl(sql, dialect)
        finally:
            self._current_stmt = prev

    def _query_impl(self, sql: str, dialect: str = "snowflake") -> DataFrame:
        if dialect == "snowflake":
            from ..connectors.sqlbridge import ensure_ext_fns
            from . import dml

            sql = self._substitute_session_vars(sql)

            # External functions referenced by the statement register as
            # connector-backed UDFs under their reference names.
            ensure_ext_fns(self.spark, sql, self.vars)
            kind = dml.statement_kind(sql)
            if kind is not None:
                self._register_views()
                # Clear stale draws from prior plain SELECTs so only
                # sequences this statement's body actually references
                # (set by the nested query() that builds it) advance.
                self._sequence_draws.clear()
                res = dml.execute(self, sql, kind)
                # Snowflake stream semantics: a consuming DML advances
                # the offsets of streams it read (r9).
                self._advance_consumed_streams(sql, kind)
                self._advance_used_sequences(res, kind)
                return res
        self._register_views()
        mr_views: list[str] = []
        if dialect == "snowflake":
            from .sqlfront import (
                GLOBAL_ROWNUM_MARKER,
                _AT_RE,
                _CHANGES_RE,
                resolve_changes,
                resolve_global_rownum,
                resolve_time_travel,
                transpile,
            )

            sql, seq_fills = self._rewrite_nextval(sql)
            # Snowflake's TABLE(INFORMATION_SCHEMA.TASK_HISTORY())
            # table function (r12) -> the always-registered internal
            # history view (collision-proof name, r13)
            sql = re.sub(
                r"(?is)\btable\s*\(\s*information_schema\s*\.\s*"
                r"task_history\s*\(\s*\)\s*\)",
                "__is_task_history",
                sql,
            )
            sql = re.sub(
                r"(?is)\btable\s*\(\s*information_schema\s*\.\s*"
                r"dynamic_table_refresh_history\s*\(\s*\)\s*\)",
                "__is_dt_refresh_history",
                sql,
            )
            if re.search(r"(?is)\bmatch_recognize\s*\(", sql):
                # SQL-surface MATCH_RECOGNIZE (r11): resolved BEFORE
                # transpile — the clause body is reference dialect and
                # becomes a temp view over the distributed operator.
                from .mrsql import resolve_match_recognize

                sql, mr_views = resolve_match_recognize(self, sql)
            if re.search(r"(?is)\basof\s+join\b", sql):
                # SQL-surface ASOF JOIN (r13): same pre-transpile
                # temp-view resolution pattern, over ops/asof.py
                from .asofsql import resolve_asof_join

                sql, asof_views = resolve_asof_join(self, sql)
                mr_views.extend(asof_views)
            sql = transpile(sql)
            if _CHANGES_RE.search(sql):
                # Snowflake CHANGES clause: CDC between two versions,
                # policy-governed (r9); must resolve before time travel
                # claims its AT(...).
                sql = resolve_changes(
                    self.spark, self.store, sql,
                    mask_fn=self._policy_masked,
                )
            if _AT_RE.search(sql):
                sql = resolve_time_travel(
                    self.spark, self.store, sql,
                    mask_fn=self._policy_masked,
                )
            if GLOBAL_ROWNUM_MARKER in sql:
                sql = resolve_global_rownum(self.spark, sql)
            if seq_fills:
                res = self._fill_sequence_values(
                    self.spark.sql(sql), seq_fills
                )
                self._drop_mr_views(mr_views)
                return res
        res = self.spark.sql(sql)
        self._drop_mr_views(mr_views)
        return res

    def _drop_mr_views(self, views: list[str]) -> None:
        """Drop MATCH_RECOGNIZE temp views once the statement is built
        (ADVICE r11 #5). Safe immediately after ``spark.sql(...)``:
        analysis inlines a temp view's plan into the DataFrame, so the
        returned frame no longer references the catalog entry."""
        for v in views:
            try:
                self.spark.catalog.dropTempView(v)
            except Exception:
                pass  # best-effort cleanup; a missing view is fine

    def execute_script(
        self,
        script: str,
        dialect: str = "snowflake",
        transaction: bool = False,
    ):
        """Run a multi-statement script (top-level ``;`` separated) one
        statement at a time — the reference macros' `statement()` blocks
        back-to-back. Returns one result DataFrame per statement.

        ``transaction=True`` makes the script all-or-nothing (r7c): the
        current version of every store table is snapshotted first; if
        any statement raises, tables the script DROPPED are restored
        from a trash area (drops are deferred until commit), tables it
        CREATED are dropped, and tables it CHANGED are
        ``store.restore``d to their pre-script content (the rollback
        itself is a new, history-visible commit — the version store's
        analogue of BEGIN/ROLLBACK). Single-writer scope: concurrent
        writers on the same tables are not fenced across statements
        (per-statement writer locks only), and a table RENAMED
        mid-script rolls back as drop-new-name only. Schema objects
        (views, tasks, sequences, policies) follow Snowflake's rule
        that DDL auto-commits: a view created or a sequence block
        consumed inside a failing script STAYS — only table DATA rolls
        back (tests assert both behaviors).
        """
        import os as _os

        from . import dml

        statements = dml._split_statements(script)
        if not transaction:
            return [self.query(stmt, dialect=dialect) for stmt in statements]

        # VACUUM destroys historical version directories — the very
        # restore targets the rollback depends on — and OPTIMIZE
        # rewrites files the trash area may alias. Refuse them up front
        # (before any statement runs) rather than discovering a
        # broken rollback after a later failure (VERDICT r8 #7).
        for stmt in statements:
            kind = dml.statement_kind(stmt)
            if kind in ("vacuum", "optimize"):
                raise ValueError(
                    f"{kind.upper()} is not allowed inside a "
                    "transactional script: it can destroy the version "
                    "snapshots rollback restores from — run it after "
                    "the transaction commits"
                )

        def _store_tables() -> set[str]:
            if not _os.path.isdir(self.store.root):
                return set()
            return {
                e.replace("__", ".")
                for e in _os.listdir(self.store.root)
                if self.store.exists(e.replace("__", "."))
            }

        before = {t: self.store.current_version(t) for t in _store_tables()}
        # stream offsets are transactional state too (r9): a stream
        # consumed (or created/dropped) by a failing script must roll
        # back with the tables, or the delta it read is silently lost.
        streams_before = {
            k: dict(v) for k, v in self.store.streams().items()
        }
        results = []
        # DROP TABLE inside the transaction trashes instead of deleting,
        # so a later statement failure can restore the dropped table
        # (previously a mid-script drop was permanent — ADVICE r7 #2).
        self.store.defer_drops()
        try:
            try:
                for stmt in statements:
                    results.append(self.query(stmt, dialect=dialect))
            except Exception:
                # Trashed tables come back FIRST (replacing any
                # same-named re-creation), then script-created tables
                # are dropped for real, then changed tables rewind to
                # their pre-script version.
                self.store.rollback_deferred_drops()
                self.store._write_streams(streams_before)
                for t in _store_tables() - set(before):
                    self.store.drop(t)  # created by the failed script
                    self.seeds.pop(t, None)
                for t, v in before.items():
                    if (
                        self.store.exists(t)
                        and self.store.current_version(t) != v
                    ):
                        try:
                            self.store.restore(t, v)
                        except ValueError:
                            # pre-script version vacuumed mid-script:
                            # surface the original failure, not the
                            # rollback's.
                            pass
                raise
            self.store.commit_deferred_drops()
        finally:
            # Whatever path we leave on (including an exception inside
            # the rollback itself), the deferred-drop state must not
            # stay armed — a later plain drop() on this store would
            # otherwise trash instead of delete (ADVICE r8 #4).
            if self.store._drop_trash is not None:
                self.store.commit_deferred_drops()
        return results

    # -- execution --------------------------------------------------------
    def build_df(self, model: Model) -> DataFrame:
        """Compile the model into a DataFrame (no materialization)."""
        ctx = Context(self, model)
        # Make every ref available as a temp view for SQL models.
        for r in model.refs:
            if r in self.models or r in self.seeds or self.store.exists(r):
                try:
                    self._publish(r, self.ref(r))
                except KeyError:
                    pass
            elif r.lower() in self.store.streams():
                # stream refs register UNCACHED: the delta (and the
                # recorded read version) must be fresh every run, not
                # pinned by _view_cache
                self.ref(r).createOrReplaceTempView(self.view_name(r))
                self._mark_shadowed(self.view_name(r))
        if model.builder is not None:
            return model.builder(ctx)
        sql = model.compile_sql(ctx)
        if model.config.get("dialect") == "snowflake":
            from ..connectors.sqlbridge import ensure_ext_fns

            ensure_ext_fns(self.spark, sql, self.vars)
            # Reference-dialect model SQL runs near-verbatim (sqlfront).
            from .sqlfront import (
                GLOBAL_ROWNUM_MARKER,
                _AT_RE,
                _CHANGES_RE,
                resolve_changes,
                resolve_global_rownum,
                resolve_time_travel,
                transpile,
            )

            sql = transpile(sql)
            if _CHANGES_RE.search(sql):
                # Snowflake CHANGES clause: CDC between two versions,
                # policy-governed (r9); must resolve before time travel
                # claims its AT(...).
                sql = resolve_changes(
                    self.spark, self.store, sql,
                    mask_fn=self._policy_masked,
                )
            if _AT_RE.search(sql):
                # Snowflake AT(VERSION/TIMESTAMP/OFFSET => ...) reads a
                # historical store version through a temp view (r7).
                sql = resolve_time_travel(
                    self.spark, self.store, sql,
                    mask_fn=self._policy_masked,
                )
            if GLOBAL_ROWNUM_MARKER in sql:
                # Global row numbering routes through with_global_index
                # (no single-partition Window in the plan).
                sql = resolve_global_rownum(self.spark, sql)
        return self.spark.sql(sql)

    def run(
        self,
        select: list[str] | None = None,
        fail_fast: bool = False,
        threads: int = 1,
    ) -> dict[str, RunResult]:
        """Execute models in topological order (dbt run).

        Error isolation matches dbt (r7): a failing model records an
        ``error`` RunResult and every transitive dependent records
        ``skipped`` (never executed — a dependent reading a missing/
        stale upstream would silently produce wrong data); independent
        subgraphs still run. ``fail_fast=True`` re-raises the first
        failure instead (dbt's --fail-fast).

        ``threads`` is dbt's --threads (r7c): models whose dependencies
        are satisfied materialize CONCURRENTLY from a thread pool.
        Spark's scheduler interleaves the submitted jobs (FAIR/FIFO per
        session config); store commits stay safe because every write
        serializes per table under the writer lock, and distinct models
        write distinct tables. Hooks run on the scheduler thread.
        """
        from ..materializations import materialize

        names = select or list(self.models)
        graph = {
            n: [r for r in self.models[n].refs if r in self.models]
            for n in names
        }
        if threads > 1:
            return self._run_parallel(names, graph, fail_fast, threads)
        order = list(TopologicalSorter(graph).static_order())
        results: dict[str, RunResult] = {}
        failed: set[str] = set()
        for name in order:
            if name not in names:
                continue
            model = self.models[name]
            bad_deps = [r for r in model.refs if r in failed]
            if bad_deps:
                failed.add(name)  # transitive: skipped counts as failed
                results[name] = RunResult(
                    name,
                    "skipped",
                    message=f"depends on failed/skipped: {sorted(bad_deps)}",
                )
                continue
            for hook in self.pre_hooks:
                hook(model)
            try:
                result = materialize(self, model)
            except Exception as e:  # noqa: BLE001 — dbt records, not crashes
                if fail_fast:
                    raise
                result = RunResult(
                    name, "error", message=f"{type(e).__name__}: {e}"
                )
            if result.status == "error":
                failed.add(name)
            elif result.status == "success":
                self._advance_streams_for(model)
            for hook in self.post_hooks:
                hook(model, result)
            results[name] = result
        return results

    def _advance_streams_for(self, model: Model) -> None:
        """A model that consumed stream refs and materialized
        SUCCESSFULLY advances those streams' offsets to the versions
        its build read — Snowflake's consume-on-commit, per model run.
        Error/skipped runs leave offsets untouched, so the delta is
        re-delivered next run (at-least-once, exactly-once on
        success)."""
        for r in model.refs:
            key = r.lower()
            if key in self.store.streams() and key in self._stream_ref_reads:
                self.store.advance_stream(
                    key, self._stream_ref_reads.pop(key)
                )

    def _run_parallel(
        self,
        names: list[str],
        graph: dict[str, list[str]],
        fail_fast: bool,
        threads: int,
    ) -> dict[str, RunResult]:
        """Level-free DAG scheduling: a model starts the moment its last
        dependency finishes (no barrier between topological levels)."""
        from concurrent.futures import (
            FIRST_COMPLETED,
            ThreadPoolExecutor,
            wait,
        )

        from ..materializations import materialize

        ts = TopologicalSorter(graph)
        ts.prepare()
        results: dict[str, RunResult] = {}
        failed: set[str] = set()

        def guarded(model) -> tuple[RunResult, BaseException | None]:
            try:
                return materialize(self, model), None
            except Exception as e:  # noqa: BLE001 — dbt records, not crashes
                return (
                    RunResult(
                        model.name, "error", message=f"{type(e).__name__}: {e}"
                    ),
                    e,
                )

        with ThreadPoolExecutor(max_workers=threads) as pool:
            pending: dict = {}
            while ts.is_active() or pending:
                for name in ts.get_ready():
                    if name not in names or name not in self.models:
                        ts.done(name)  # dep outside the selection
                        continue
                    model = self.models[name]
                    bad_deps = [r for r in model.refs if r in failed]
                    if bad_deps:
                        failed.add(name)
                        results[name] = RunResult(
                            name,
                            "skipped",
                            message=(
                                f"depends on failed/skipped: {sorted(bad_deps)}"
                            ),
                        )
                        ts.done(name)
                        continue
                    for hook in self.pre_hooks:
                        hook(model)
                    pending[pool.submit(guarded, model)] = name
                if not pending:
                    continue
                done, _ = wait(list(pending), return_when=FIRST_COMPLETED)
                for fut in done:
                    name = pending.pop(fut)
                    result, exc = fut.result()
                    if exc is not None and fail_fast:
                        raise exc
                    if result.status == "error":
                        failed.add(name)
                    elif result.status == "success":
                        self._advance_streams_for(self.models[name])
                    for hook in self.post_hooks:
                        hook(self.models[name], result)
                    results[name] = result
                    ts.done(name)
        return results

    def test(self, sql_or_df) -> None:
        """dbt singular test: returned rows => failure
        (integration_tests/tests/sfdc_load_tasks_after_run.sql:1-5)."""
        df = (
            self.spark.sql(sql_or_df)
            if isinstance(sql_or_df, str)
            else sql_or_df
        )
        bad = df.count()
        if bad:
            raise AssertionError(f"test failed: {bad} rows returned")

    def generic_test(self, kind: str, df: DataFrame, *args, **kwargs) -> None:
        """dbt generic (schema) test: `unique` / `not_null` /
        `accepted_values` / `relationships` over a DataFrame — failure
        rows raise, like the singular path (engine/generic_tests.py)."""
        from .generic_tests import GENERIC_TESTS

        try:
            builder = GENERIC_TESTS[kind]
        except KeyError:
            raise ValueError(
                f"unknown generic test: {kind!r} (have {sorted(GENERIC_TESTS)})"
            ) from None
        bad = builder(df, *args, **kwargs).count()
        if bad:
            raise AssertionError(f"{kind} test failed: {bad} failure rows")

    def run_schema_tests(
        self, select: list[str] | None = None
    ) -> dict[str, RunResult]:
        """Run every declared column test (dbt `dbt test` over schema
        tests). Models declare them dbt-style in config:

            config={"column_tests": {
                "id": ["unique", "not_null"],
                "status": [{"accepted_values": {"values": ["F", "O"]}}],
                "cust_id": [{"relationships": {"to": "customers",
                                               "field": "id"}}],
            }}

        Returns one RunResult per test (status `success`/`error` with
        the failure-row count), like dbt's test report — it does not
        raise, so a run surfaces EVERY violation, not just the first.
        """
        from .generic_tests import GENERIC_TESTS

        results: dict[str, RunResult] = {}
        for mname in select or list(self.models):
            spec = self.models[mname].config.get("column_tests") or {}
            for col, tests in spec.items():
                for t in tests:
                    if isinstance(t, str):
                        kind, params = t, {}
                    else:
                        (kind, params), = t.items()
                    if kind not in GENERIC_TESTS:
                        raise ValueError(
                            f"unknown schema test {kind!r} on {mname}.{col}"
                        )
                    if kind == "relationships":
                        params = {
                            "parent": self.ref(params["to"]),
                            "parent_col": params["field"],
                        }
                    fails = GENERIC_TESTS[kind](self.ref(mname), col, **params)
                    n = fails.count()
                    tid = f"{kind}__{mname}__{col}"
                    results[tid] = RunResult(
                        model=tid,
                        status="success" if n == 0 else "error",
                        rows_affected=n,
                        message="" if n == 0 else f"{n} failure rows",
                    )
        return results
