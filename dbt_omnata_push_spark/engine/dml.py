"""Snowflake-dialect DML statements over the versioned store.

The reference's operational macros are DML, not SELECTs: column-list
``INSERT .. SELECT`` (/root/reference/macros/apps/operations/
salesforce_bulk_load.sql:22-31,35-47), ``UPDATE .. SET .. FROM ..
WHERE`` (salesforce_bulk_load.sql:52-55; load_task_materialization
.sql:70-73), and Snowflake's multi-table conditional ``INSERT ALL``
(marketing_cloud_data_extension_upload.sql:37-43).  This module gives
``Engine.query()`` those statement forms plus the statements any user
of the reference runs around them (CTAS, MERGE, DELETE, TRUNCATE),
parsed at the STATEMENT level only — every expression fragment is
handed verbatim to Spark SQL after ``sqlfront.transpile``, so the full
reference expression surface (``::`` casts, variant paths,
OBJECT_CONSTRUCT, UUID_STRING, ...) works inside DML too.

Routing to the store's commit machinery:

- ``INSERT``            -> ``store.append`` (the write is the only
                           action over the source, so nondeterministic
                           expressions like UUID_STRING are evaluated
                           once; ``INSERT ALL`` checkpoints its source,
                           which feeds several targets);
- ``DELETE .. WHERE``   -> ``store.delete_where`` (the deletion-vector
                           merge-on-read path: O(matched) commit, data
                           files carried unrewritten);
- ``UPDATE``            -> versioned rewrite (Snowflake itself rewrites
                           matched micro-partitions; with FROM, row
                           identity is a checkpointed row id);
- ``MERGE``             -> one plan, one rewrite: target FULL OUTER JOIN
                           source, each pair tagged with the first WHEN
                           clause that holds, one pair kept per target row;
- ``CREATE TABLE AS``   -> ``store.create`` / ``overwrite``;
- ``TRUNCATE``          -> empty-frame overwrite (history retained).

Results mirror Snowflake's statement output: a 1-row summary DataFrame
(``rows_inserted`` / ``rows_updated`` / ``rows_deleted``), or one row
per target table for ``INSERT ALL``.

Scale notes: counts ride the commit's write as ``Observation``s; only
UPDATE..FROM and DELETE..USING checkpoint the target (for row ids), and
nothing here collects data rows to the driver. Multi-match UPDATE..FROM
and MERGE pick one arbitrary source row per target row (Snowflake's
ERROR_ON_NONDETERMINISTIC_MERGE=false behavior).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

from ..ops.observe import materialized, observed
from .session import local_frame
from .sqlfront import _split_top_level_args, transpile

# ---------------------------------------------------------------------------
# statement-level scanning (quote/paren aware)
# ---------------------------------------------------------------------------

def _strip_comments(sql: str) -> str:
    out, i, n, quote = [], 0, len(sql), None
    while i < n:
        c = sql[i]
        if quote:
            out.append(c)
            if c == quote:
                quote = None
            i += 1
        elif c in "'\"":
            quote = c
            out.append(c)
            i += 1
        elif c == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j
        elif c == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _scan_top(sql: str, pattern: str, start: int = 0) -> re.Match | None:
    """First top-level (outside parens/quotes) regex match at/after start."""
    rx = re.compile(pattern, re.IGNORECASE)
    depth, i, n, quote = 0, 0, len(sql), None
    while i < n:
        c = sql[i]
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and i >= start:
            m = rx.match(sql, i)
            if m:
                return m
        i += 1
    return None


def _split_statements(script: str) -> list[str]:
    """Split a multi-statement script on top-level semicolons.

    Quote- AND comment-aware (ADVICE r7 #3): a ``;`` inside a ``--``
    line comment or a ``/* */`` block comment must not split the
    script mid-comment — the comment text stays in its statement (the
    per-statement handlers strip it later)."""
    parts, depth, start, quote = [], 0, 0, None
    i, n = 0, len(script)
    while i < n:
        c = script[i]
        if quote:
            if c == quote:
                quote = None
            i += 1
        elif c in "'\"":
            quote = c
            i += 1
        elif c == "-" and script.startswith("--", i):
            j = script.find("\n", i)
            i = n if j < 0 else j + 1
        elif c == "/" and script.startswith("/*", i):
            j = script.find("*/", i + 2)
            i = n if j < 0 else j + 2
        elif c == "(":
            depth += 1
            i += 1
        elif c == ")":
            depth -= 1
            i += 1
        elif c == ";" and depth == 0:
            parts.append(script[start:i])
            start = i + 1
            i += 1
        else:
            i += 1
    parts.append(script[start:])
    return [p.strip() for p in parts if p.strip()]


_KIND_RE = re.compile(
    r"(?is)^\s*(insert\s+all\b|insert\s+first\b|insert\b|update\b|"
    r"delete\b|merge\b|truncate\b|show\b|describe\b|desc\b|"
    r"optimize\b|vacuum\b|restore\b|copy\s+into\b|alter\s+table\b|"
    r"drop\s+table\b|"
    r"create\s+(?:or\s+replace\s+)?masking\s+policy\b|"
    r"drop\s+masking\s+policy\b|"
    r"create\s+(?:or\s+replace\s+)?row\s+access\s+policy\b|"
    r"drop\s+row\s+access\s+policy\b|"
    r"create\s+(?:or\s+replace\s+)?stream\b|"
    r"drop\s+stream\b|"
    r"create\s+(?:or\s+replace\s+)?sequence\b|"
    r"drop\s+sequence\b|"
    r"set\s+[A-Za-z_]\w*\s*=|"
    r"unset\s+[A-Za-z_]\w*|"
    r"create\s+(?:or\s+replace\s+)?view\b|"
    r"drop\s+view\b|"
    r"create\s+(?:or\s+replace\s+)?dynamic\s+table\b|"
    r"drop\s+dynamic\s+table\b|"
    r"alter\s+dynamic\s+table\b|"
    r"create\s+(?:or\s+replace\s+)?task\b|"
    r"drop\s+task\b|"
    r"alter\s+task\b|"
    r"execute\s+task\b|"
    r"undrop\s+table\b|"
    r"create\s+(?:or\s+replace\s+)?(?:temp(?:orary)?\s+|transient\s+)?table\b)"
)


def statement_kind(sql: str) -> str | None:
    """'insert'|'insert_multi'|'update'|'delete'|'merge'|'ctas'|'truncate',
    or None for plain queries (SELECT/WITH/VALUES/...)."""
    s = _strip_comments(sql).strip()
    m = _KIND_RE.match(s)
    if not m:
        return None
    kw = re.sub(r"\s+", " ", m.group(1).lower())
    # Session-variable statements must be classified before the object-DDL
    # substring checks: `SET downstream = 5` contains "stream" but is a
    # SET, not a DROP STREAM (would otherwise misroute and raise).
    if kw.startswith("set "):
        return "set_var"
    if kw.startswith("unset "):
        return "unset_var"
    # Object DDL: match the exact verb+object prefix, never a bare substring
    # (identifiers like `preview`/`sequence_no` must not trigger these).
    if "masking policy" in kw or "row access policy" in kw:
        return "create_policy" if kw.startswith("create") else "drop_policy"
    if kw.startswith(("create stream", "create or replace stream")):
        return "create_stream"
    if kw.startswith("drop stream"):
        return "drop_stream"
    if kw.startswith(("create sequence", "create or replace sequence")):
        return "create_sequence"
    if kw.startswith("drop sequence"):
        return "drop_sequence"
    if kw.startswith(("create view", "create or replace view")):
        return "create_view"
    if kw.startswith("drop view"):
        return "drop_view"
    if kw.startswith(
        ("create dynamic table", "create or replace dynamic table")
    ):
        return "create_dynamic"
    if kw.startswith("drop dynamic table"):
        return "drop_dynamic"
    if kw.startswith("alter dynamic table"):
        return "alter_dynamic"
    if kw.startswith(("create task", "create or replace task")):
        return "create_task"
    if kw.startswith("drop task"):
        return "drop_task"
    if kw.startswith("alter task"):
        return "alter_task"
    if kw.startswith("execute task"):
        return "execute_task"
    if kw.startswith("create"):
        return "ctas"
    if kw in ("insert all", "insert first"):
        return "insert_multi"
    if kw in ("describe", "desc"):
        return "describe"
    if kw == "copy into":
        return "copy"
    if kw == "alter table":
        return "alter"
    if kw == "drop table":
        return "drop"
    if kw == "undrop table":
        return "undrop"
    return kw.split()[0]


# ---------------------------------------------------------------------------
# identifier helpers
# ---------------------------------------------------------------------------

_IDENT = r'(?:"[^"]+"|[A-Za-z_][\w$]*)'
_TABLE = rf"{_IDENT}(?:\s*\.\s*{_IDENT})*"


def _clean_ident(raw: str) -> str:
    parts = re.split(r"\s*\.\s*", raw.strip())
    return ".".join(p.strip('"') for p in parts)


def _resolve_table(engine, raw: str) -> str:
    """Map a (possibly db.schema-qualified) identifier to a store name."""
    full = _clean_ident(raw)
    if engine.store.exists(full):
        return full
    tail = full.rsplit(".", 1)[-1]
    if engine.store.exists(tail):
        return tail
    return full  # new table (CTAS) / error surfaced by the store


_RID = "__dml_rid__"


def _with_rid(engine, table: str) -> DataFrame:
    """Target with a per-statement-stable synthetic row id (checkpointed
    so two scans see identical ids)."""
    df = engine.store.read(engine.spark, table)
    return df.withColumn(_RID, F.monotonically_increasing_id()).localCheckpoint()



def _refuse_dynamic(engine, table: str, verb: str) -> None:
    """Dynamic tables' content is defined by their query (r13):
    Snowflake refuses direct DML against them, and so does this
    engine — the mutation would be silently overwritten by the next
    refresh. Route changes through the base tables + a refresh."""
    if table.lower() in engine.store.dynamic_tables():
        raise ValueError(
            f"{verb} is not allowed on dynamic table {table}: its "
            "content is defined by its query (mutate the base tables, "
            "then ALTER DYNAMIC TABLE ... REFRESH)"
        )

def _summary(engine, **counts) -> DataFrame:
    cols = ", ".join(f"{k} long" for k in counts)
    return local_frame(engine.spark, [tuple(counts.values())], cols)


def _run_select(engine, body: str) -> DataFrame:
    body = body.strip()
    if re.match(r"(?is)^values\b", body):
        # VALUES with sequence draws routes through the engine so
        # _rewrite_nextval can substitute literal values (r10); plain
        # literal VALUES goes straight to Spark.
        if re.search(r"(?i)\.\s*nextval\b", body) and engine.store.sequences():
            return engine.query(body)
        return engine.spark.sql(body)
    return engine.query(body)


def _aligned_for_insert(
    engine, table: str, df: DataFrame, cols: list[str] | None
) -> DataFrame:
    """Rename positionally to the column list (or target order), add
    missing target columns as typed NULLs, cast to target types."""
    target_schema = engine.store.read(engine.spark, table).schema
    names = cols if cols is not None else [f.name for f in target_schema]
    if len(df.columns) != len(names):
        raise ValueError(
            f"INSERT into {table}: {len(names)} columns declared but the "
            f"source produces {len(df.columns)}"
        )
    renamed = df.toDF(*names)
    by_name = {f.name.lower(): f for f in target_schema}
    unknown = [n for n in names if n.lower() not in by_name]
    if unknown:
        raise ValueError(f"INSERT into {table}: unknown columns {unknown}")
    provided = {n.lower(): n for n in names}
    out = []
    for f in target_schema:
        if f.name.lower() in provided:
            out.append(
                F.col(provided[f.name.lower()]).cast(f.dataType).alias(f.name)
            )
        else:
            out.append(F.lit(None).cast(f.dataType).alias(f.name))
    return renamed.select(*out)


# ---------------------------------------------------------------------------
# INSERT INTO t [(cols)] <select|values>
# ---------------------------------------------------------------------------

_INSERT_HEAD_RE = re.compile(rf"(?is)^\s*insert\s+into\s+({_TABLE})\s*")


def _paren_group_end(s: str, start: int) -> int:
    """Index just past the ``)`` closing the ``(`` at ``s[start]`` —
    quote-aware paren-depth scan, so a quoted column name containing
    ``)`` does not truncate the group (ADVICE r7 #4)."""
    depth, i, n, quote = 0, start, len(s), None
    while i < n:
        c = s[i]
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError(f"unbalanced parentheses in INSERT: {s[:120]}")


def _insert(engine, sql: str) -> DataFrame:
    # Strip comments like every other handler: statement_kind classifies
    # a `-- comment\ninsert ...` as 'insert', so the parse here must see
    # the same comment-free text (ADVICE r7 #4).
    s = _strip_comments(sql).strip()
    m = _INSERT_HEAD_RE.match(s)
    if not m:
        raise ValueError(f"unparsable INSERT statement: {sql[:120]}")
    table = _resolve_table(engine, m.group(1))
    _refuse_dynamic(engine, table, "INSERT")
    rest, cols = s[m.end():].lstrip(), None
    if rest.startswith("("):
        end = _paren_group_end(rest, 0)
        inner = rest[1:end - 1]
        # `insert into t (select ...)` parenthesizes the BODY, not a
        # column list — only a non-query group is the column list.
        if not re.match(r"(?is)^\s*(select|with|values)\b", inner):
            cols = [
                c.strip().strip('"') for c in _split_top_level_args(inner)
            ]
            rest = rest[end:]
    body = rest.strip().rstrip(";")
    # r16: the versioned write is the ONLY action — non-deterministic
    # body expressions still evaluate exactly once (the contract the
    # former localCheckpoint bought with an extra materialization job),
    # and store.append counts the rows on the write's Observation
    # instead of a separate count job. 3 Spark jobs per INSERT -> 1. A
    # 0-row INSERT commits no version.
    src = _run_select(engine, body)
    n = engine.store.append(
        engine.spark, table, _aligned_for_insert(engine, table, src, cols)
    )
    return _summary(engine, rows_inserted=n)


# ---------------------------------------------------------------------------
# INSERT ALL|FIRST [when .. then] into t (cols) values (exprs) .. <select>
# ---------------------------------------------------------------------------

_INTO_RE = re.compile(
    rf"(?is)\binto\s+({_TABLE})\s*(\([^)]*\))?\s*(values\s*\()?"
)


def _parse_into_items(clause: str) -> list[dict]:
    """Parse a run of `into t (cols) values (exprs)` items."""
    items, pos = [], 0
    while True:
        m = _INTO_RE.search(clause, pos)
        if not m:
            break
        cols = (
            [c.strip().strip('"') for c in _split_top_level_args(m.group(2)[1:-1])]
            if m.group(2)
            else None
        )
        vals = None
        pos = m.end()
        if m.group(3):
            depth, i = 1, m.end()
            while i < len(clause) and depth:
                if clause[i] == "(":
                    depth += 1
                elif clause[i] == ")":
                    depth -= 1
                i += 1
            vals = _split_top_level_args(clause[m.end() : i - 1])
            pos = i
        items.append({"table": m.group(1), "cols": cols, "values": vals})
    return items


def _insert_multi(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    head = re.match(r"(?is)^\s*insert\s+(all|first)\b", s)
    mode = head.group(1).lower()
    rest = s[head.end() :]
    # The select body starts at the first top-level SELECT/WITH.
    bm = _scan_top(rest, r"(?:select|with)\b")
    if not bm:
        raise ValueError("INSERT ALL requires a trailing SELECT/WITH body")
    clause_text, body = rest[: bm.start()], rest[bm.start() :]

    # Split the clause text into WHEN/ELSE groups.
    groups: list[dict] = []  # {'cond': str|None, 'else': bool, 'items': [...]}
    bounds = []
    for m in re.finditer(r"(?is)\b(when|else)\b", clause_text):
        t = _scan_top(clause_text, r"(?:when|else)\b", m.start())
        if t is not None and t.start() == m.start():  # top-level only
            bounds.append((m.start(), m.group(1).lower()))
    if not bounds:
        groups.append(
            {"cond": None, "else": False, "items": _parse_into_items(clause_text)}
        )
    else:
        for idx, (pos, kw) in enumerate(bounds):
            end = bounds[idx + 1][0] if idx + 1 < len(bounds) else len(clause_text)
            seg = clause_text[pos:end]
            if kw == "when":
                wm = re.match(r"(?is)^when\s+(.*?)\bthen\b", seg)
                if not wm:
                    raise ValueError(f"unparsable WHEN clause: {seg[:80]}")
                groups.append(
                    {
                        "cond": wm.group(1).strip(),
                        "else": False,
                        "items": _parse_into_items(seg[wm.end() :]),
                    }
                )
            else:
                groups.append(
                    {
                        "cond": None,
                        "else": True,
                        "items": _parse_into_items(seg[len("else") :]),
                    }
                )

    src = engine.query(body).localCheckpoint()  # evaluated exactly once
    matched_any = F.lit(False)
    first_claimed = F.lit(False)
    results: dict[str, int] = {}
    for g in groups:
        if g["else"]:
            rows = src.filter(~matched_any)
        elif g["cond"] is None:
            rows = src
        else:
            cond = F.expr(transpile(g["cond"]))
            if mode == "first":
                rows = src.filter(cond & ~first_claimed)
                first_claimed = first_claimed | cond
            else:
                rows = src.filter(cond)
            matched_any = matched_any | cond
        for item in g["items"]:
            table = _resolve_table(engine, item["table"])
            _refuse_dynamic(engine, table, "INSERT")
            if item["values"] is not None:
                names = item["cols"] or [
                    f"col{i+1}" for i in range(len(item["values"]))
                ]
                proj = rows.select(
                    *[
                        F.expr(transpile(v)).alias(n)
                        for v, n in zip(item["values"], names)
                    ]
                )
            else:
                proj = rows
            n = engine.store.append(
                engine.spark,
                table,
                _aligned_for_insert(engine, table, proj, item["cols"]),
            )
            results[table] = results.get(table, 0) + n
    return local_frame(
        engine.spark, sorted(results.items()), "table string, rows_inserted long"
    )


# ---------------------------------------------------------------------------
# UPDATE t [alias] SET .. [FROM src] [WHERE cond]
# ---------------------------------------------------------------------------

_UPDATE_RE = re.compile(
    rf"(?is)^\s*update\s+({_TABLE})(?:\s+(?!set\b)({_IDENT}))?\s+set\s+"
)


def _update_fast_path(engine, table, alias, assignments, cond):
    """FROM-less UPDATE: one scan + one versioned write (the matched
    count rides an Observation on the same action — no row-id
    checkpoint, no second job). Returns None when an expression needs
    the general path (e.g. a scalar subquery the stripped-alias
    rendering can't resolve)."""
    tgt = engine.store.read(engine.spark, table)

    def strip(fragment: str):
        return F.expr(_strip_alias_prefix(transpile(fragment), alias))

    try:
        pred = strip(cond) if cond else F.lit(True)
        set_map = {c.lower(): strip(e) for c, e in assignments}
        cols = [
            F.when(pred, set_map[f.name.lower()])
            .otherwise(F.col(f.name))
            .cast(f.dataType)
            .alias(f.name)
            if f.name.lower() in set_map
            else F.col(f.name)
            for f in tgt.schema
        ]
        plan, get = observed(
            tgt, n_hit=F.sum(F.when(pred, 1).otherwise(0)).cast("long")
        )
        plan = plan.select(*cols)
        events = None
        if engine.store.change_tracking(table):
            # Change manifest (r10): pre/post of matched rows where any
            # value actually changed — a pushed-down filtered scan, O(hit)
            # output. Raw events; the reader's key/digest semantics apply
            # at CDC composition time (store._compose_changes).
            events = _update_events(tgt.filter(pred), tgt.schema, cols)
    except Exception:
        return None  # general (row-id) path handles it
    engine.store.overwrite(engine.spark, table, plan, cdc_events=events)
    return _summary(engine, rows_updated=get()["n_hit"])


def _register_df(engine, df: DataFrame, *names: str) -> None:
    for n in names:
        if n:
            df.createOrReplaceTempView(n.strip('"').rsplit(".", 1)[-1])
    engine._mark_shadowed(*names)


def _set_assignments(text: str) -> list[tuple[str, str]]:
    """The ``(column, expression)`` pairs of a SET list."""
    out = []
    for part in _split_top_level_args(text):
        cm = re.match(rf"(?is)^\s*({_IDENT})\s*=\s*(.+)$", part.strip())
        if not cm:
            raise ValueError(f"unparsable SET assignment: {part[:80]}")
        out.append((cm.group(1).strip('"'), cm.group(2).strip()))
    return out


def _update(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _UPDATE_RE.match(s)
    if not m:
        raise ValueError(f"unparsable UPDATE statement: {s[:120]}")
    table = _resolve_table(engine, m.group(1))
    _refuse_dynamic(engine, table, "UPDATE")
    alias = (m.group(2) or m.group(1)).strip('"').rsplit(".", 1)[-1]
    rest = s[m.end() :]
    fm = _scan_top(rest, r"from\b")
    wm = _scan_top(rest, r"where\b")
    set_end = min(x.start() for x in (fm, wm) if x) if (fm or wm) else len(rest)
    set_text = rest[:set_end]
    src_text = rest[fm.end() : wm.start() if wm else len(rest)] if fm else None
    cond = rest[wm.end() :].strip() if wm else None

    assignments = _set_assignments(set_text)
    if src_text is None:
        fast = _update_fast_path(engine, table, alias, assignments, cond)
        if fast is not None:
            return fast

    engine._register_views()
    tgt = _with_rid(engine, table)
    _register_df(engine, tgt, alias, m.group(1))
    set_select = ", ".join(
        f"({transpile(e)}) AS __set_{i}" for i, (_, e) in enumerate(assignments)
    )
    from_clause = f"{alias}" + (
        f", {transpile(src_text.strip())}" if src_text else ""
    )
    match_sql = (
        f"SELECT {alias}.{_RID} AS {_RID}, true AS __dml_hit__, {set_select} "
        f"FROM {from_clause}"
        + (f" WHERE {transpile(cond)}" if cond else "")
    )
    # r16: the matched-row count rides the checkpoint's materialization
    # via Observation — no separate count job per UPDATE statement.
    matches, metrics = materialized(
        engine.spark.sql(match_sql).dropDuplicates([_RID])
    )
    n = metrics["n"]
    joined = tgt.join(matches, _RID, "left")
    out_cols = []
    set_names = {c.lower(): i for i, (c, _) in enumerate(assignments)}
    schema = engine.store.read(engine.spark, table).schema
    for fld in schema:
        if fld.name.lower() in set_names:
            i = set_names[fld.name.lower()]
            out_cols.append(
                F.when(F.col("__dml_hit__"), F.col(f"__set_{i}"))
                .otherwise(F.col(fld.name))
                .cast(fld.dataType)
                .alias(fld.name)
            )
        else:
            out_cols.append(F.col(fld.name))
    events = None
    if engine.store.change_tracking(table):
        hits = joined.filter(F.col("__dml_hit__"))
        events = _update_events(hits, schema, out_cols)
    engine.store.overwrite(
        engine.spark, table, joined.select(*out_cols), cdc_events=events
    )
    return _summary(engine, rows_updated=n)


def _update_events(hits: DataFrame, schema, post_cols: list) -> DataFrame:
    """Change manifest (r10) of updated rows: for each row of ``hits``
    whose value changed, its preimage (the ``schema`` columns) and its
    postimage (``post_cols``). Callers build it only for a table with
    change tracking: the store discards it otherwise, and building it
    is eager analysis on the driver."""
    names = [f.name for f in schema]
    paired = hits.select(
        F.struct(*names).alias("_pre"), F.struct(*post_cols).alias("_post")
    ).filter(~F.col("_pre").eqNullSafe(F.col("_post")))
    return (
        paired.select("_pre.*")
        .withColumn("change_type", F.lit("update_preimage"))
        .unionByName(
            paired.select("_post.*").withColumn(
                "change_type", F.lit("update_postimage")
            )
        )
    )


# ---------------------------------------------------------------------------
# DELETE FROM t [alias] [USING src] [WHERE cond]
# ---------------------------------------------------------------------------

_DELETE_RE = re.compile(
    rf"(?is)^\s*delete\s+from\s+({_TABLE})(?:\s+(?!using\b|where\b)({_IDENT}))?\s*(.*)$"
)


def _strip_alias_prefix(cond: str, alias: str) -> str:
    """Drop `alias.` qualifications outside quoted strings."""
    rx = re.compile(rf"(?i)\b{re.escape(alias)}\s*\.\s*")
    out, i, n, quote = [], 0, len(cond), None
    while i < n:
        c = cond[i]
        if quote:
            out.append(c)
            if c == quote:
                quote = None
            i += 1
        elif c in "'\"":
            quote = c
            out.append(c)
            i += 1
        else:
            m = rx.match(cond, i)
            if m:
                i = m.end()
            else:
                out.append(c)
                i += 1
    return "".join(out)


def _delete(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DELETE_RE.match(s)
    if not m:
        raise ValueError(f"unparsable DELETE statement: {s[:120]}")
    table = _resolve_table(engine, m.group(1))
    _refuse_dynamic(engine, table, "DELETE")
    alias = (m.group(2) or m.group(1)).strip('"').rsplit(".", 1)[-1]
    rest = m.group(3) or ""
    um = _scan_top(rest, r"using\b")
    wm = _scan_top(rest, r"where\b")
    cond = rest[wm.end() :].strip() if wm else None

    if um is None:
        # Predicate delete -> deletion-vector merge-on-read fast path.
        pred = (
            F.expr(_strip_alias_prefix(transpile(cond), alias))
            if cond
            else F.lit(True)
        )
        n = engine.store.delete_where(engine.spark, table, pred)
        return _summary(engine, rows_deleted=n)

    src_text = rest[um.end() : wm.start() if wm else len(rest)].strip()
    engine._register_views()
    tgt = _with_rid(engine, table)
    _register_df(engine, tgt, alias, m.group(1))
    match_sql = (
        f"SELECT {alias}.{_RID} AS {_RID} FROM {alias}, {src_text}"
        + (f" WHERE {transpile(cond)}" if cond else "")
    )
    ids, metrics = materialized(
        engine.spark.sql(match_sql).dropDuplicates([_RID])
    )
    n = metrics["n"]
    kept = tgt.join(ids, _RID, "left_anti").drop(_RID)
    events = None
    if engine.store.change_tracking(table):
        events = (
            tgt.join(ids, _RID, "left_semi")
            .drop(_RID)
            .withColumn("change_type", F.lit("delete"))
        )
    engine.store.overwrite(engine.spark, table, kept, cdc_events=events)
    return _summary(engine, rows_deleted=n)


# ---------------------------------------------------------------------------
# MERGE INTO t USING src ON cond WHEN ...
# ---------------------------------------------------------------------------

_MERGE_RE = re.compile(
    rf"(?is)^\s*merge\s+into\s+({_TABLE})(?:\s+(?!using\b)({_IDENT}))?\s+using\s+"
)


_MERGE_HEADER = (
    r"(?is)\bwhen\s+(not\s+matched|matched)\s*(?:and\s+(.*?))?\s*then\s+"
    r"(update\s+set\s+|delete\b|insert\b)"
)
_SRC_HIT, _TAG = "__dml_src_hit__", "__dml_tag__"


def _merge_clauses(when_text: str, schema) -> list[dict]:
    """The WHEN clauses in statement order: ``matched`` (bool), ``extra``
    (the AND condition or None), ``action``, and ``values`` mapping a
    lower-cased target column to the SQL it takes (SET, or INSERT)."""
    headers, cm = [], _scan_top(when_text, _MERGE_HEADER)
    while cm:  # top level only: a quoted "when matched" is no clause
        headers.append(cm)
        cm = _scan_top(when_text, _MERGE_HEADER, cm.end())
    if not headers:
        raise ValueError("MERGE requires at least one WHEN clause")
    clauses = []
    for cm, nxt in zip(headers, [*headers[1:], None]):
        body = when_text[cm.end() : nxt.start() if nxt else None].strip()
        action = cm.group(3).lower().split()[0]
        pairs = _set_assignments(body) if action == "update" else []
        if action == "insert":
            im = re.match(r"(?is)^(?:\(([^)]*)\)\s*)?values\s*\((.*)\)\s*$", body)
            if not im:
                raise ValueError(f"unparsable MERGE INSERT: {body[:80]}")
            cols = (
                [c.strip().strip('"').rsplit(".", 1)[-1]
                 for c in _split_top_level_args(im.group(1))]
                if im.group(1)
                else [f.name for f in schema]
            )
            vals = _split_top_level_args(im.group(2))
            if len(vals) != len(cols):
                raise ValueError(
                    f"MERGE INSERT: {len(cols)} columns, {len(vals)} values"
                )
            pairs = list(zip(cols, vals))
        values = {c.lower(): e for c, e in pairs}
        unknown = sorted(set(values) - {f.name.lower() for f in schema})
        if unknown:
            raise ValueError(f"MERGE {action.upper()}: unknown columns {unknown}")
        clauses.append({
            "matched": "not" not in cm.group(1).lower(),
            "extra": (cm.group(2) or "").strip() or None,
            "action": action,
            "values": values,
        })
    for i, c in enumerate(clauses):
        if c["extra"] is None and any(
            d["matched"] == c["matched"] for d in clauses[i + 1 :]
        ):
            raise ValueError(
                "MERGE: a WHEN clause without an AND condition must be the "
                "last of its kind (MATCHED / NOT MATCHED)"
            )
    return clauses


def _case(guards: list[str], values: list[str]) -> str:
    return f"CASE {' '.join(f'WHEN {g} THEN {v}' for g, v in zip(guards, values))} END"


def _merge(engine, sql: str) -> DataFrame:
    """One plan, one commit: ``target FULL OUTER JOIN source ON <on>``,
    each pair tagged with the first WHEN clause (statement order) whose
    AND condition holds, one pair kept per target row, and the new
    version written by a single ``store.overwrite``. Matching sees the
    target as of statement start. When several source rows match one
    target row, the pair with the earliest clause wins, ties broken
    arbitrarily (Snowflake's ERROR_ON_NONDETERMINISTIC_MERGE=false)."""
    s = _strip_comments(sql).strip().rstrip(";")
    m = _MERGE_RE.match(s)
    if not m:
        raise ValueError(f"unparsable MERGE statement: {s[:120]}")
    table = _resolve_table(engine, m.group(1))
    _refuse_dynamic(engine, table, "MERGE")
    alias = (m.group(2) or m.group(1)).strip('"').rsplit(".", 1)[-1]
    rest = s[m.end() :]
    om = _scan_top(rest, r"on\b")
    if not om:
        raise ValueError("MERGE requires an ON clause")
    src_part = rest[: om.start()].strip()
    after_on = rest[om.end() :]
    w1 = _scan_top(after_on, r"when\b")
    if not w1:
        raise ValueError("MERGE requires at least one WHEN clause")
    on_cond = after_on[: w1.start()].strip()
    schema = engine.store.read(engine.spark, table).schema
    clauses = _merge_clauses(after_on[w1.start() :], schema)

    # src: bare table (with optional alias) or (subquery) alias. Not
    # checkpointed: the commit's write is the only action over it, as
    # for INSERT, so it is evaluated once.
    sm = re.match(rf"(?is)^\(\s*(.*)\s*\)\s*(?:as\s+)?({_IDENT})?\s*$", src_part)
    if sm:
        src_df = engine.query(sm.group(1))
        src_alias = (sm.group(2) or "__dml_src__").strip('"')
    else:
        tm = re.match(rf"(?is)^({_TABLE})(?:\s+({_IDENT}))?\s*$", src_part)
        if not tm:
            raise ValueError(f"unparsable MERGE source: {src_part[:80]}")
        src_df = engine.store.read(engine.spark, _resolve_table(engine, tm.group(1)))
        src_alias = (tm.group(2) or tm.group(1)).strip('"').rsplit(".", 1)[-1]

    engine._register_views()
    tgt = engine.store.read(engine.spark, table).withColumn(
        _RID, F.monotonically_increasing_id()
    )
    _register_df(engine, tgt, alias, m.group(1))
    _register_df(engine, src_df.withColumn(_SRC_HIT, F.lit(True)), src_alias)

    matched = f"{alias}.{_RID} IS NOT NULL AND {src_alias}.{_SRC_HIT} IS NOT NULL"
    guards = [
        f"({matched if c['matched'] else f'{alias}.{_RID} IS NULL'})"
        + (f" AND ({transpile(c['extra'])})" if c["extra"] else "")
        for c in clauses
    ]
    # A clause's values are evaluated only on the pairs it tags.
    value_cols = {
        (i, col): f"__dml_c{i}_{j}"
        for i, c in enumerate(clauses)
        for j, col in enumerate(c["values"])
    }
    tags = [str(i) for i in range(len(clauses))]
    selects = [f"{alias}.*", f"{_case(guards, tags)} AS {_TAG}"]
    for (i, col), name in value_cols.items():
        expr = f"({transpile(clauses[i]['values'][col])})"
        selects.append(f"{_case(guards[: i + 1], ['NULL'] * i + [expr])} AS {name}")
    pairs = engine.spark.sql(
        f"SELECT {', '.join(selects)} FROM {alias} "
        f"FULL OUTER JOIN {src_alias} ON ({transpile(on_cond)})"
    )

    # One pair per target row, the earliest clause first. Source-only
    # pairs each get their own negative key: they never share a window.
    tag = F.col(_TAG)
    key = F.coalesce(F.col(_RID), F.lit(-1) - F.monotonically_increasing_id())
    rank = F.row_number().over(Window.partitionBy(key).orderBy(tag.asc_nulls_last()))
    one = pairs.withColumn("__dml_rank__", rank).filter("__dml_rank__ = 1")

    def tagged(action: str):
        ids = [i for i, c in enumerate(clauses) if c["action"] == action]
        return F.coalesce(tag.isin(ids), F.lit(False)) if ids else F.lit(False)

    is_ins, is_upd, is_del = tagged("insert"), tagged("update"), tagged("delete")
    counts = {
        f"rows_{k}": F.sum(c.cast("long"))
        for k, c in (("inserted", is_ins), ("updated", is_upd), ("deleted", is_del))
    }
    tracked = engine.store.change_tracking(table)
    if tracked:
        # the new version and its CDC events derive from one evaluation
        one, n = materialized(one, **counts)
    else:
        one, get = observed(one, **counts)

    new_cols = []
    for fld in schema:
        col = F.col(fld.name)
        for i in reversed(range(len(clauses))):
            name = value_cols.get((i, fld.name.lower()))
            if name is not None:
                col = F.when(tag == i, F.col(name).cast(fld.dataType)).otherwise(col)
        new_cols.append(col.alias(fld.name))
    final = one.filter(is_ins | (F.col(_RID).isNotNull() & ~is_del)).select(*new_cols)

    events = None
    if tracked:
        events = (
            one.filter(is_del).select(*[f.name for f in schema])
            .withColumn("change_type", F.lit("delete"))
            .unionByName(_update_events(one.filter(is_upd), schema, new_cols))
            .unionByName(
                one.filter(is_ins).select(*new_cols)
                .withColumn("change_type", F.lit("insert"))
            )
        )
    engine.store.overwrite(engine.spark, table, final, cdc_events=events)
    return _summary(engine, **(n if tracked else get()))


# ---------------------------------------------------------------------------
# CREATE [OR REPLACE] TABLE t AS <select> / TRUNCATE [TABLE] t
# ---------------------------------------------------------------------------

_CTAS_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?(?:temp(?:orary)?\s+|transient\s+)?"
    rf"table\s+({_TABLE})\s+as\s*(.*)$"
)
_LIKE_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?(?:temp(?:orary)?\s+|transient\s+)?"
    rf"table\s+({_TABLE})\s+like\s+({_TABLE})\s*$"
)
_CLONE_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?(?:temp(?:orary)?\s+|transient\s+)?"
    rf"table\s+({_TABLE})\s+clone\s+({_TABLE})"
    r"(?:\s+at\s*\(\s*(version|timestamp)\s*=>\s*([^)]+?)\s*\))?\s*$"
)
_UNDROP_RE = re.compile(rf"(?is)^\s*undrop\s+table\s+({_TABLE})\s*$")


def _ctas(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    cm = _CLONE_RE.match(s)
    if cm:
        # CREATE TABLE .. CLONE (r11): zero-copy — the store hard-links
        # the source version's files; optional AT(VERSION => v) /
        # AT(TIMESTAMP => 'ts') clones a historical version
        # (time-travel clone; the timestamp resolves to the latest
        # version whose commit time is <= ts, same rule as the AT
        # read clause).
        target = _clean_ident(cm.group(2))
        src = _resolve_table(engine, cm.group(3))
        version = None
        if cm.group(4):
            kind, raw = cm.group(4).lower(), cm.group(5).strip()
            if kind == "version":
                version = int(raw)
            else:
                import datetime as _dt

                ts = _dt.datetime.fromisoformat(raw.strip("'"))
                if ts.tzinfo is None:
                    ts = ts.replace(tzinfo=_dt.timezone.utc)
                cutoff = ts.timestamp()
                eligible = [
                    r["version"]
                    for r in engine.store.history(
                        engine.spark, src
                    ).collect()
                    if r["ts_unix"] <= cutoff
                ]
                if not eligible:
                    raise ValueError(
                        f"CLONE {src} AT(TIMESTAMP => {raw}): no "
                        "committed version at or before that time"
                    )
                version = max(eligible)
        _refuse_dynamic(engine, target, "CREATE TABLE ... CLONE into")
        engine.store.clone_table(
            engine.spark,
            src,
            target,
            version=version,
            replace=bool(cm.group(1)),
        )
        return _summary(engine, tables_cloned=1)
    lm = _LIKE_RE.match(s)
    if lm:
        # CREATE TABLE .. LIKE: schema-only copy (Snowflake's empty
        # clone of column definitions; no rows, no file sharing).
        target = _clean_ident(lm.group(2))
        src = _resolve_table(engine, lm.group(3))
        _refuse_dynamic(engine, target, "CREATE TABLE ... LIKE into")
        if engine.store.exists(target) and not lm.group(1):
            raise ValueError(f"table already exists: {target}")
        template = engine.store.read(engine.spark, src).limit(0)
        engine.store.overwrite(
            engine.spark, target, template,
            partition_by=engine.store.partition_by(src),
        )
        return _summary(engine, rows_inserted=0)
    m = _CTAS_RE.match(s)
    if not m:
        raise ValueError(
            "only CREATE [OR REPLACE] TABLE .. AS SELECT / .. LIKE is "
            f"supported (got: {s[:100]})"
        )
    replace = bool(m.group(1))
    table = _clean_ident(m.group(2))
    if engine.store.exists(table.rsplit(".", 1)[-1]) and not engine.store.exists(
        table
    ):
        table = table.rsplit(".", 1)[-1]
    if table.rsplit(".", 1)[-1].lower() in engine.store.dynamic_tables():
        # clobbering a dynamic table's backing data while its metadata
        # survives would leave a zombie definition (r13)
        raise ValueError(
            f"{table} is a dynamic table — use CREATE OR REPLACE "
            "DYNAMIC TABLE (or DROP DYNAMIC TABLE first)"
        )
    body = m.group(3).strip()
    # `create temp table t as ( select ... )` — the reference wraps the
    # body in parens (salesforce_bulk_load.sql:14-16). Strip the pair
    # only when the opening paren closes at the very end.
    if body.startswith("(") and body.endswith(")"):
        depth, quote, closes_at_end = 0, None, True
        for i, c in enumerate(body):
            if quote:
                if c == quote:
                    quote = None
            elif c in "'\"":
                quote = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and i < len(body) - 1:
                    closes_at_end = False
                    break
        if closes_at_end:
            body = body[1:-1]
    df, get = observed(engine.query(body))
    if engine.store.exists(table):
        if not replace:
            raise ValueError(f"table already exists: {table}")
        engine.store.overwrite(engine.spark, table, df)
    else:
        engine.store.create(engine.spark, table, df)
    # One evaluation total: the write IS the only materialization; the
    # row count rides it via Observation (r16 — was a separate
    # read-back count job per CTAS).
    return _summary(engine, rows_inserted=get()["n"])


_TRUNCATE_RE = re.compile(rf"(?is)^\s*truncate\s+(?:table\s+)?({_TABLE})\s*$")


def _truncate(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _TRUNCATE_RE.match(s)
    if not m:
        raise ValueError(f"unparsable TRUNCATE statement: {s[:120]}")
    table = _resolve_table(engine, m.group(1))
    _refuse_dynamic(engine, table, "TRUNCATE")
    cur = engine.store.read(engine.spark, table)
    n = cur.count()
    engine.store.overwrite(engine.spark, table, cur.limit(0))
    return _summary(engine, rows_deleted=n)


# ---------------------------------------------------------------------------
# metadata statements: SHOW TABLES / DESCRIBE [TABLE] t / DESCRIBE HISTORY t
# ---------------------------------------------------------------------------

_SHOW_RE = re.compile(r"(?is)^\s*show\s+tables\s*$")
_SHOW_POLICIES_RE = re.compile(r"(?is)^\s*show\s+masking\s+policies\s*$")
_SHOW_RA_POLICIES_RE = re.compile(
    r"(?is)^\s*show\s+row\s+access\s+policies\s*$"
)
_SHOW_PK_RE = re.compile(r"(?is)^\s*show\s+primary\s+keys\s*$")
_SHOW_COLUMNS_RE = re.compile(
    rf"(?is)^\s*show\s+columns\s+in\s+(?:table\s+)?({_TABLE})\s*$"
)
_DESC_RE = re.compile(
    rf"(?is)^\s*(?:describe|desc)\s+(history\s+|table\s+)?({_TABLE})\s*$"
)


def _show(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    if _SHOW_POLICIES_RE.match(s):
        # kind filter: row_access entries share the policy store but
        # have no 'param'/'returns' (ADVICE r8 #2 KeyError)
        rows = sorted(
            (n, p["param"], p["returns"], p["body"])
            for n, p in engine.store.policies().items()
            if p.get("kind") == "masking"
        )
        return local_frame(
            engine.spark, rows, "name string, param string, returns string, body string"
        )
    if _SHOW_RA_POLICIES_RE.match(s):
        rows = sorted(
            (
                n,
                ", ".join(f"{pn} {pt}" for pn, pt in p["params"]),
                p["body"],
            )
            for n, p in engine.store.policies().items()
            if p.get("kind") == "row_access"
        )
        return local_frame(
            engine.spark, rows, "name string, signature string, body string"
        )
    m = _SHOW_COLUMNS_RE.match(s)
    if m:
        # SHOW COLUMNS IN [TABLE] <t> (r12): the logical post-evolution
        # schema — masking attachments and column ordinal included so
        # schema-evolution scripts can introspect what a rename moved.
        table = _resolve_table(engine, m.group(1))
        masked = {
            c.lower(): p
            for c, p in engine.store.masking_for(table).items()
        }
        pcol = engine.store.partition_by(table)
        df = engine.store.read(engine.spark, table)
        rows = [
            (
                table,
                f.name,
                i + 1,
                f.dataType.simpleString(),
                f.nullable,
                masked.get(f.name.lower()),
                f.name == pcol,
            )
            for i, f in enumerate(df.schema.fields)
        ]
        return local_frame(
            engine.spark,
            rows,
            "table_name string, column_name string, ordinal int, "
            "data_type string, nullable boolean, masking_policy string, "
            "is_partition boolean",
        )
    if _SHOW_STREAMS_RE.match(s):
        rows = sorted(
            (n, st["table"], st["offset"])
            for n, st in engine.store.streams().items()
        )
        return local_frame(
            engine.spark, rows, "name string, table_name string, offset long"
        )
    if _SHOW_VARIABLES_RE.match(s):
        rows = sorted(
            (n, str(v), type(v).__name__)
            for n, v in engine.session_vars.items()
        )
        return local_frame(
            engine.spark, rows, "name string, value string, type string"
        )
    if _SHOW_VIEWS_RE.match(s):
        rows = sorted(
            (n, v["sql"]) for n, v in engine.store.views().items()
        )
        return local_frame(engine.spark, rows, "name string, definition string")
    if _SHOW_DTS_RE.match(s):
        rows = sorted(
            (
                n,
                d["state"],
                "DOWNSTREAM"
                if d.get("lag_s") is None
                else f"{d['lag_s']} seconds",
                d.get("last_refresh"),
                d["sql"],
            )
            for n, d in engine.store.dynamic_tables().items()
        )
        return local_frame(
            engine.spark,
            rows,
            "name string, state string, target_lag string, "
            "last_refresh string, definition string",
        )
    if _SHOW_TASKS_RE.match(s):
        rows = sorted(
            (
                n,
                t["state"],
                ", ".join(t.get("after", [])),
                t.get("schedule"),
                t.get("when"),
                t["sql"],
                t.get("last_run"),
            )
            for n, t in engine.store.tasks().items()
        )
        return local_frame(
            engine.spark,
            rows,
            "name string, state string, after string, schedule string, "
            "condition string, definition string, last_run string",
        )
    if _SHOW_SEQUENCES_RE.match(s):
        rows = sorted(
            (n, sq["start"], sq["increment"], sq["counter"])
            for n, sq in engine.store.sequences().items()
        )
        return local_frame(
            engine.spark,
            rows,
            "name string, start long, increment long, next_value long",
        )
    if _SHOW_PK_RE.match(s):
        import os as _os

        rows = []
        root = engine.store.root
        if _os.path.isdir(root):
            for entry in sorted(_os.listdir(root)):
                logical = entry.replace("__", ".")
                if not engine.store.exists(logical):
                    continue
                pk = engine.store.primary_key(logical)
                if pk:
                    rows.append(
                        (logical, pk["name"], ", ".join(pk["columns"]))
                    )
        return local_frame(
            engine.spark,
            rows,
            "table_name string, constraint_name string, columns string",
        )
    if not _SHOW_RE.match(s):
        raise ValueError(f"unsupported SHOW statement: {s[:80]}")
    import os

    by_name: dict[str, tuple] = {}
    root = engine.store.root
    if os.path.isdir(root):
        for entry in sorted(os.listdir(root)):
            logical = entry.replace("__", ".")
            if engine.store.exists(logical):
                by_name[logical] = (
                    logical,
                    "table",
                    engine.store.partition_by(logical),
                    engine.store.current_version(logical),
                )
    # Seeds write through to the store (engine.seed -> overwrite), so a
    # seed would otherwise list twice; present it once, as a seed.
    for name in sorted(engine.seeds):
        prior = by_name.get(name)
        by_name[name] = (name, "seed", None, prior[3] if prior else None)
    return local_frame(
        engine.spark,
        sorted(by_name.values()),
        "name string, kind string, partition_by string, version long",
    )


def _describe(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DESC_RE.match(s)
    if not m:
        raise ValueError(f"unparsable DESCRIBE statement: {s[:80]}")
    table = _resolve_table(engine, m.group(2))
    if (m.group(1) or "").strip().lower() == "history":
        return engine.store.history(engine.spark, table)
    pcol = engine.store.partition_by(table)
    df = engine.store.read(engine.spark, table)
    return local_frame(
        engine.spark,
        [
            (
                f.name,
                f.dataType.simpleString(),
                f.nullable,
                "partition" if f.name == pcol else None,
            )
            for f in df.schema
        ],
        "name string, type string, nullable boolean, special string",
    )


# ---------------------------------------------------------------------------
# maintenance statements: OPTIMIZE / VACUUM / RESTORE (Delta's surface,
# routed to ops/compact and the store's retention/rollback machinery)
# ---------------------------------------------------------------------------

_OPTIMIZE_RE = re.compile(
    rf"(?is)^\s*optimize\s+({_TABLE})(?:\s+zorder\s+by\s*\(([^)]*)\))?\s*$"
)
_VACUUM_RE = re.compile(
    rf"(?is)^\s*vacuum\s+({_TABLE})(?:\s+retain\s+(\d+(?:\.\d+)?)\s+hours)?\s*$"
)
_RESTORE_RE = re.compile(
    rf"(?is)^\s*restore\s+(?:table\s+)?({_TABLE})\s+to\s+version"
    r"(?:\s+as\s+of)?\s+(\d+)\s*$"
)


def _optimize(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _OPTIMIZE_RE.match(s)
    if not m:
        raise ValueError(f"unparsable OPTIMIZE statement: {s[:80]}")
    from ..ops.compact import compact

    table = _resolve_table(engine, m.group(1))
    zcols = (
        [c.strip().strip('"') for c in _split_top_level_args(m.group(2))]
        if m.group(2)
        else None
    )
    n_files = compact(engine.spark, engine.store, table, zorder_by=zcols)
    return local_frame(engine.spark, [(n_files,)], "num_files long")


def _vacuum(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _VACUUM_RE.match(s)
    if not m:
        raise ValueError(f"unparsable VACUUM statement: {s[:80]}")
    table = _resolve_table(engine, m.group(1))
    retain = float(m.group(2)) if m.group(2) else None
    before = len(engine.store.versions(table))
    engine.store.vacuum(table, retain_hours=retain)
    after = len(engine.store.versions(table))
    return local_frame(engine.spark, [(before - after,)], "versions_removed long")


def _restore(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _RESTORE_RE.match(s)
    if not m:
        raise ValueError(f"unparsable RESTORE statement: {s[:80]}")
    table = _resolve_table(engine, m.group(1))
    new_v = engine.store.restore(table, int(m.group(2)))
    return local_frame(engine.spark, [(new_v,)], "restored_as_version long")


# ---------------------------------------------------------------------------
# COPY INTO: Snowflake's bulk load/unload statement.
#   COPY INTO t FROM '/path' FILE_FORMAT = (TYPE = 'CSV' SKIP_HEADER = 1)
#   COPY INTO '/path' FROM t FILE_FORMAT = (TYPE = 'PARQUET')
# ---------------------------------------------------------------------------

_COPY_RE = re.compile(
    rf"(?is)^\s*copy\s+into\s+('[^']+'|{_TABLE})\s+from\s+('[^']+'|{_TABLE})"
    r"(?:\s+file_format\s*=\s*\(([^)]*)\))?\s*$"
)
_FMT_OPT_RE = re.compile(r"(?is)\b(\w+)\s*=\s*('[^']*'|\S+)")


def _parse_format(opts: str | None) -> dict:
    out = {"type": "parquet"}
    for m in _FMT_OPT_RE.finditer(opts or ""):
        out[m.group(1).lower()] = m.group(2).strip("'").lower()
    return out


def _copy(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _COPY_RE.match(s)
    if not m:
        raise ValueError(f"unparsable COPY INTO statement: {s[:100]}")
    target, source = m.group(1), m.group(2)
    fmt = _parse_format(m.group(3))
    ftype = fmt["type"]
    if ftype not in ("csv", "parquet", "json"):
        raise ValueError(f"unsupported FILE_FORMAT TYPE: {ftype}")

    if target.startswith("'"):
        # UNLOAD: table -> files (deterministic overwrite of the target
        # directory; Snowflake's stage semantics are append-only, but a
        # filesystem unload that silently mixes runs is a footgun).
        table = _resolve_table(engine, source)
        df, get = observed(engine.store.read(engine.spark, table))
        writer = df.write.mode("overwrite")
        if ftype == "csv":
            writer = writer.option("header", True)
        getattr(writer, ftype)(target.strip("'"))
        return _summary(engine, rows_unloaded=get()["n"])

    # LOAD: files -> table (append; COPY INTO's one-way door)
    table = _resolve_table(engine, target)
    _refuse_dynamic(engine, table, "COPY INTO")
    reader = engine.spark.read
    if ftype == "csv":
        # SKIP_HEADER = 1 is Snowflake's header switch; COPY matches
        # columns positionally either way, like we do below.
        reader = reader.option("header", fmt.get("skip_header") == "1")
    df = getattr(reader, ftype)(source.strip("'"))
    n = engine.store.append(
        engine.spark, table, _aligned_for_insert(engine, table, df, None)
    )
    return _summary(engine, rows_loaded=n)


# ---------------------------------------------------------------------------
# ALTER TABLE: ADD COLUMN (metadata-only) / RENAME TO
# ---------------------------------------------------------------------------

_ALTER_ADD_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+add\s+(?:column\s+)?"
    rf"({_IDENT})\s+([A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*$"
)
_ALTER_RENAME_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+rename\s+to\s+({_TABLE})\s*$"
)
_ALTER_SET_MASK_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+modify\s+(?:column\s+)?"
    rf"({_IDENT})\s+set\s+masking\s+policy\s+({_IDENT})\s*$"
)
_ALTER_UNSET_MASK_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+modify\s+(?:column\s+)?"
    rf"({_IDENT})\s+unset\s+masking\s+policy\s*$"
)
_ALTER_ADD_PK_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+add\s+"
    rf"(?:constraint\s+({_IDENT})\s+)?primary\s+key\s*"
    rf"\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)\s*$"
)
_ALTER_DROP_PK_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+drop\s+primary\s+key\s*$"
)
_ALTER_ADD_CHECK_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+add\s+constraint\s+"
    rf"({_IDENT})\s+check\s*\((.+)\)\s*$"
)
_ALTER_DROP_CHECK_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+drop\s+constraint\s+"
    rf"({_IDENT})\s*$"
)
_ALTER_ADD_RA_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+add\s+row\s+access\s+policy\s+"
    rf"({_IDENT})\s+on\s*\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)\s*$"
)
_ALTER_DROP_RA_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+drop\s+"
    rf"(?:row\s+access\s+policy\s+({_IDENT})|all\s+row\s+access\s+policies)"
    rf"\s*$"
)
_ALTER_CHANGE_TRACKING_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+set\s+change_tracking\s*=\s*"
    rf"(true|false)\s*$"
)
_ALTER_SWAP_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+swap\s+with\s+({_TABLE})\s*$"
)
_ALTER_DROP_COL_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+drop\s+(?:column\s+)?"
    rf"({_IDENT})\s*$"
)
_ALTER_RENAME_COL_RE = re.compile(
    rf"(?is)^\s*alter\s+table\s+({_TABLE})\s+rename\s+column\s+"
    rf"({_IDENT})\s+to\s+({_IDENT})\s*$"
)


def _snowflake_type_to_spark(type_sql: str) -> str:
    """Map a Snowflake type token (varchar(40), number(10,2), ...) to a
    Spark type string by riding the cast rewriter."""
    rendered = transpile(f"null::{type_sql.strip()}")
    m = re.match(r"(?is)^CAST\(null AS (.+)\)$", rendered.strip())
    return m.group(1) if m else type_sql.strip()


def _alter(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _ALTER_ADD_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        col = m.group(2).strip('"')
        engine.store.add_column(
            engine.spark, table, col, _snowflake_type_to_spark(m.group(3))
        )
        return _summary(engine, columns_added=1)
    m = _ALTER_RENAME_RE.match(s)
    if m:
        old = _resolve_table(engine, m.group(1))
        engine.store.rename_table(old, _clean_ident(m.group(2)))
        return _summary(engine, tables_renamed=1)
    m = _ALTER_RENAME_COL_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        engine.store.rename_column(
            engine.spark, table, m.group(2).strip('"'), m.group(3).strip('"')
        )
        return _summary(engine, columns_renamed=1)
    m = _ALTER_SWAP_RE.match(s)
    if m:
        # Snowflake ALTER TABLE a SWAP WITH b: the blue-green deploy
        # idiom — atomic content exchange, O(1) directory renames.
        a = _resolve_table(engine, m.group(1))
        b = _resolve_table(engine, m.group(2))
        engine.store.swap_tables(a, b)
        return _summary(engine, tables_swapped=1)
    m = _ALTER_ADD_PK_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        cname = (m.group(2) or "pk").strip('"')
        cols = [c.strip().strip('"') for c in m.group(3).split(",")]
        engine.store.set_primary_key(table, cname, cols)
        return _summary(engine, primary_keys_added=1)
    m = _ALTER_DROP_PK_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        had = engine.store.primary_key(table) is not None
        engine.store.drop_primary_key(table)
        return _summary(engine, primary_keys_dropped=1 if had else 0)
    m = _ALTER_ADD_CHECK_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        expr = transpile(m.group(3).strip())
        # probe-analyze against the table NOW so a broken predicate
        # fails the ALTER, not the next write
        engine.store.read(engine.spark, table).limit(0).filter(
            F.expr(expr)
        ).schema
        engine.store.add_check_constraint(
            table, m.group(2).strip('"'), expr
        )
        return _summary(engine, constraints_added=1)
    m = _ALTER_DROP_CHECK_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        cname = m.group(2).strip('"')
        cons = engine.store.meta(table).get("constraints") or {}
        if cname not in cons:
            # Snowflake errors on dropping a nonexistent constraint;
            # a silent no-op would mask typos in governance scripts
            raise ValueError(
                f"constraint {cname} not found on {table} "
                f"(have: {sorted(cons) or 'none'})"
            )
        engine.store.drop_check_constraint(table, cname)
        return _summary(engine, constraints_dropped=1)
    m = _ALTER_DROP_COL_RE.match(s)
    if m:
        # checked after every other DROP form: the anchored single-ident
        # tail can only be a column name here
        table = _resolve_table(engine, m.group(1))
        engine.store.drop_column(engine.spark, table, m.group(2).strip('"'))
        return _summary(engine, columns_dropped=1)
    m = _ALTER_ADD_RA_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        cols = [c.strip().strip('"') for c in m.group(3).split(",")]
        engine.store.add_row_access_policy(
            table, m.group(2).strip('"'), cols
        )
        return _summary(engine, row_access_policies_added=1)
    m = _ALTER_DROP_RA_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        attached = engine.store.row_access_for(table)
        if m.group(2) is not None:  # named form must match what's on
            want = m.group(2).strip('"').lower()
            if not attached or attached.get("policy") != want:
                raise ValueError(
                    f"row access policy {m.group(2)} is not attached to "
                    f"{table}"
                )
        engine.store.drop_row_access_policy(table)
        return _summary(
            engine, row_access_policies_dropped=1 if attached else 0
        )
    m = _ALTER_CHANGE_TRACKING_RE.match(s)
    if m:
        # Snowflake ALTER TABLE t SET CHANGE_TRACKING = TRUE: gates the
        # per-commit row-manifest cost (store.change_tracking). CREATE
        # STREAM sets it implicitly, as in Snowflake.
        table = _resolve_table(engine, m.group(1))
        engine.store.set_change_tracking(
            table, m.group(2).lower() == "true"
        )
        return _summary(engine, change_tracking_set=1)
    m = _ALTER_SET_MASK_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        col = m.group(2).strip('"')
        pname = m.group(3).strip('"')
        _validate_mask_attachment(engine, table, col, pname)
        engine.store.set_column_masking(table, col, pname)
        return _summary(engine, masking_policies_set=1)
    m = _ALTER_UNSET_MASK_RE.match(s)
    if m:
        table = _resolve_table(engine, m.group(1))
        engine.store.unset_column_masking(table, m.group(2).strip('"'))
        return _summary(engine, masking_policies_unset=1)
    raise ValueError(
        "supported ALTER TABLE forms: ADD [COLUMN] <name> <type>, "
        "DROP [COLUMN] <name>, RENAME COLUMN <old> TO <new>, "
        "RENAME TO <name>, MODIFY [COLUMN] <name> SET/UNSET MASKING "
        "POLICY, ADD/DROP ROW ACCESS POLICY <p> [ON (cols)], "
        "ADD [CONSTRAINT <n>] PRIMARY KEY (cols), DROP PRIMARY KEY, "
        "SET CHANGE_TRACKING = TRUE|FALSE, "
        "ADD CONSTRAINT <n> CHECK (<expr>), DROP CONSTRAINT <n> "
        f"(got: {s[:90]})"
    )


def _type_class(spark_type_sql: str) -> str:
    """Coarse type family for masking-policy/column compatibility:
    Snowflake's NUMBER covers every integral width, so numerics are one
    class; strings one; everything else matches on its own name."""
    t = spark_type_sql.strip().lower()
    base = re.match(r"[a-z]+", t)
    base = base.group(0) if base else t
    if base in (
        "tinyint", "smallint", "int", "integer", "bigint", "long",
        "byte", "short", "float", "double", "decimal", "numeric",
    ):
        return "numeric"
    if base in ("string", "varchar", "char"):
        return "string"
    return base


def _validate_mask_attachment(engine, table: str, col: str, pname: str):
    """ADVICE r8 #3: attaching a policy must fail NOW if (a) it is not
    a masking policy, or (b) its declared parameter/return type family
    differs from the column's — a string policy on a double column
    otherwise only fails at first read."""
    pol = engine.store.policies().get(pname.lower())
    if pol is None:
        raise ValueError(f"masking policy not found: {pname}")
    if pol.get("kind") != "masking":
        raise ValueError(
            f"{pname} is a {pol.get('kind')} policy — only MASKING "
            "policies can be set on a column"
        )
    schema = engine.store.read(engine.spark, table).schema
    if col not in schema.names:
        raise ValueError(f"column {col} not found on {table}")
    col_class = _type_class(schema[col].dataType.simpleString())
    ret_class = _type_class(_snowflake_type_to_spark(pol["returns"]))
    if ret_class != col_class:
        raise ValueError(
            f"masking policy {pname} returns "
            f"{pol['returns']} ({ret_class}) but {table}.{col} is "
            f"{schema[col].dataType.simpleString()} ({col_class}) — "
            "the policy's return type must match the column"
        )


# ---------------------------------------------------------------------------
# Masking policies (r8, Snowflake governance parity): the policy object
# is a named SQL lambda (val <type>) -> expr; attachment binds it to a
# table column; enforcement happens at the engine's read surface
# (Engine._policy_masked). current_role() resolves from engine.vars.
# ---------------------------------------------------------------------------

_TYPE_TOKEN = r"[A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
_CREATE_POLICY_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?masking\s+policy\s+({_IDENT})"
    rf"\s+as\s*\(\s*({_IDENT})\s+({_TYPE_TOKEN})\s*\)"
    rf"\s*returns\s+({_TYPE_TOKEN})\s*->\s*(.+)$"
)
_DROP_POLICY_RE = re.compile(
    rf"(?is)^\s*drop\s+masking\s+policy\s+({_IDENT})\s*$"
)

# Row access policies (r9, Snowflake governance parity): multi-parameter
# boolean lambda bound to a tuple of table columns; rows where the body
# evaluates TRUE are visible. One policy per table (Snowflake's limit).
_CREATE_RA_POLICY_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?row\s+access\s+policy\s+"
    rf"({_IDENT})\s+as\s*\(((?:[^()]|\([^()]*\))*)\)"
    rf"\s*returns\s+boolean\s*->\s*(.+)$"
)
_DROP_RA_POLICY_RE = re.compile(
    rf"(?is)^\s*drop\s+row\s+access\s+policy\s+({_IDENT})\s*$"
)


def _split_params(raw: str) -> list[tuple[str, str]]:
    """Split ``a string, b number(10,2)`` respecting nested parens."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(raw):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(raw[start:i])
            start = i + 1
    parts.append(raw[start:])
    out = []
    for p in parts:
        p = p.strip()
        if not p:
            continue
        m = re.match(rf"(?s)^({_IDENT})\s+(.+)$", p)
        if not m:
            raise ValueError(f"unparsable policy parameter: {p!r}")
        out.append((m.group(1).strip('"'), m.group(2).strip()))
    return out


def _probe_policy_body(engine, body: str, params: list[tuple[str, str]]):
    """Parse+analyze the body NOW (typed-null parameters, PUBLIC role)
    so a broken policy fails at CREATE, not at first read. Returns the
    probed Spark result type."""
    from .dag import _sub_ident_outside_quotes

    probe = transpile(body)
    probe = re.sub(r"(?i)\bcurrent_role\s*\(\s*\)", "'PUBLIC'", probe)
    # Two-phase substitution: a parameter name could collide with a
    # column name substituted for an earlier parameter.
    for i, (pname, _ptype) in enumerate(params):
        probe = _sub_ident_outside_quotes(probe, pname, f"__POLICY_P{i}__")
    for i, (_pname, ptype) in enumerate(params):
        probe = probe.replace(
            f"__POLICY_P{i}__",
            f"CAST(NULL AS {_snowflake_type_to_spark(ptype)})",
        )
    # F.expr is lazy — force parse+analysis via a schema probe.
    return engine.spark.range(1).select(F.expr(probe)).schema[0].dataType


def _create_policy(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    ra = _CREATE_RA_POLICY_RE.match(s)
    if ra:
        replace, name, raw_params, body = (
            bool(ra.group(1)),
            ra.group(2).strip('"'),
            ra.group(3),
            ra.group(4).strip(),
        )
        params = _split_params(raw_params)
        if not params:
            raise ValueError(
                "a row access policy needs at least one parameter"
            )
        dtype = _probe_policy_body(engine, body, params)
        if dtype.typeName() != "boolean":
            raise ValueError(
                f"row access policy {name} must RETURN BOOLEAN — body "
                f"evaluates to {dtype.simpleString()}"
            )
        engine.store.create_row_access_policy(
            name, params, body, replace=replace
        )
        return _summary(engine, policies_created=1)
    m = _CREATE_POLICY_RE.match(s)
    if not m:
        raise ValueError(
            "unparsable CREATE POLICY (expected: CREATE [OR REPLACE] "
            "MASKING POLICY <name> AS (<param> <type>) RETURNS <type> "
            "-> <expr>, or CREATE [OR REPLACE] ROW ACCESS POLICY <name> "
            f"AS (<params...>) RETURNS BOOLEAN -> <expr>): {s[:120]}"
        )
    replace, name, param, ptype, _rtype, body = (
        bool(m.group(1)),
        m.group(2).strip('"'),
        m.group(3).strip('"'),
        m.group(4),
        m.group(5),
        m.group(6).strip(),
    )
    # Validate the body NOW (typed-null parameter, PUBLIC role): a
    # broken policy must fail at CREATE, not at first read.
    _probe_policy_body(engine, body, [(param, ptype)])
    engine.store.create_masking_policy(
        name, param, _rtype, body, replace=replace
    )
    return _summary(engine, policies_created=1)


def _drop_policy(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DROP_POLICY_RE.match(s)
    want_kind = "masking"
    if not m:
        m = _DROP_RA_POLICY_RE.match(s)
        want_kind = "row_access"
    if not m:
        raise ValueError(
            f"unparsable DROP MASKING/ROW ACCESS POLICY: {s[:90]}"
        )
    name = m.group(1).strip('"')
    pol = engine.store.policies().get(name.lower())
    if pol is not None and pol.get("kind") != want_kind:
        # the two statement forms address their own namespace, as in
        # Snowflake — refuse a cross-kind drop instead of silently
        # removing the other object
        raise ValueError(
            f"{name} is a {pol.get('kind')} policy — use DROP "
            f"{'MASKING' if pol.get('kind') == 'masking' else 'ROW ACCESS'}"
            " POLICY"
        )
    engine.store.drop_masking_policy(name)
    return _summary(engine, policies_dropped=1)


# Snowflake STREAM objects (r9): offset-tracked CDC over the versioned
# store, consumed by DML (Engine advances the offset after a consuming
# statement succeeds).
_CREATE_STREAM_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?stream\s+({_IDENT})\s+"
    rf"on\s+table\s+({_TABLE})"
    rf"(?:\s+at\s*\(\s*version\s*=>\s*(\d+)\s*\))?\s*$"
)
_DROP_STREAM_RE = re.compile(
    rf"(?is)^\s*drop\s+stream\s+({_IDENT})\s*$"
)
_SHOW_STREAMS_RE = re.compile(r"(?is)^\s*show\s+streams\s*$")


def _create_stream(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _CREATE_STREAM_RE.match(s)
    if not m:
        raise ValueError(
            "unparsable CREATE STREAM (expected: CREATE [OR REPLACE] "
            "STREAM <name> ON TABLE <t> [AT(VERSION => n)]): "
            f"{s[:120]}"
        )
    table = _resolve_table(engine, m.group(3))
    engine.store.create_stream(
        m.group(2).strip('"'),
        table,
        offset=int(m.group(4)) if m.group(4) is not None else None,
        replace=bool(m.group(1)),
    )
    return _summary(engine, streams_created=1)


def _drop_stream(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DROP_STREAM_RE.match(s)
    if not m:
        raise ValueError(f"unparsable DROP STREAM: {s[:90]}")
    engine.store.drop_stream(m.group(1).strip('"'))
    return _summary(engine, streams_dropped=1)


_CREATE_SEQ_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?sequence\s+({_IDENT})"
    r"(?:\s+start(?:\s+with)?\s*(?:=\s*)?(-?\d+))?"
    r"(?:\s+increment(?:\s+by)?\s*(?:=\s*)?(-?\d+))?\s*$"
)
_DROP_SEQ_RE = re.compile(rf"(?is)^\s*drop\s+sequence\s+({_IDENT})\s*$")
_SHOW_SEQUENCES_RE = re.compile(r"(?is)^\s*show\s+sequences\s*$")


def _create_sequence(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _CREATE_SEQ_RE.match(s)
    if not m:
        raise ValueError(
            "unparsable CREATE SEQUENCE (expected: CREATE [OR REPLACE] "
            "SEQUENCE <name> [START [WITH] n] [INCREMENT [BY] m]): "
            f"{s[:120]}"
        )
    engine.store.create_sequence(
        m.group(2).strip('"'),
        start=int(m.group(3)) if m.group(3) is not None else 1,
        increment=int(m.group(4)) if m.group(4) is not None else 1,
        replace=bool(m.group(1)),
    )
    return _summary(engine, sequences_created=1)


def _drop_sequence(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DROP_SEQ_RE.match(s)
    if not m:
        raise ValueError(f"unparsable DROP SEQUENCE: {s[:90]}")
    engine.store.drop_sequence(m.group(1).strip('"'))
    return _summary(engine, sequences_dropped=1)


_SET_VAR_RE = re.compile(
    r"(?is)^\s*set\s+([A-Za-z_]\w*)\s*=\s*(.+?)\s*;?\s*$"
)
_UNSET_VAR_RE = re.compile(r"(?is)^\s*unset\s+([A-Za-z_]\w*)\s*;?\s*$")
_SHOW_VARIABLES_RE = re.compile(r"(?is)^\s*show\s+variables\s*$")


def _set_var(engine, sql: str) -> DataFrame:
    """Snowflake session variables: SET x = <scalar expr>; referenced
    as $x (Engine substitutes outside string literals). The expression
    evaluates NOW against the session (constant folding on the driver
    for literals/arithmetic), and the VALUE is stored — Snowflake
    semantics, not a lazy macro."""
    s = _strip_comments(sql).strip()
    m = _SET_VAR_RE.match(s)
    if not m:
        raise ValueError(f"unparsable SET statement: {s[:90]}")
    name = m.group(1).lower()
    val = engine.spark.sql(f"select {m.group(2)} as v").collect()[0]["v"]
    engine.session_vars[name] = val
    return _summary(engine, variables_set=1)


def _unset_var(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip()
    m = _UNSET_VAR_RE.match(s)
    if not m:
        raise ValueError(f"unparsable UNSET statement: {s[:90]}")
    name = m.group(1).lower()
    if name not in engine.session_vars:
        raise ValueError(f"session variable not set: ${name}")
    engine.session_vars.pop(name)
    return _summary(engine, variables_unset=1)


_CREATE_VIEW_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?view\s+({_IDENT})\s+as\s+(.+)$"
)
_DROP_VIEW_RE = re.compile(rf"(?is)^\s*drop\s+view\s+({_IDENT})\s*$")
_SHOW_VIEWS_RE = re.compile(r"(?is)^\s*show\s+views\s*$")


def _create_view(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _CREATE_VIEW_RE.match(s)
    if not m:
        raise ValueError(
            "unparsable CREATE VIEW (expected: CREATE [OR REPLACE] VIEW "
            f"<name> AS <select>): {s[:120]}"
        )
    name, body = m.group(2).strip('"'), m.group(3).strip()
    engine.store.create_view(name, body, replace=bool(m.group(1)))
    # validate the body resolves NOW (Snowflake errors at create on a
    # broken definition) -- analyze the transpiled body directly so the
    # user sees the real unresolved relation, and drop the registration
    # if analysis fails
    from .sqlfront import transpile as _transpile

    try:
        engine._register_views()
        engine.spark.sql(_transpile(body))
    except Exception:
        engine.store.drop_view(name)
        raise
    return _summary(engine, views_created=1)


def _drop_view(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DROP_VIEW_RE.match(s)
    if not m:
        raise ValueError(f"unparsable DROP VIEW: {s[:90]}")
    engine.store.drop_view(m.group(1).strip('"'))
    return _summary(engine, views_dropped=1)


_CREATE_TASK_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?task\s+({_IDENT})"
    r"(?:\s+schedule\s*=\s*'([^']*)')?"
    rf"(?:\s+after\s+({_IDENT}(?:\s*,\s*{_IDENT})*))?"
    r"\s+(?=when\b|as\b)(.+)$"
)
_DROP_TASK_RE = re.compile(rf"(?is)^\s*drop\s+task\s+({_IDENT})\s*$")
_ALTER_TASK_RE = re.compile(
    rf"(?is)^\s*alter\s+task\s+({_IDENT})\s+(resume|suspend)\s*$"
)
_ALTER_TASK_SCHED_RE = re.compile(
    rf"(?is)^\s*alter\s+task\s+({_IDENT})\s+"
    r"(?:set\s+schedule\s*=\s*'([^']*)'|unset\s+schedule)\s*$"
)
_EXECUTE_TASK_RE = re.compile(
    rf"(?is)^\s*execute\s+task\s+({_IDENT})\s*$"
)
_SHOW_TASKS_RE = re.compile(r"(?is)^\s*show\s+tasks\s*$")


def _create_task(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _CREATE_TASK_RE.match(s)
    if not m:
        raise ValueError(
            "unparsable CREATE TASK (expected: CREATE [OR REPLACE] TASK "
            "<name> [SCHEDULE = '...'] [AFTER t1[, t2...]] "
            f"[WHEN <bool expr>] AS <statement>): {s[:120]}"
        )
    after = (
        [a.strip().strip('"') for a in m.group(4).split(",")]
        if m.group(4)
        else []
    )
    # WHEN <expr> AS <body>: the boundary is the first TOP-LEVEL `as`
    # (paren-aware, so CAST(x AS INT) inside the condition survives).
    tail = m.group(5)
    when = None
    wm = re.match(r"(?is)^when\s+", tail)
    if wm:
        rest = tail[wm.end():]
        am = _scan_top(rest, r"as\b")
        if not am:
            raise ValueError(
                f"CREATE TASK: WHEN clause without AS <statement>: "
                f"{s[:120]}"
            )
        when = rest[: am.start()].strip()
        body = rest[am.end():].strip()
    else:
        body = re.sub(r"(?is)^as\s+", "", tail).strip()
    engine.store.create_task(
        m.group(2).strip('"'),
        body,
        after=after,
        schedule=m.group(3),
        replace=bool(m.group(1)),
        when=when,
    )
    return _summary(engine, tasks_created=1)


def _drop_task(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DROP_TASK_RE.match(s)
    if not m:
        raise ValueError(f"unparsable DROP TASK: {s[:90]}")
    engine.store.drop_task(m.group(1).strip('"'))
    return _summary(engine, tasks_dropped=1)


def _alter_task(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _ALTER_TASK_RE.match(s)
    if m:
        state = (
            "started" if m.group(2).lower() == "resume" else "suspended"
        )
        engine.store.set_task_state(m.group(1).strip('"'), state)
        return _summary(engine, tasks_altered=1)
    m = _ALTER_TASK_SCHED_RE.match(s)
    if m:
        # Snowflake ALTER TASK t SET SCHEDULE = '...' / UNSET SCHEDULE:
        # validated like CREATE; clearing last_run so the new schedule
        # anchors fresh at the next run_due tick.
        engine.store.set_task_schedule(m.group(1).strip('"'), m.group(2))
        return _summary(engine, tasks_altered=1)
    raise ValueError(
        "unparsable ALTER TASK (expected RESUME|SUSPEND|SET SCHEDULE = "
        f"'...'|UNSET SCHEDULE): {s[:90]}"
    )


def _execute_task(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _EXECUTE_TASK_RE.match(s)
    if not m:
        raise ValueError(f"unparsable EXECUTE TASK: {s[:90]}")
    return engine.execute_task(m.group(1).strip('"'))


_CREATE_DT_RE = re.compile(
    rf"(?is)^\s*create\s+(or\s+replace\s+)?dynamic\s+table\s+"
    rf"({_IDENT})"
    r"((?:\s+\w+\s*=\s*(?:'[^']*'|\w+))*)"
    r"\s+as\s+(.+)$"
)
_DROP_DT_RE = re.compile(
    rf"(?is)^\s*drop\s+dynamic\s+table\s+(if\s+exists\s+)?"
    rf"({_IDENT})\s*$"
)
_ALTER_DT_RE = re.compile(
    rf"(?is)^\s*alter\s+dynamic\s+table\s+({_IDENT})\s+"
    r"(refresh|suspend|resume)\s*$"
)
_ALTER_DT_SET_RE = re.compile(
    rf"(?is)^\s*alter\s+dynamic\s+table\s+({_IDENT})\s+set\s+"
    r"target_lag\s*=\s*('[^']*'|\w+)\s*$"
)
_SHOW_DTS_RE = re.compile(r"(?is)^\s*show\s+dynamic\s+tables\s*$")


def _parse_target_lag(val: str) -> int | None:
    """'<n> seconds|minutes|hours|days' -> seconds; DOWNSTREAM -> None
    (no self-schedule — refreshed manually or by an upstream)."""
    v = val.strip().strip("'\"").lower()
    if v == "downstream":
        return None
    m = re.fullmatch(r"(\d+)\s*(second|minute|hour|day)s?", v)
    if not m:
        raise ValueError(
            f"unparsable TARGET_LAG {val!r} (expected '<n> "
            "seconds|minutes|hours|days' or DOWNSTREAM)"
        )
    return int(m.group(1)) * {
        "second": 1,
        "minute": 60,
        "hour": 3600,
        "day": 86400,
    }[m.group(2)]


def _create_dynamic(engine, sql: str) -> DataFrame:
    """CREATE [OR REPLACE] DYNAMIC TABLE name TARGET_LAG = '...'
    [WAREHOUSE = w] [REFRESH_MODE = m] [INITIALIZE = i] AS <select>
    (r13). WAREHOUSE is accepted and ignored (no warehouses here);
    REFRESH_MODE AUTO (default) / INCREMENTAL append the transformed
    insert-only delta when the query shape allows it (O(delta)),
    falling back to the FULL recompute; every refresh is gated by the
    O(1) base-version check. The initial build runs at CREATE
    (Snowflake's INITIALIZE = ON_CREATE default)."""
    s = _strip_comments(sql).strip().rstrip(";")
    m = _CREATE_DT_RE.match(s)
    if not m:
        raise ValueError(
            "unparsable CREATE DYNAMIC TABLE (expected: CREATE [OR "
            "REPLACE] DYNAMIC TABLE <name> TARGET_LAG = '...' "
            f"[WAREHOUSE = w] AS <select>): {s[:120]}"
        )
    name = m.group(2).strip('"')
    opts = {
        k.lower(): v
        for k, v in re.findall(r"(\w+)\s*=\s*('[^']*'|\w+)", m.group(3) or "")
    }
    unknown = set(opts) - {
        "target_lag", "warehouse", "refresh_mode", "initialize",
    }
    if unknown:
        raise ValueError(
            f"CREATE DYNAMIC TABLE: unsupported options {sorted(unknown)}"
        )
    if "target_lag" not in opts:
        raise ValueError("CREATE DYNAMIC TABLE requires TARGET_LAG")
    lag = _parse_target_lag(opts["target_lag"])
    mode = opts.get("refresh_mode", "auto").strip("'\"").lower()
    if mode not in ("auto", "full", "incremental"):
        raise ValueError(
            f"CREATE DYNAMIC TABLE: REFRESH_MODE must be "
            f"AUTO|FULL|INCREMENTAL, got {mode!r}"
        )
    engine.store.create_dynamic_table(
        name,
        m.group(4).strip(),
        lag,
        replace=bool(m.group(1)),
        refresh_mode=mode,
    )
    engine.refresh_dynamic_table(name, force=True)
    return _summary(engine, dynamic_tables_created=1)


def _drop_dynamic(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DROP_DT_RE.match(s)
    if not m:
        raise ValueError(f"unparsable DROP DYNAMIC TABLE: {s[:90]}")
    name = m.group(2).strip('"')
    if name.lower() not in engine.store.dynamic_tables():
        if m.group(1):
            return _summary(engine, dynamic_tables_dropped=0)
        raise ValueError(f"dynamic table not found: {name}")
    engine.store.drop_dynamic_table(name)
    if engine.store.exists(name.lower()):
        engine.store.drop(name.lower())
    return _summary(engine, dynamic_tables_dropped=1)


def _alter_dynamic(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    sm = _ALTER_DT_SET_RE.match(s)
    if sm:
        # ALTER DYNAMIC TABLE t SET TARGET_LAG = '...' | DOWNSTREAM
        # (r14): retune the schedule without rebuilding; the next lag
        # tick uses the new value, DOWNSTREAM drops self-scheduling.
        name = sm.group(1).strip('"')
        engine.store.set_dynamic_table_lag(
            name, _parse_target_lag(sm.group(2))
        )
        return _summary(engine, dynamic_tables_altered=1)
    m = _ALTER_DT_RE.match(s)
    if not m:
        raise ValueError(
            "unparsable ALTER DYNAMIC TABLE (expected "
            f"REFRESH|SUSPEND|RESUME|SET TARGET_LAG = ...): {s[:90]}"
        )
    name = m.group(1).strip('"')
    verb = m.group(2).lower()
    if verb == "refresh":
        status = engine.refresh_dynamic_table(name)
        return local_frame(
            engine.spark, [(name.lower(), status)], "name string, status string"
        )
    engine.store.set_dynamic_table_state(
        name, "started" if verb == "resume" else "suspended"
    )
    return _summary(engine, dynamic_tables_altered=1)


_DROP_RE = re.compile(
    rf"(?is)^\s*drop\s+table\s+(if\s+exists\s+)?({_TABLE})\s*$"
)


def _drop(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _DROP_RE.match(s)
    if not m:
        raise ValueError(f"unparsable DROP TABLE statement: {s[:90]}")
    table = _resolve_table(engine, m.group(2))
    if table.lower() in engine.store.dynamic_tables():
        raise ValueError(
            f"{table} is a dynamic table — use DROP DYNAMIC TABLE {table}"
        )
    if not engine.store.exists(table):
        if m.group(1):
            return _summary(engine, tables_dropped=0)
        raise FileNotFoundError(f"table not found: {table}")
    engine.store.drop(table)
    engine.seeds.pop(table, None)
    return _summary(engine, tables_dropped=1)


def _undrop(engine, sql: str) -> DataFrame:
    s = _strip_comments(sql).strip().rstrip(";")
    m = _UNDROP_RE.match(s)
    if not m:
        raise ValueError(f"unparsable UNDROP TABLE statement: {s[:90]}")
    engine.store.undrop_table(_clean_ident(m.group(1)))
    return _summary(engine, tables_undropped=1)


_DISPATCH = {
    "insert": _insert,
    "insert_multi": _insert_multi,
    "update": _update,
    "delete": _delete,
    "merge": _merge,
    "ctas": _ctas,
    "truncate": _truncate,
    "show": _show,
    "describe": _describe,
    "optimize": _optimize,
    "vacuum": _vacuum,
    "restore": _restore,
    "copy": _copy,
    "alter": _alter,
    "drop": _drop,
    "undrop": _undrop,
    "create_policy": _create_policy,
    "drop_policy": _drop_policy,
    "create_stream": _create_stream,
    "drop_stream": _drop_stream,
    "create_sequence": _create_sequence,
    "drop_sequence": _drop_sequence,
    "set_var": _set_var,
    "unset_var": _unset_var,
    "create_view": _create_view,
    "drop_view": _drop_view,
    "create_dynamic": _create_dynamic,
    "drop_dynamic": _drop_dynamic,
    "alter_dynamic": _alter_dynamic,
    "create_task": _create_task,
    "drop_task": _drop_task,
    "alter_task": _alter_task,
    "execute_task": _execute_task,
}


def execute(engine, sql: str, kind: str) -> DataFrame:
    return _DISPATCH[kind](engine, sql)
