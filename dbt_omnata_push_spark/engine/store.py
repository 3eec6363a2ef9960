"""Versioned parquet table store: Delta-style primitives without Delta.

The reference's tracking tables need CTAS, append, MERGE-upsert, forced
rebuild and schema widening (tracking_table_materialization.sql:17-35,
SURVEY.md §2.1 D2). This container has no Delta/Iceberg, so we provide a
minimal transactional-pointer format:

    <root>/<table>/v=<N>/part-*.parquet     immutable version directories
    <root>/<table>/v=<N>/<pcol>=<val>/...   (partitioned tables)
    <root>/<table>/_VERSION                 current version pointer
    <root>/<table>/_META                    partition spec + schema JSON

Reads resolve the pointer; every write — rewrites (merge/overwrite)
AND appends (r7c) — commits v=N+1 and atomically swaps the pointer, so
a reader never observes a half-written commit and every prior state
stays time-travelable. Appends hard-link the previous version's files
(deletion-vector sidecar included) and write only the new rows.

Partitioned tables make MERGE O(touched partitions) instead of O(table):
only partitions present in the merge source are anti-joined and
rewritten; every other partition directory is hard-linked from the
previous version (same bytes, new immutable version — the file-level
analogue of Delta's replaceWhere / Iceberg's overwrite-by-filter). The
rewrite is O(touched partitions), but every commit still links each
file of the previous version and reads list the whole version
directory, so commit and read cost grow with the partition count —
on the job_id-partitioned tracking logs, with the table's history.

On a production lakehouse this module is replaced 1:1 by Delta/Iceberg
(`MERGE INTO`, `mergeSchema`); the materialization layer only talks to
this interface.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

import threading as _threading

from .session import local_frame

# Re-entrancy registry for TableStore._write_lock: flock blocks when the
# SAME process re-locks a file through a second descriptor, so nested
# public calls (overwrite -> create) must recognize a lock they already
# hold. Thread-local: two driver threads must still exclude each other.
_HELD_LOCKS = _threading.local()



def _contains_map(dt) -> bool:
    """True when a data type contains a MapType anywhere — Spark
    cannot compare maps for equality, so CDC update detection on such
    payloads falls back to the to_json digest (r15)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _locked_write(fn):
    """Wrap a public mutating TableStore method (self, spark, name, ...)
    in the per-table writer lock (see _write_lock)."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, spark, name, *args, **kwargs):
        with self._write_lock(name):
            return fn(self, spark, name, *args, **kwargs)

    return wrapper


class TableStore:
    """``link_mode`` (judge r5 #6) abstracts the filesystem primitives
    the O(open+changed) commit paths rely on, so the cost claims
    survive object-store deployments:

    - ``"link"``: hard-link untouched files into new versions and
      rename staged directories — POSIX-only, zero data movement.
    - ``"copy"``: byte-copy instead — the S3-style posture, where the
      store has no link/rename and "move" is COPY (+ delete). On a
      real object store the byte copy becomes a server-side COPY
      request (still O(metadata), no download/upload through the
      engine); this mode exists so the commit logic is exercised
      without any POSIX-only primitive.
    - ``"auto"`` (default): link, falling back to copy per file on
      OSError (cross-device staging, FUSE mounts without link).

    The version-pointer swap itself (``os.replace`` of ``_VERSION``)
    maps to an atomic small-object PUT on any object store and needs
    no mode.
    """

    def __init__(self, root: str, link_mode: str = "auto"):
        if link_mode not in ("auto", "link", "copy"):
            raise ValueError(f"link_mode must be auto|link|copy: {link_mode}")
        self.root = root
        self.link_mode = link_mode
        # When set (transactional scripts), drop() trashes instead of
        # deleting — see defer_drops/commit_deferred_drops.
        self._drop_trash: str | None = None
        # Analyzed-DataFrame cache for read(): committed version dirs
        # and their DV sidecars are immutable, so the frame for
        # (session, version, meta-state) can be reused across
        # statements. Without it every engine._register_views pass
        # re-pays a mergeSchema footer job + analysis per table per
        # statement (guide §1.2 step 1 — remove unnecessary passes).
        # name -> (weakref(session), version, meta-stat, DataFrame)
        self._read_cache: dict[str, tuple] = {}
        # Analyzed-DataFrame cache for read_version() (r15): a version
        # directory is write-once — created, committed, then never
        # mutated (deletes/appends/restores all mint a NEW directory) —
        # so the time-travel frame can be reused across statements
        # (read_changes alone calls it twice per window). The directory
        # stat guards drop->recreate reusing a version number and
        # vacuum re-creating the path: a fresh dir has a fresh inode.
        # (name, version) -> (weakref(session), dir-stat, DataFrame)
        self._version_cache: dict[tuple[str, int], tuple] = {}
        self._cdc_manifest_cache: dict[tuple[str, int], tuple] = {}
        os.makedirs(root, exist_ok=True)
        # Complete/roll back any swap a previous process died inside
        # (r12 crash-safe SWAP; see swap_tables/_recover_swap).
        self._recover_swap()

    # -- writer serialization (r7) ----------------------------------------
    # Concurrent version-bumping writes on ONE table are a lost-update
    # hazard: two writers both read version v, both assemble v+1, and
    # the second clobbers the first's committed directory before the
    # pointer swap. Every public mutating method therefore holds an
    # exclusive per-table flock for its whole read-modify-commit span —
    # writers on the SAME table serialize (the second sees the first's
    # commit and merges on top of it), different tables proceed in
    # parallel, and readers never lock (version directories are
    # immutable, so reads are snapshot-isolated already). flock scopes
    # this to one host — exactly Delta's own posture on filesystems
    # without atomic-rename coordination (S3 needs a LogStore service);
    # a multi-driver deployment swaps this seam for a lock service.
    from contextlib import contextmanager as _contextmanager

    @_contextmanager
    def _write_lock(self, name: str):
        import fcntl

        if getattr(_HELD_LOCKS, "keys", None) is None:
            _HELD_LOCKS.keys = set()
        key = (self.root, name)
        if key in _HELD_LOCKS.keys:  # reentrant (overwrite -> create etc.)
            yield
            return
        os.makedirs(self._dir(name), exist_ok=True)
        with open(os.path.join(self._dir(name), "_LOCK"), "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            _HELD_LOCKS.keys.add(key)
            try:
                yield
            finally:
                _HELD_LOCKS.keys.discard(key)

    # -- filesystem seam ---------------------------------------------------
    def _retain_file(self, src: str, dst: str) -> None:
        """Carry one immutable data file into a new version directory
        without rewriting it through the engine."""
        if self.link_mode == "copy":
            shutil.copy2(src, dst)
            return
        try:
            os.link(src, dst)
        except OSError:
            if self.link_mode == "link":
                raise
            shutil.copy2(src, dst)

    def _promote_dir(self, src: str, dst: str) -> None:
        """Move a freshly staged partition directory into the new
        version directory (rename locally; copy+delete in copy mode —
        the object-store 'rename')."""
        if self.link_mode == "copy":
            shutil.copytree(src, dst)
            shutil.rmtree(src, ignore_errors=True)
        else:
            os.rename(src, dst)

    # -- helpers ----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name.replace(".", "__"))

    def _version_file(self, name: str) -> str:
        return os.path.join(self._dir(name), "_VERSION")

    def _meta_file(self, name: str) -> str:
        return os.path.join(self._dir(name), "_META")

    def meta(self, name: str) -> dict:
        try:
            with open(self._meta_file(name)) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def partition_by(self, name: str) -> str | None:
        return self.meta(name).get("partition_by")

    # -- metadata-attachment version stamps (r12, ADVICE r11 #2) -----------
    # CLONE AT(VERSION => v) must surface the table's metadata AS OF v,
    # not its current metadata: a clone of a pre-masking version must be
    # unmasked, a clone of a pre-constraint version unconstrained.
    # Governance/constraint setters don't bump the table version, so
    # each attachment records the version it became visible at in a
    # "meta_at" map; _meta_as_of prunes entries stamped after the cloned
    # version. Unstamped (pre-r12) entries are conservatively kept.
    def _stamp_meta_at(self, name: str, meta: dict, key: str) -> None:
        meta.setdefault("meta_at", {})[key] = self.current_version(name) or 0

    @staticmethod
    def _unstamp_meta_at(meta: dict, key: str) -> None:
        at = meta.get("meta_at")
        if at:
            at.pop(key, None)
            if not at:
                meta.pop("meta_at", None)

    # -- change tracking property (r11, VERDICT r10 #2) --------------------
    # Snowflake's CHANGE_TRACKING = TRUE / Delta's
    # delta.enableChangeDataFeed: per-ROW change manifests on keyed
    # merges/updates/deletes are paid ONLY when a consumer exists.
    # Auto-enabled by CREATE STREAM; settable via
    # ALTER TABLE ... SET CHANGE_TRACKING = TRUE. Default OFF — a
    # merge on an untracked table plans no manifest job, and CDC reads
    # over untracked windows fall back to the two-version join.
    # Append files.json manifests are ~free metadata and stay
    # unconditional.
    def change_tracking(self, name: str) -> bool:
        return bool(self.meta(name).get("change_tracking"))

    def set_change_tracking(self, name: str, enabled: bool) -> None:
        if not self.exists(name):
            raise FileNotFoundError(f"table not found: {name}")
        meta = self.meta(name)
        if enabled:
            meta["change_tracking"] = True
            self._stamp_meta_at(name, meta, "change_tracking")
        else:
            meta.pop("change_tracking", None)
            self._unstamp_meta_at(meta, "change_tracking")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def _set_meta(self, name: str, partition_by: str | None, schema: StructType):
        doc = {"partition_by": partition_by, "schema": schema.jsonValue()}
        # table-level CHECK constraints and metadata-added columns
        # survive every rewrite/merge
        old = self.meta(name)
        if old.get("constraints"):
            doc["constraints"] = old["constraints"]
        if old.get("added_columns"):
            doc["added_columns"] = old["added_columns"]
        # DROP/RENAME COLUMN read-mappings (r12) must survive rewrites:
        # a merge can hard-link files from before the DDL.
        if old.get("column_ops"):
            doc["column_ops"] = old["column_ops"]
        if old.get("masking"):
            doc["masking"] = old["masking"]
        # a row-access attachment is table metadata just like masking —
        # losing it on rewrite would silently unprotect the table
        # (ADVICE r8 #2)
        if old.get("row_access"):
            doc["row_access"] = old["row_access"]
        if old.get("primary_key"):
            doc["primary_key"] = old["primary_key"]
        if old.get("change_tracking"):
            doc["change_tracking"] = True
        if old.get("meta_at"):
            doc["meta_at"] = old["meta_at"]
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, self._meta_file(name))

    # -- CHECK constraints (r7, Delta `ALTER TABLE ADD CONSTRAINT` parity)
    def add_check_constraint(self, name: str, cname: str, expr_sql: str):
        """Register a CHECK constraint (SQL boolean expression over the
        table's columns), enforced on every subsequent write. SQL
        semantics: a row violates only when the predicate evaluates to
        FALSE — UNKNOWN (null) passes, as in standard CHECK."""
        meta = self.meta(name)
        if not meta:
            raise FileNotFoundError(f"table not found: {name}")
        cons = dict(meta.get("constraints") or {})
        cons[cname] = expr_sql
        meta["constraints"] = cons
        self._stamp_meta_at(name, meta, f"constraint:{cname.lower()}")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def set_primary_key(self, name: str, cname: str, columns: list[str]):
        """Informational PRIMARY KEY (r9, Snowflake parity: Snowflake
        records but does not enforce PK constraints). Used as the row
        identity for the CHANGES() clause (read_changes key). One PK
        per table; survives rewrites via _set_meta."""
        meta = self.meta(name)
        if not meta:
            raise FileNotFoundError(f"table not found: {name}")
        schema = StructType.fromJson(meta["schema"]) if meta.get("schema") else None
        if schema is not None:
            missing = [c for c in columns if c not in schema.names]
            if missing:
                raise ValueError(
                    f"primary key column(s) not on {name}: {missing}"
                )
        if meta.get("primary_key"):
            raise ValueError(
                f"table {name} already has a primary key "
                f"({meta['primary_key']['name']}) — drop it first"
            )
        meta["primary_key"] = {"name": cname, "columns": list(columns)}
        self._stamp_meta_at(name, meta, "primary_key")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def primary_key(self, name: str) -> dict | None:
        return self.meta(name).get("primary_key")

    def drop_primary_key(self, name: str):
        meta = self.meta(name)
        meta.pop("primary_key", None)
        self._unstamp_meta_at(meta, "primary_key")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def drop_check_constraint(self, name: str, cname: str):
        meta = self.meta(name)
        cons = dict(meta.get("constraints") or {})
        cons.pop(cname, None)
        meta["constraints"] = cons
        self._unstamp_meta_at(meta, f"constraint:{cname.lower()}")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def _enforced(self, df: DataFrame, name: str) -> DataFrame:
        """Wrap ``df`` so any CHECK-violating row fails the WRITE (a
        map-side raise_error filter — no extra scan, and the version
        pointer never swaps on failure, so a rejected write leaves the
        table exactly as it was)."""
        cons = self.meta(name).get("constraints") or {}
        for cname, sql in cons.items():
            cond = F.expr(sql)
            df = df.filter(
                F.when(cond.isNull() | cond, F.lit(True)).otherwise(
                    F.raise_error(
                        F.lit(
                            f"CHECK constraint '{cname}' violated: {sql}"
                        )
                    ).cast("boolean")
                )
            )
        return df

    def current_version(self, name: str) -> int | None:
        try:
            with open(self._version_file(name)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, NotADirectoryError, ValueError):
            # NotADirectoryError: root-level metadata FILES (_POLICIES)
            # show up in directory listings next to table dirs.
            return None

    def data_path(self, name: str) -> str:
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table not found: {name}")
        return os.path.join(self._dir(name), f"v={v}")

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def _set_version(
        self, name: str, v: int, op: str = "commit", watermark=None
    ) -> None:
        """Swap the version pointer to ``v``. The high-watermark record
        (see ``high_watermark``) is replaced by ``watermark``, the one
        for ``v``, or dropped — before the swap, so a record never
        outlives the data it describes."""
        self._put_watermark(name, v, watermark)
        tmp = self._version_file(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._version_file(name))  # atomic pointer swap
        # Operation log (DESCRIBE HISTORY analogue): one JSON line per
        # committed version. Appended AFTER the pointer swap — history
        # is advisory metadata, never the source of truth for reads —
        # so an IO failure here (disk full, crash mid-append) must not
        # propagate out of an already-committed version swap; history()
        # skips any torn line the failure left behind (ADVICE r6).
        import time

        try:
            with open(os.path.join(self._dir(name), "_LOG"), "a") as f:
                json.dump(
                    {"version": v, "op": op, "ts_unix": time.time()}, f
                )
                f.write("\n")
        except OSError:
            pass  # commit already durable; the log row is best-effort

    # -- high-watermark record ----------------------------------------------
    # An incremental model keeps the rows past max(col) of its own table
    # (transactions_daily.sql:19). Snowflake answers that MAX from
    # micro-partition metadata; this store keeps it in _WATERMARK for ONE
    # version: high_watermark scans once after any other kind of commit
    # and records the result, append folds its rows' max into the record
    # on the Observation that counts them, and every other commit drops
    # the record (_set_version). A max is kept as Spark renders it
    # (cast to string) and restored with a cast in the same session time
    # zone, so the round trip is exact and never passes through Python.
    def _watermark_file(self, name: str) -> str:
        return os.path.join(self._dir(name), "_WATERMARK")

    @staticmethod
    def _session_tz(spark: SparkSession) -> str:
        return spark.conf.get("spark.sql.session.timeZone")

    def _watermark(self, spark: SparkSession, name: str, v: int) -> dict:
        """``{col: [type, max]}`` recorded for version ``v`` in this
        session's time zone; empty when there is no such record."""
        try:
            with open(self._watermark_file(name)) as f:
                rec = json.load(f)
        except (FileNotFoundError, ValueError):
            return {}
        if rec.get("version") != v or rec.get("tz") != self._session_tz(spark):
            return {}
        return rec["cols"]

    def _put_watermark(self, name: str, v: int, watermark) -> None:
        path = self._watermark_file(name)
        if watermark is None:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            return
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": v, **watermark}, f)
        os.replace(tmp, path)

    @_locked_write
    def high_watermark(self, spark: SparkSession, name: str, col: str):
        """``max(col)`` over the current version as a typed literal
        Column, or None when the max is NULL (an empty table). Read from
        the record; when it has none for this version, one scan computes
        it and records it."""
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table not found: {name}")
        cols = self._watermark(spark, name, v)
        if col not in cols:
            df = self.read(spark, name).select(col)
            dtype = df.schema[0].dataType.simpleString()
            mx = df.agg(F.max(col).cast("string")).first()[0]
            cols = {**cols, col: [dtype, mx]}
            self._put_watermark(
                name, v, {"tz": self._session_tz(spark), "cols": cols}
            )
        dtype, mx = cols[col]
        return None if mx is None else F.lit(mx).cast(dtype)

    def vacuum(
        self,
        name: str | None = None,
        keep: int = 1,
        retain_hours: float | None = None,
        trash_retain_hours: float | None = None,
    ) -> None:
        """Delete superseded version directories.

        Two retention policies, matching Delta's VACUUM surface (r7):
        - ``keep``: count-based — superseded versions older than the
          newest ``keep`` are removed (default: current only).
        - ``retain_hours``: time-based — a superseded version also
          survives while its COMMIT time (operation log) is within the
          retention window, so time travel keeps working for the
          agreed horizon even across bursts of commits. The current
          version always survives both policies.

        NEVER called implicitly: Spark DataFrames bind to concrete file
        listings at plan time, so a live DataFrame handed out by an
        earlier read may still scan an old version. Callers vacuum only
        when no plans from prior versions remain (end of a run), like
        Delta's VACUUM retention contract.

        ``trash_retain_hours`` (r12, ADVICE r11 #4): DROP TABLE parks
        the directory under ``_trash/`` for UNDROP; Snowflake expires
        dropped tables after the time-travel retention window, so a
        store-wide vacuum purges trash entries dropped longer ago than
        this window (falls back to ``retain_hours``). Both ``None``
        keeps trash forever — UNDROP never silently loses a table the
        operator didn't agree to expire. Scoped (``name=...``) vacuums
        never touch trash.
        """
        import time as _time

        trash_window = (
            trash_retain_hours
            if trash_retain_hours is not None
            else retain_hours
        )
        if name is None and trash_window is not None:
            trash_root = os.path.join(self.root, "_trash")
            cutoff = _time.time() - trash_window * 3600.0
            if os.path.isdir(trash_root):
                for entry in os.listdir(trash_root):
                    t = os.path.join(trash_root, entry)
                    stamp = os.path.join(t, "_DROPPED_AT")
                    try:
                        with open(stamp) as f:
                            dropped = float(f.read().strip())
                    except (OSError, ValueError):
                        # pre-r12 trash entry: its drop time is at
                        # latest the directory's mtime
                        try:
                            dropped = os.stat(t).st_mtime
                        except OSError:
                            continue
                    if dropped < cutoff:
                        shutil.rmtree(t, ignore_errors=True)

        names = [name] if name else [
            n for n in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, n))
        ]
        for n in names:
            logical = n.replace("__", ".")
            cur = self.current_version(logical)
            if cur is None:
                continue
            retained_by_time: set[int] = set()
            if retain_hours is not None:
                cutoff = _time.time() - retain_hours * 3600.0
                log = os.path.join(self.root, n, "_LOG")
                try:
                    with open(log) as f:
                        for line in f:
                            if not line.strip():
                                continue
                            try:
                                rec = json.loads(line)
                            except ValueError:
                                continue
                            if rec.get("ts_unix", 0) >= cutoff:
                                retained_by_time.add(int(rec["version"]))
                    # no log (older tables): conservatively retain all
                except OSError:
                    continue
            d = os.path.join(self.root, n)
            for entry in os.listdir(d):
                if entry.startswith("v="):
                    v = int(entry[2:])
                elif entry.startswith("dv_v="):
                    v = int(entry[5:])
                elif entry.startswith("cdc_v="):
                    # change manifests (r10) vacuum with their version
                    v = int(entry[6:].split(".", 1)[0])
                else:
                    continue
                if v > cur - keep or v in retained_by_time:
                    continue
                target = os.path.join(d, entry)
                if os.path.isdir(target):
                    shutil.rmtree(target, ignore_errors=True)
                else:
                    try:
                        os.remove(target)
                    except OSError:
                        pass

    def _link_version(self, old_dir: str, new_dir: str) -> None:
        """Carry a whole version into a new version directory by
        links/copies — INCLUDING the deletion-vector sidecar, which
        lives as a SIBLING (dv_v=N), not inside v=N: a bare copytree of
        the version dir silently drops it and resurrects deleted rows
        (hypothesis-found on insert -> DV-delete -> insert, r7c)."""
        shutil.rmtree(new_dir, ignore_errors=True)
        shutil.copytree(old_dir, new_dir, copy_function=self._retain_file)
        old_dv = self._dv_dir(old_dir)
        if os.path.isdir(old_dv):
            new_dv = self._dv_dir(new_dir)
            shutil.rmtree(new_dv, ignore_errors=True)
            shutil.copytree(old_dv, new_dv, copy_function=self._retain_file)

    # -- deletion vectors ---------------------------------------------------
    @staticmethod
    def _dv_dir(version_dir: str) -> str:
        # SIBLING of the version dir (dv_v=N next to v=N), not inside
        # it: an underscore-prefixed subdir would be hidden from the
        # data scan, but Spark's listing filter also refuses to READ
        # an underscore path back ("All paths were ignored"), and a
        # plain-named subdir would leak into the data scan. A sibling
        # is invisible to the v=N scan and reads normally; vacuum
        # removes it together with its version.
        return os.path.join(
            os.path.dirname(version_dir),
            "dv_" + os.path.basename(version_dir),
        )

    @staticmethod
    def _read_dv(spark: SparkSession, dv_dir: str) -> DataFrame:
        """A deletion vector's (relpath, row_index) positions. The schema
        is given, not inferred: inference is a Spark job per read."""
        return spark.read.schema("relpath string, row_index long").parquet(dv_dir)

    @staticmethod
    def _relpath_expr(version_dir: str):
        """File identity relative to the version root — stable across
        hard-link/copy retention because _retain_file/_promote_dir keep
        basenames and partition-directory names."""
        marker = "/" + os.path.basename(version_dir) + "/"
        return F.element_at(
            F.split(F.col("_metadata.file_path"), marker), -1
        )

    def _apply_dv(
        self, spark: SparkSession, df: DataFrame, version_dir: str
    ) -> DataFrame:
        """Filter out rows listed in the version's deletion vector (a
        broadcast anti-join on (file relpath, row_index) — O(deleted)
        extra work, zero when no DV exists)."""
        dv_dir = self._dv_dir(version_dir)
        if not os.path.isdir(dv_dir):
            return df
        dv = self._read_dv(spark, dv_dir)
        marked = df.withColumn(
            "_dv_rel", self._relpath_expr(version_dir)
        ).withColumn("_dv_idx", F.col("_metadata.row_index"))
        cond = (marked["_dv_rel"] == dv["relpath"]) & (
            marked["_dv_idx"] == dv["row_index"]
        )
        return (
            marked.join(F.broadcast(dv), cond, "left_anti")
            .drop("_dv_rel", "_dv_idx")
        )

    # -- per-version physical-schema stamps (r16, guide §6) -----------------
    # read_version used to pay a distributed mergeSchema footer job on
    # the first read of EVERY historical version (the current-version
    # read pins from _META, but _META only records the CURRENT logical
    # schema, which a later widening may have moved past version v's
    # physical files). Commits that know their physical schema now
    # stamp it into the version dir as _SCHEMA.json (underscore file:
    # invisible to the data scan) in the exact shape inference returns
    # for Spark-written files (recursively all-nullable, file field
    # order; appends merge old fields first + new fields appended).
    # Hard-link/copy retention carries the stamp with the files it
    # describes — a linked version's physical schema IS the source's.
    # Best-effort and self-healing: no stamp, or a merge the stamp
    # can't prove (type drift), falls back to inference. Unpartitioned
    # tables only: a pinned schema would override the partition
    # column's directory-name type inference.

    @staticmethod
    def _schema_stamp_file(version_dir: str) -> str:
        return os.path.join(version_dir, "_SCHEMA.json")

    @classmethod
    def _all_nullable(cls, dt):
        """Recursive nullable copy — mirrors the asNullable transform
        Spark's file relations apply to inferred schemas."""
        from pyspark.sql.types import ArrayType, MapType

        if isinstance(dt, StructType):
            return StructType(
                [
                    StructField(f.name, cls._all_nullable(f.dataType), True)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(cls._all_nullable(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(
                cls._all_nullable(dt.keyType),
                cls._all_nullable(dt.valueType),
                True,
            )
        return dt

    def _stamp_version_schema(
        self, name: str, version_dir: str, schema: StructType | None
    ) -> None:
        if schema is None or self.partition_by(name):
            return
        try:
            payload = {
                "schema": self._all_nullable(schema).jsonValue()
            }
            tmp = self._schema_stamp_file(version_dir) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, self._schema_stamp_file(version_dir))
        except OSError:
            pass  # stamp is an optimization; inference remains correct

    def _read_version_stamp(self, version_dir: str) -> StructType | None:
        try:
            with open(self._schema_stamp_file(version_dir)) as f:
                return StructType.fromJson(json.load(f)["schema"])
        except (OSError, KeyError, ValueError):
            return None

    def _merge_stamp_for_append(
        self, old_dir: str, appended: StructType
    ) -> StructType | None:
        """The schema inference would return for old files + appended
        files: old stamped fields in order, then appended-only fields.
        Returns None (no stamp) when the old dir is unstamped or a
        shared field's type drifted — inference stays authoritative."""
        old = self._read_version_stamp(old_dir)
        if old is None:
            return None
        new = self._all_nullable(appended)
        have = {f.name.lower(): f for f in old.fields}
        extra = []
        for f in new.fields:
            prev = have.get(f.name.lower())
            if prev is None:
                extra.append(f)
            elif prev.dataType != f.dataType:
                return None
        return StructType(list(old.fields) + extra)

    @_locked_write
    def delete_where(
        self,
        spark: SparkSession,
        name: str,
        predicate=None,
        *,
        using: DataFrame | None = None,
        on: list[str] | None = None,
    ) -> int:
        """Targeted row deletion via DELETION VECTORS (the Delta/Iceberg
        merge-on-read DELETE): matching row positions are recorded in a
        per-version ``_dv`` sidecar and every data file is carried into
        the new version unrewritten — commit cost is O(matched rows +
        #files metadata), not O(table). Reads apply the vector as a
        broadcast anti-join; rewrite paths (overwrite, unpartitioned
        merge, OPTIMIZE/compact) read through the vector and so
        MATERIALIZE the deletes, clearing the sidecar naturally.

        Two match forms:
        - ``predicate``: a Column predicate, applied as a filter.
        - ``using`` + ``on`` (DELETE ... USING, VERDICT r14 #2): rows
          whose ``on``-columns match any row of the ``using`` frame are
          deleted via a SEMI-JOIN — the key set never touches the
          driver, so a 10M-key CDC window deletes as a distributed
          join (size-gated broadcast of the key frame; AQE otherwise),
          not a collected IN-list.

        The new vector is the old one plus the newly matched positions,
        written as one file. Without change tracking that write is the
        only action: two Spark jobs (the scan shuffled to one partition,
        then the write), with the count observed on it. A tracked table
        first checkpoints the matched rows, which feed both the vector
        and the CDC sidecar.

        Returns the number of newly deleted row positions.
        """
        if (predicate is None) == (using is None):
            raise ValueError(
                "delete_where: exactly one of predicate / using"
            )
        if using is not None and not on:
            raise ValueError("delete_where: using requires on=[cols]")
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table not found: {name}")
        self._clear_cdc_sidecars(name, v + 1)
        old_dir = os.path.join(self._dir(name), f"v={v}")
        raw = spark.read.option("mergeSchema", "true")
        meta = self.meta(name)
        if meta.get("schema"):
            # r15: pin from _META for every table (same rationale as
            # _read_current) — skips the footer-inference job.
            raw = raw.schema(StructType.fromJson(meta["schema"]))
        base = raw.parquet(old_dir)
        data_cols = base.columns
        marked = base.select(
            *data_cols,
            self._relpath_expr(old_dir).alias("relpath"),
            F.col("_metadata.row_index").alias("row_index"),
        )
        if using is not None:
            from ..ops.partitioning import maybe_broadcast

            keys = maybe_broadcast(using.select(*on).distinct())
            matched = marked.join(keys, on, "left_semi")
        else:
            matched = marked.filter(predicate)
        tracked = self.change_tracking(name)
        if not tracked:
            matched = matched.select("relpath", "row_index")
        old_dv_dir = self._dv_dir(old_dir)
        old_dv = None
        if os.path.isdir(old_dv_dir):
            old_dv = self._read_dv(spark, old_dv_dir)
            # rows already deleted by a prior DV are not deleted again,
            # so the union below is disjoint and needs no distinct
            matched = matched.join(
                old_dv, ["relpath", "row_index"], "left_anti"
            )
        # The deleted-position count rides the DV write. Only the CDC
        # sidecar needs the matched rows twice, so only a tracked table
        # checkpoints them.
        from ..ops.observe import materialized, observed

        if tracked:
            new_hits, metrics = materialized(matched)
        else:
            new_hits, get = observed(matched)
        merged_dv = new_hits.select("relpath", "row_index")
        if old_dv is not None:
            merged_dv = merged_dv.unionByName(old_dv)

        new_dir = os.path.join(self._dir(name), f"v={v + 1}")
        shutil.rmtree(new_dir, ignore_errors=True)
        for root, dirs, files in os.walk(old_dir):
            if os.path.basename(root) == "_dv":
                continue
            dirs[:] = [d for d in dirs if d != "_dv"]
            rel = os.path.relpath(root, old_dir)
            dst_root = new_dir if rel == "." else os.path.join(new_dir, rel)
            os.makedirs(dst_root, exist_ok=True)
            for fname in files:
                self._retain_file(
                    os.path.join(root, fname), os.path.join(dst_root, fname)
                )
        staging = os.path.join(self._dir(name), "_dv_staging")
        shutil.rmtree(staging, ignore_errors=True)
        # One DV file. repartition, not coalesce: coalesce(1) would pull
        # the whole old-version scan into a single task.
        merged_dv.repartition(1).write.mode("overwrite").parquet(staging)
        self._promote_dir(staging, self._dv_dir(new_dir))
        n_new = metrics["n"] if tracked else get()["n"]
        # Change manifest (r10): the newly deleted rows, from the same
        # checkpointed frame the DV was derived from — O(deleted).
        # Gated (r11): no CDC consumer -> no sidecar job.
        if tracked:
            self.write_cdc_events(
                spark,
                name,
                v + 1,
                new_hits.select(*data_cols).withColumn(
                    "change_type", F.lit("delete")
                ),
            )
        self._set_version(name, v + 1, op="delete")
        return n_new

    # -- operations -------------------------------------------------------
    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Current-version read, cached per (session, version, meta).

        The key covers everything the plan depends on: the version
        pointer (data files + DV sidecar are immutable once committed)
        and the _META file stat (schema pin, column_ops, added
        columns; os.replace gives it a fresh inode on every change).
        Governance (masking/row access) is applied by the ENGINE on
        top of this frame, never here, so policy changes don't key."""
        import weakref

        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table not found: {name}")
        try:
            st = os.stat(self._meta_file(name))
            mkey = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            mkey = None
        cached = self._read_cache.get(name)
        if cached is not None:
            c_spark, c_v, c_mkey, c_df = cached
            if c_spark() is spark and c_v == v and c_mkey == mkey:
                return c_df
        df = self._read_current(spark, name, v)
        self._read_cache[name] = (weakref.ref(spark), v, mkey, df)
        return df

    def _read_current(
        self, spark: SparkSession, name: str, v: int
    ) -> DataFrame:
        reader = spark.read.option("mergeSchema", "true")
        meta = self.meta(name)
        if meta.get("schema"):
            # Pin the read schema from _META for EVERY table (r15 —
            # was: partitioned tables only). Every commit path refreshes
            # _META to the union schema (create/_rewrite stamp
            # df.schema; append unions in new columns), so _META is
            # authoritative and the mergeSchema footer-inference job —
            # a distributed pass over every data file's footer on the
            # first read of each new version, per table — is pure
            # overhead; at scale it is a full file-listing+footer scan
            # (guide §6). Partitioned rationale (kept): a partitioned
            # table can have zero partition directories (a fresh empty
            # tracking table), so the schema must come from _META; the
            # partition column resolves from directory names on
            # non-empty reads.
            pinned = StructType.fromJson(meta["schema"])
            # r12: files from before a RENAME COLUMN carry the OLD
            # parquet column; ask the scan for it too (recorded type)
            # so _apply_column_ops can coalesce it into the new name.
            have = {f.name.lower() for f in pinned.fields}
            extra = []
            for op in meta.get("column_ops", []):
                if (
                    op["op"] == "rename"
                    and op.get("type")
                    and op["old"].lower() not in have
                ):
                    from pyspark.sql.types import _parse_datatype_json_string

                    extra.append(
                        StructField(
                            op["old"],
                            _parse_datatype_json_string(op["type"]),
                            True,
                        )
                    )
                    have.add(op["old"].lower())
            if extra:
                pinned = StructType(list(pinned.fields) + extra)
            reader = reader.schema(pinned)
        path = os.path.join(self._dir(name), f"v={v}")
        df = self._apply_dv(spark, reader.parquet(path), path)
        # DROP/RENAME COLUMN read-time mapping over mixed-generation
        # files (r12), then metadata-added columns (ALTER TABLE ADD
        # COLUMN) surface as typed NULLs until some write materializes
        # them into files — at which point the guard makes this a no-op.
        df = self._apply_column_ops(df, meta)
        for cname, ctype, *_ in meta.get("added_columns", []):
            if cname not in df.columns:
                df = df.withColumn(cname, F.lit(None).cast(ctype))
        return df

    def history(self, spark: SparkSession, name: str) -> DataFrame:
        """DESCRIBE HISTORY analogue: one row per committed version
        (version, op, ts_unix), newest first — advisory metadata read
        from the append-only _LOG, never consulted by reads."""
        log = os.path.join(self._dir(name), "_LOG")
        rows = []
        if os.path.exists(log):
            with open(log) as f:
                for line in f:
                    if not line.strip():
                        continue
                    try:
                        rows.append(json.loads(line))
                    except ValueError:
                        # A torn/partial line from a crash or disk-full
                        # mid-append (the log write is best-effort, see
                        # _set_version) must not poison history forever.
                        continue
        return local_frame(
            spark,
            [(r["version"], r["op"], float(r["ts_unix"])) for r in rows],
            "version long, op string, ts_unix double",
        ).orderBy(F.desc("version"))

    def versions(self, name: str) -> list[int]:
        """Version numbers still on disk, ascending (vacuum trims old
        ones; the current pointer is always present)."""
        d = self._dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(d)
            if e.startswith("v=") and e.split("=", 1)[1].isdigit()
        )

    def read_version(
        self, spark: SparkSession, name: str, version: int
    ) -> DataFrame:
        """Time travel: read a specific (possibly superseded) version —
        the Delta ``versionAsOf`` analogue. Version directories are
        immutable, so a historical read is just a scan of that
        directory; vacuumed versions raise instead of silently reading
        the wrong data."""
        if version not in self.versions(name):
            raise ValueError(
                f"version {version} of '{name}' does not exist "
                f"(on disk: {self.versions(name)}; vacuum removes old versions)"
            )
        import weakref

        path = os.path.join(self._dir(name), f"v={version}")
        try:
            st = os.stat(path)
            dkey = (st.st_mtime_ns, st.st_ino)
        except OSError:
            dkey = None
        cached = self._version_cache.get((name, version))
        if cached is not None and dkey is not None:
            c_spark, c_key, c_df = cached
            if c_spark() is spark and c_key == dkey:
                return c_df
        reader = spark.read.option("mergeSchema", "true")
        # r16: pin the version's stamped physical schema when the
        # commit recorded one — skips the distributed footer-inference
        # job per (table, version); absence falls back to inference.
        stamp = self._read_version_stamp(path)
        if stamp is not None:
            reader = reader.schema(stamp)
        df = self._apply_dv(spark, reader.parquet(path), path)
        if dkey is not None:
            self._version_cache[(name, version)] = (
                weakref.ref(spark), dkey, df,
            )
        return df

    @_locked_write
    def create(
        self,
        spark: SparkSession,
        name: str,
        df: DataFrame,
        partition_by: str | None = None,
    ) -> None:
        """CTAS (create_table_as, tracking_table_materialization.sql:18)."""
        os.makedirs(self._dir(name), exist_ok=True)
        if partition_by is None:
            partition_by = self.partition_by(name)  # keep spec on rebuilds
        df = self._enforced(df, name)  # CHECK constraints (rebuild path)
        v = (self.current_version(name) or -1) + 1
        self._clear_cdc_sidecars(name, v)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(os.path.join(self._dir(name), f"v={v}"))
        self._set_meta(name, partition_by, df.schema)
        self._stamp_version_schema(
            name, os.path.join(self._dir(name), f"v={v}"), df.schema
        )
        self._set_version(name, v, op="create")

    @_locked_write
    def append(self, spark: SparkSession, name: str, df: DataFrame) -> int:
        """insert into ... select (salesforce_bulk_load.sql:35-47).
        Returns the number of rows appended.

        Commits a NEW version: existing data files hard-link into
        ``v+1`` (deletion-vector sidecar carried) and only the appended
        rows write fresh parquet — O(new rows + #files metadata), like
        Delta's append commit. Until r7c this appended into the current
        version directory in place, which silently broke version
        immutability: concurrent readers of v could see rows appear
        mid-read, and ``AT(VERSION => v)`` time travel could not
        reconstruct the pre-append state. Now every INSERT is a
        versioned, time-travelable, CDC-visible commit.

        The write is the only action over ``df``: an Observation on it
        counts the rows and folds their maxima into the high-watermark
        record. A 0-row append commits nothing — the version, and so
        every stream on the table, stays where it was, as a 0-row DML
        leaves Snowflake's — and its staged directories are removed."""
        from ..ops.observe import observed

        if not self.exists(name):
            df, get = observed(df)
            self.create(spark, name, df)
            return get()["n"]
        df = self._enforced(df, name)  # CHECK constraints
        pcol = self.partition_by(name)
        v = self.current_version(name)
        # Fold the batch's maxima into the record only when each column
        # keeps its recorded type; a column the batch lacks reads NULL
        # in the new files and keeps its old max.
        wm = self._watermark(spark, name, v)
        types = {
            f.name.lower(): f.dataType.simpleString() for f in df.schema.fields
        }
        folded = [c for c in wm if c.lower() in types]
        if any(types[c.lower()] != wm[c][0] for c in folded):
            wm, folded = None, []
        df, get = observed(
            df,
            n=F.count(F.lit(1)).cast("long"),
            # "=" prefixes a max, so a NULL one (read as 0) stays apart
            # from an empty string
            **{
                f"wm{i}": F.concat(
                    F.lit("="),
                    F.greatest(F.max(c), F.lit(wm[c][1]).cast(wm[c][0]))
                    .cast("string"),
                )
                for i, c in enumerate(folded)
            },
        )
        self._clear_cdc_sidecars(name, v + 1)
        old_dir = os.path.join(self._dir(name), f"v={v}")
        new_dir = os.path.join(self._dir(name), f"v={v + 1}")
        self._link_version(old_dir, new_dir)

        def _data_files(d: str) -> set[str]:
            out = set()
            for root, _dirs, files in os.walk(d):
                for fn in files:
                    if fn.endswith(".parquet"):
                        out.add(
                            os.path.relpath(os.path.join(root, fn), d)
                        )
            return out

        linked = _data_files(new_dir)
        writer = df.write.mode("append")
        if pcol:
            writer = writer.partitionBy(pcol)
        try:
            writer.parquet(new_dir)
        except BaseException:
            self._discard_staged(new_dir)
            raise
        m = get()
        if m["n"] == 0:
            self._discard_staged(new_dir)
            return 0
        # The linked _SCHEMA.json describes only the OLD files; replace
        # it with the merged stamp (old fields + appended-only fields),
        # or drop it when the merge is unprovable — stale stamps must
        # never outlive the files they described.
        merged_stamp = self._merge_stamp_for_append(old_dir, df.schema)
        if merged_stamp is not None:
            self._stamp_version_schema(name, new_dir, merged_stamp)
        else:
            try:
                os.remove(self._schema_stamp_file(new_dir))
            except OSError:
                pass
        # Change manifest (r10): the appended files ARE the delta —
        # everything in the new version that wasn't hard-linked in.
        self.write_cdc_files(
            name, v + 1, sorted(_data_files(new_dir) - linked)
        )
        # Schema evolution on INSERT: when the appended frame carries
        # columns beyond the pinned _META schema (a metadata-added
        # column being materialized, or mergeSchema-style widening),
        # refresh _META with the union schema. Without this, the
        # partitioned-table read path — which pins reader.schema from
        # _META — would silently DROP the new column's values and
        # re-surface it as typed NULLs via the added_columns loop.
        meta = self.meta(name)
        if meta.get("schema"):
            pinned = StructType.fromJson(meta["schema"])
            pinned_names = {f.name.lower() for f in pinned.fields}
            extra = [
                f for f in df.schema.fields
                if f.name.lower() not in pinned_names
            ]
            if extra:
                extra_names = {f.name.lower() for f in extra}
                meta["schema"] = StructType(
                    list(pinned.fields) + extra
                ).jsonValue()
                # Entries now materialized into files must leave
                # added_columns, or read() keeps them pinned to the
                # ALTER's type instead of the written one.
                meta["added_columns"] = [
                    e for e in meta.get("added_columns", [])
                    if e[0].lower() not in extra_names
                ]
                tmp = self._meta_file(name) + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(meta, f)
                os.replace(tmp, self._meta_file(name))
        for i, c in enumerate(folded):
            mx = m[f"wm{i}"]
            wm[c] = [wm[c][0], mx[1:] if mx else None]
        self._set_version(
            name,
            v + 1,
            op="append",
            watermark={"tz": self._session_tz(spark), "cols": wm} if wm else None,
        )
        return m["n"]

    def _discard_staged(self, version_dir: str) -> None:
        """Remove an uncommitted version directory and its DV sidecar."""
        shutil.rmtree(version_dir, ignore_errors=True)
        shutil.rmtree(self._dv_dir(version_dir), ignore_errors=True)

    @_locked_write
    def merge_upsert(
        self, spark: SparkSession, name: str, src: DataFrame, unique_key: str
    ) -> None:
        """Delta-MERGE equivalent: matched rows replaced, new rows inserted.

        incremental_upsert on unique_key (tracking_table_materialization
        .sql:34) with schema widening: unionByName(allowMissingColumns)
        reproduces expand_target_column_types (lines 31-33) — Spark's
        set-operation type coercion widens common columns (int->bigint,
        decimal precision) and adds missing ones as nulls.

        On a partitioned table, only partitions present in ``src`` are
        anti-joined and rewritten; untouched partition directories are
        hard-linked into the new version (O(touched) merge cost).
        """
        if not self.exists(name):
            self.create(spark, name, src)
            return
        src = self._enforced(src, name)  # CHECK constraints on new rows
        pcol = self.partition_by(name)
        if pcol and pcol in src.columns:
            self._partition_scoped_merge(spark, name, src, unique_key, pcol)
            return
        src = src.localCheckpoint()  # reused: keys, union, CDC events
        target = self.read(spark, name)
        keys = src.select(F.col(unique_key).alias("_mk")).distinct()
        kept = target.join(
            keys, target[unique_key] == keys["_mk"], "left_anti"
        )
        merged = kept.unionByName(src, allowMissingColumns=True)
        # Gated (r11): the event derivation costs a target semi-join
        # scan + dup probes — only pay it when a consumer exists.
        events = (
            self._keyed_merge_events(
                spark, target, src, unique_key, merged.limit(0)
            )
            if self.change_tracking(name)
            else None
        )
        self._rewrite(spark, name, merged, cdc_events=events)

    def _keyed_merge_events(
        self,
        spark: SparkSession,
        scope: DataFrame,
        src: DataFrame,
        unique_key: str,
        template: DataFrame,
    ) -> DataFrame | None:
        """Raw change events for a keyed merge — update pre/post pairs
        for matched keys (full-row-identical pairs dropped: silent for
        ANY reader key choice) plus inserts for new keys. Returns None
        when the key assumptions don't hold (null or duplicate keys on
        either side); the caller then skips the manifest and CDC reads
        fall back to the version diff. Cost: one semi-join scan of
        ``scope`` (partition-pruned by the caller where possible) and
        O(delta) joins/aggregations on top."""
        k = unique_key
        if k not in src.columns or k not in scope.columns:
            return None
        bad_src = (
            src.groupBy(k)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter((F.col("_n") > 1) | F.col(k).isNull())
            .limit(1)
            .count()
        )
        if bad_src:
            return None
        pre = scope.join(
            src.select(k).distinct(), k, "left_semi"
        ).localCheckpoint()
        bad_pre = (
            pre.groupBy(k)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count()
        )
        if bad_pre:
            return None
        cols = template.columns
        pre_w = template.unionByName(
            pre, allowMissingColumns=True
        ).select(cols)
        src_w = template.unionByName(
            src, allowMissingColumns=True
        ).select(cols)
        o, n = pre_w.alias("o"), src_w.alias("n")
        o_row = F.struct(*[F.col(f"o.{c}") for c in cols])
        n_row = F.struct(*[F.col(f"n.{c}") for c in cols])
        pairs = o.join(n, F.col(f"o.{k}") == F.col(f"n.{k}")).filter(
            ~o_row.eqNullSafe(n_row)
        )
        ups = (
            pairs.select("o.*")
            .withColumn("change_type", F.lit("update_preimage"))
            .unionByName(
                pairs.select("n.*").withColumn(
                    "change_type", F.lit("update_postimage")
                )
            )
        )
        inserts = src_w.join(
            pre_w.select(k), k, "left_anti"
        ).withColumn("change_type", F.lit("insert"))
        return ups.unionByName(inserts)

    def _partition_scoped_merge(
        self,
        spark: SparkSession,
        name: str,
        src: DataFrame,
        unique_key: str | None,
        pcol: str,
        wholesale: bool = False,
    ) -> None:
        """Keyed partition-scoped MERGE (default), or — with
        ``wholesale=True`` — dynamic-partition REPLACEMENT: every
        partition present in ``src`` is swapped out in full with no key
        matching (Hive/Spark ``INSERT OVERWRITE`` semantics, dbt's
        ``incremental_strategy='insert_overwrite'``). Untouched
        partitions hard-link either way."""
        # Touched partition values: one per job in practice (a handful per
        # run), so the driver-side collect is bounded by run size, not
        # table size.
        src = src.localCheckpoint()  # reused: touched, staging, CDC events
        touched = [r[0] for r in src.select(pcol).distinct().collect()]
        target = self.read(spark, name)
        # isin on the partition column prunes to touched directories at
        # scan time — the anti-join never reads untouched history. NULL
        # partition values need an explicit isNull branch: isin() never
        # matches NULL, and the staged __HIVE_DEFAULT_PARTITION__ dir
        # would otherwise replace prior null-partition rows wholesale.
        non_null = [t for t in touched if t is not None]
        touched_pred = F.col(pcol).isin(non_null)
        if len(non_null) < len(touched):
            touched_pred = touched_pred | F.col(pcol).isNull()
        if wholesale:
            merged = src
        else:
            kept = target.filter(touched_pred).join(
                src.select(F.col(unique_key).alias("_mk")).distinct(),
                F.col(unique_key) == F.col("_mk"),
                "left_anti",
            )
            merged = kept.unionByName(src, allowMissingColumns=True)

        # Hard-linking untouched partitions is only sound when their old
        # parquet files still read under the merged schema. Spark 4 reads
        # some narrower types in place (int->bigint) but not every
        # widening (e.g. decimal precision+scale changes), so any
        # name/type drift falls back to a full rewrite of this version.
        old = self.meta(name).get("schema")
        if old is not None:
            # name->type comparison, order-insensitive: partitioned reads
            # surface the partition column last regardless of its stored
            # position.
            old_types = {f.name: f.dataType for f in StructType.fromJson(old).fields}
            new_types = {f.name: f.dataType for f in merged.schema.fields}
            if old_types != new_types:
                # full rewrite = survivors over the WHOLE target (not just
                # touched partitions) so untouched history is re-encoded
                # under the widened schema too. NULL-safe keep predicate:
                # isin() is NULL on a NULL partition value, which must
                # read as "not touched", never as "drop".
                if wholesale:
                    full_kept = target.filter(
                        ~F.coalesce(touched_pred, F.lit(False))
                    )
                else:
                    full_kept = target.join(
                        src.select(F.col(unique_key).alias("_mk")).distinct(),
                        F.col(unique_key) == F.col("_mk"),
                        "left_anti",
                    )
                self._rewrite(
                    spark, name, full_kept.unionByName(src, allowMissingColumns=True)
                )
                return

        table_dir = self._dir(name)
        v = self.current_version(name)
        self._clear_cdc_sidecars(name, v + 1)
        staging = os.path.join(table_dir, "_staging")
        shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").partitionBy(pcol).parquet(staging)

        new_dir = os.path.join(table_dir, f"v={v + 1}")
        shutil.rmtree(new_dir, ignore_errors=True)
        os.makedirs(new_dir)
        # Every touched partition appears in staging (src rows survive the
        # union), so "dirs written to staging" IS the touched set under
        # Spark's own value escaping.
        staged = {
            e for e in os.listdir(staging) if e.startswith(f"{pcol}=")
        }
        for entry in staged:
            self._promote_dir(
                os.path.join(staging, entry), os.path.join(new_dir, entry)
            )
        old_dir = os.path.join(table_dir, f"v={v}")
        untouched = []
        for entry in os.listdir(old_dir):
            if entry.startswith(f"{pcol}=") and entry not in staged:
                untouched.append(entry)
                shutil.copytree(
                    os.path.join(old_dir, entry),
                    os.path.join(new_dir, entry),
                    copy_function=self._retain_file,  # same bytes, no rewrite
                )
        # Deletion vectors: touched partitions were re-read DV-applied
        # (their deletes just materialized in staging), but the retained
        # partitions carry their files verbatim — carry their DV rows
        # too, or deleted rows would resurrect.
        if untouched and os.path.isdir(self._dv_dir(old_dir)):
            kept_dv = self._read_dv(spark, self._dv_dir(old_dir)).filter(
                F.element_at(F.split(F.col("relpath"), "/"), 1).isin(untouched)
            )
            dv_staging = os.path.join(table_dir, "_dv_staging")
            shutil.rmtree(dv_staging, ignore_errors=True)
            kept_dv.coalesce(1).write.mode("overwrite").parquet(dv_staging)
            self._promote_dir(dv_staging, self._dv_dir(new_dir))
        shutil.rmtree(staging, ignore_errors=True)
        self._set_meta(name, pcol, merged.schema)
        if not wholesale and self.change_tracking(name):
            # Change manifest (r10): pre rows come from the TOUCHED
            # partitions only (pruned scan) — merge semantics already
            # scope key matching to them. Wholesale replacement has no
            # key contract, so it falls back to the version diff.
            # Gated (r11) on the table's change_tracking property.
            events = self._keyed_merge_events(
                spark,
                target.filter(touched_pred),
                src,
                unique_key,
                merged.limit(0),
            )
            if events is not None:
                self.write_cdc_events(spark, name, v + 1, events)
        self._set_version(
            name, v + 1, op="insert_overwrite" if wholesale else "merge"
        )

    @_locked_write
    def insert_overwrite(self, spark: SparkSession, name: str, src: DataFrame):
        """Dynamic-partition INSERT OVERWRITE (the Hive/Spark statement,
        dbt's ``incremental_strategy='insert_overwrite'``): every
        partition value present in ``src`` is replaced WHOLESALE — no
        key matching, old rows of touched partitions are gone even when
        ``src`` carries none of their keys — while untouched partitions
        hard-link into the new version with their deletion vectors
        carried. Cost is O(touched partitions), the reason this
        strategy exists for large time-partitioned tables. The table
        must already exist partitioned (first-run bootstrap is
        ``overwrite(partition_by=...)``)."""
        if not self.exists(name):
            raise FileNotFoundError(f"table not found: {name}")
        pcol = self.partition_by(name)
        if not pcol:
            raise ValueError(
                f"insert_overwrite requires a partitioned table; {name!r} "
                "has no partition column (use overwrite/merge instead)"
            )
        if pcol not in src.columns:
            raise ValueError(
                f"insert_overwrite source must carry partition column {pcol!r}"
            )
        src = self._enforced(src, name)
        self._partition_scoped_merge(
            spark, name, src, None, pcol, wholesale=True
        )

    @_locked_write
    def add_column(
        self, spark: SparkSession, name: str, col_name: str, type_sql: str
    ) -> None:
        """ALTER TABLE ADD COLUMN — METADATA-ONLY (Delta parity): no
        data file is rewritten. The new version hard-links the current
        files (deletion-vector sidecar carried), and the column
        surfaces as typed NULLs at read until a later write fills it;
        rewrites then materialize it into parquet naturally. Historical
        ``read_version`` reads stay physical (the column appears from
        the ALTER's own version onward only through ``read``)."""
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table not found: {name}")
        cur_cols = {c.lower() for c in self.read(spark, name).columns}
        if col_name.lower() in cur_cols:
            raise ValueError(f"column already exists: {col_name}")
        # r12: a name retired by DROP/RENAME COLUMN may still live in
        # old physical files (the ops are metadata-only); re-adding it
        # would make the read-time mapping resurrect old bytes into the
        # new column. Refuse loudly (divergence from Snowflake, which
        # rewrites nothing but tracks columns by id, not name).
        for op in self.meta(name).get("column_ops", []):
            retired = op["col"] if op["op"] == "drop" else op["old"]
            if retired.lower() == col_name.lower():
                raise ValueError(
                    f"column name {col_name!r} was retired by a prior "
                    f"{op['op'].upper()} COLUMN and may still exist in "
                    "old data files; pick a different name or rewrite "
                    "the table (CREATE OR REPLACE) to reclaim it"
                )
        # validate the type string before committing anything
        F.lit(None).cast(type_sql)
        self._clear_cdc_sidecars(name, v + 1)
        old_dir = os.path.join(self._dir(name), f"v={v}")
        new_dir = os.path.join(self._dir(name), f"v={v + 1}")
        self._link_version(old_dir, new_dir)
        meta = self.meta(name)
        added = meta.get("added_columns", [])
        # third element: the version this column became visible at
        # (CLONE AT(VERSION) point-in-time pruning, r12)
        added.append([col_name, type_sql, v + 1])
        meta["added_columns"] = added
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))
        # metadata-only commit: the delta is empty (r10 manifest)
        self.write_cdc_files(name, v + 1, [])
        self._set_version(name, v + 1, op="add_column")

    def _put_meta(self, name: str, meta: dict) -> None:
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def _commit_metadata_only(self, name: str, meta: dict, op: str) -> None:
        """Commit a schema-evolution DDL as a new hard-linked version:
        no data file is touched, the CDC delta is empty, and the
        version boundary gives time travel its before/after line."""
        v = self.current_version(name)
        self._clear_cdc_sidecars(name, v + 1)
        self._link_version(
            os.path.join(self._dir(name), f"v={v}"),
            os.path.join(self._dir(name), f"v={v + 1}"),
        )
        self._put_meta(name, meta)
        self.write_cdc_files(name, v + 1, [])
        self._set_version(name, v + 1, op=op)

    def _column_evolution_guard(self, name: str, col: str, verb: str) -> dict:
        """Shared refusals for DROP/RENAME COLUMN (r12): governance
        attachments and structural roles must follow the column or
        block the DDL — a silent detach would unprotect data."""
        meta = self.meta(name)
        lc = col.lower()
        if (meta.get("partition_by") or "").lower() == lc:
            raise ValueError(
                f"cannot {verb} column {col!r}: it is the partition "
                f"column of {name}"
            )
        for cname, expr in (meta.get("constraints") or {}).items():
            if re.search(rf"(?i)\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot {verb} column {col!r}: CHECK constraint "
                    f"{cname!r} references it — drop the constraint first"
                )
        ra = meta.get("row_access")
        if ra and lc in (c.lower() for c in ra.get("columns", [])):
            raise ValueError(
                f"cannot {verb} column {col!r}: the row access policy "
                f"{ra['policy']!r} is keyed on it — drop the policy first"
            )
        # Streams/CDC consumers diff PHYSICAL version directories;
        # column evolution under them would hand consumers mixed-name
        # deltas. Snowflake marks such streams stale — we refuse the
        # DDL instead (loud, recoverable: drop the streams first).
        if self.change_tracking(name) or any(
            m["table"].lower() == name.lower()
            for m in self.streams().values()
        ):
            raise ValueError(
                f"cannot {verb} column {col!r}: {name} has change "
                "tracking or streams attached; drop the streams and "
                "disable change tracking first"
            )
        return meta

    @_locked_write
    def drop_column(self, spark: SparkSession, name: str, col: str) -> None:
        """ALTER TABLE DROP COLUMN — METADATA-ONLY (r12): no data file
        is rewritten at any table size. The column leaves the pinned
        logical schema (partitioned scans stop reading it — column
        pruning makes the drop free) and a ``column_ops`` entry hides
        it from schema-merged reads of old files that still carry it.
        A column under a masking policy, in the primary key, in a CHECK
        constraint, keyed by a row access policy, or on a tracked /
        streamed table refuses the drop (Snowflake parity: detach the
        dependency first). Historical ``read_version`` reads stay
        physical — old versions keep the column, the Snowflake
        time-travel behavior."""
        if not self.exists(name):
            raise FileNotFoundError(f"table not found: {name}")
        meta = self._column_evolution_guard(name, col, "drop")
        lc = col.lower()
        cur_cols = {c.lower(): c for c in self.read(spark, name).columns}
        if lc not in cur_cols:
            raise ValueError(f"column not found: {col}")
        if len(cur_cols) == 1:
            raise ValueError(f"cannot drop the only column of {name}")
        if lc in (c.lower() for c in meta.get("masking", {})):
            raise ValueError(
                f"cannot drop column {col!r}: a masking policy is set "
                "on it — UNSET MASKING POLICY first"
            )
        pk = meta.get("primary_key")
        if pk and lc in (c.lower() for c in pk.get("columns", [])):
            raise ValueError(
                f"cannot drop column {col!r}: it is part of the "
                "primary key — DROP PRIMARY KEY first"
            )
        added = meta.get("added_columns", [])
        added_entry = next(
            (e for e in added if e[0].lower() == lc), None
        )
        if added_entry is not None:
            meta["added_columns"] = [e for e in added if e is not added_entry]
            phys = {
                c.lower()
                for c in spark.read.option("mergeSchema", "true")
                .parquet(self.data_path(name))
                .columns
            }
            if lc not in phys:
                # A metadata-added column no write ever materialized:
                # nothing physical to hide, so no op is recorded and
                # the name is free to reclaim.
                self._commit_metadata_only(name, meta, f"drop_column:{col}")
                return
        # Hide the column from reads of old physical files; prune it
        # from the pinned logical schema so partitioned scans never
        # decode it. (A never-materialized metadata-added column may
        # have no physical trace, but later merges can hard-link files
        # from before ANY given write — the op entry is cheap and
        # keeps every mix correct.)
        ops = meta.get("column_ops", [])
        ops.append(
            {
                "op": "drop",
                "col": cur_cols[lc],
                "at": (self.current_version(name) or 0) + 1,
            }
        )
        meta["column_ops"] = ops
        if meta.get("schema"):
            pinned = StructType.fromJson(meta["schema"])
            meta["schema"] = StructType(
                [f for f in pinned.fields if f.name.lower() != lc]
            ).jsonValue()
        self._commit_metadata_only(name, meta, f"drop_column:{col}")

    @_locked_write
    def rename_column(
        self, spark: SparkSession, name: str, old: str, new: str
    ) -> None:
        """ALTER TABLE RENAME COLUMN — METADATA-ONLY (r12, the Delta
        column-mapping idea expressed as a read-time mapping): old
        physical files keep the old parquet column; reads coalesce the
        old-name column into the new one (per row exactly one side
        exists, so coalesce is exact even across files written before
        and after the rename) and later rewrites materialize the new
        name naturally. Masking attachments, the primary key, and
        row-access column lists FOLLOW the rename; a CHECK constraint
        referencing the column refuses it (rewriting predicate SQL
        is not attempted). Tracked/streamed tables refuse as in
        drop_column."""
        if not self.exists(name):
            raise FileNotFoundError(f"table not found: {name}")
        meta = self._column_evolution_guard(name, old, "rename")
        lo, ln = old.lower(), new.lower()
        cur_cols = {c.lower(): c for c in self.read(spark, name).columns}
        if lo not in cur_cols:
            raise ValueError(f"column not found: {old}")
        if ln in cur_cols:
            raise ValueError(f"column already exists: {new}")
        for op in meta.get("column_ops", []):
            retired = op["col"] if op["op"] == "drop" else op["old"]
            if retired.lower() == ln:
                raise ValueError(
                    f"column name {new!r} was retired by a prior "
                    f"{op['op'].upper()} COLUMN and may still exist in "
                    "old data files; pick a different name"
                )
        # governance attachments FOLLOW the rename
        mask = meta.get("masking", {})
        mk = next((k for k in mask if k.lower() == lo), None)
        if mk is not None:
            mask = dict(mask)
            mask[new] = mask.pop(mk)
            meta["masking"] = mask
            at = meta.get("meta_at", {})
            if f"masking:{lo}" in at:
                at[f"masking:{ln}"] = at.pop(f"masking:{lo}")
        pk = meta.get("primary_key")
        if pk and any(c.lower() == lo for c in pk.get("columns", [])):
            pk = dict(pk)
            pk["columns"] = [
                new if c.lower() == lo else c for c in pk["columns"]
            ]
            meta["primary_key"] = pk
        old_type = None
        if meta.get("schema"):
            pinned = StructType.fromJson(meta["schema"])
            fields = []
            for f in pinned.fields:
                if f.name.lower() == lo:
                    old_type = f.dataType.json()
                    f = StructField(new, f.dataType, f.nullable)
                fields.append(f)
            meta["schema"] = StructType(fields).jsonValue()
        meta["added_columns"] = [
            ([new] + list(e)[1:] if e[0].lower() == lo else e)
            for e in meta.get("added_columns", [])
        ]
        ops = meta.get("column_ops", [])
        ops.append(
            {
                "op": "rename",
                "old": cur_cols[lo],
                "new": new,
                # recorded so partitioned pinned-schema reads can ask
                # the parquet scan for the old physical column too
                "type": old_type,
                "at": (self.current_version(name) or 0) + 1,
            }
        )
        meta["column_ops"] = ops
        self._commit_metadata_only(name, meta, f"rename_column:{old}->{new}")

    def _apply_column_ops(self, df: DataFrame, meta: dict) -> DataFrame:
        """Read-time column evolution (r12): apply DROP/RENAME COLUMN
        ops in DDL order over a possibly mixed-generation file set.
        Old files carry the old physical column, new files the new one;
        per row exactly one side is present, so coalesce reconstructs
        the logical column exactly."""
        for op in meta.get("column_ops", []):
            cols = {c.lower(): c for c in df.columns}
            if op["op"] == "drop":
                c = cols.get(op["col"].lower())
                if c is not None:
                    df = df.drop(c)
            else:
                o = cols.get(op["old"].lower())
                n = cols.get(op["new"].lower())
                if o is not None and n is not None:
                    df = df.withColumn(
                        n, F.coalesce(F.col(n), F.col(o))
                    ).drop(o)
                elif o is not None:
                    df = df.withColumnRenamed(o, op["new"])
        return df

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME TO: a directory move — O(1) metadata, all
        versions/history/DVs travel with it. Streams follow the OBJECT
        (r11): a stream on the old name retargets to the new one, as
        in Snowflake where streams bind to the table, not its name."""
        if not self.exists(old):
            raise FileNotFoundError(f"table not found: {old}")
        if self.exists(new):
            raise ValueError(f"table already exists: {new}")
        os.rename(self._dir(old), self._dir(new))
        self._retarget_streams({old.lower(): new})

    def _retarget_streams(self, mapping: dict[str, str]) -> None:
        """Rewrite stream->table bindings after a rename/swap (keys are
        lowercased old names). Offsets stay valid: they index version
        counters that travel with the table directory."""
        streams = self.streams()
        changed = False
        for meta in streams.values():
            tgt = mapping.get(meta["table"].lower())
            if tgt is not None:
                meta["table"] = tgt
                changed = True
        if changed:
            self._write_streams(streams)

    def swap_tables(self, a: str, b: str) -> None:
        """ALTER TABLE a SWAP WITH b (r11, Snowflake's atomic-rename
        deploy idiom): three directory renames — versions, history,
        DVs, manifests, and _META (constraints/policies/PK/tracking)
        all travel with their directories. O(1) metadata at any table
        size; this is why the idiom exists for blue-green table
        deploys.

        Crash safety (r12, closes the r11 `weak`): a swap-intent
        journal is written to the store root BEFORE the first rename,
        recording both names, both directories' inodes (inodes survive
        rename, so recovery can tell "never started" from "all three
        renames done" even though both states show both dirs present
        and no _swap_tmp), and the pre-swap stream bindings (so the
        recovery retarget is an absolute assignment — idempotent no
        matter where the crash landed). _recover_swap() runs at store
        open and at swap entry: it rolls a half-done dance forward or
        back, never deletes a directory, and refuses to touch an
        orphan _swap_tmp it cannot attribute to a journal."""
        self._recover_swap()
        if not self.exists(a):
            raise FileNotFoundError(f"table not found: {a}")
        if not self.exists(b):
            raise FileNotFoundError(f"table not found: {b}")
        if self._dir(a) == self._dir(b):
            return  # self-swap is the identity (and must not hit the
            # rename dance, which would strand the dir in _swap_tmp)
        tmp = self._swap_tmp()
        # _recover_swap() above cleared any journaled crash; a _swap_tmp
        # that still holds a _VERSION here is an unattributable orphan
        # (pre-journal era or foreign process) — refuse rather than
        # delete table bytes.
        if os.path.isfile(os.path.join(tmp, "_VERSION")):
            raise RuntimeError(
                "_swap_tmp holds a table directory with no swap journal; "
                "refusing to overwrite it — inspect/restore it manually"
            )
        shutil.rmtree(tmp, ignore_errors=True)
        streams = self.streams()
        journal = {
            "a": a,
            "b": b,
            "a_ino": os.stat(self._dir(a)).st_ino,
            "b_ino": os.stat(self._dir(b)).st_ino,
            # Absolute post-swap stream bindings: streams follow their
            # OBJECT (Snowflake binds streams to the table, not its
            # name), so a stream on `a` must end up reading name `b`.
            "stream_targets": {
                sname: (b if meta["table"].lower() == a.lower() else a)
                for sname, meta in streams.items()
                if meta["table"].lower() in (a.lower(), b.lower())
            },
        }
        jf = self._swap_journal_file()
        jtmp = jf + ".tmp"
        with open(jtmp, "w") as f:
            json.dump(journal, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(jtmp, jf)
        os.rename(self._dir(a), tmp)
        os.rename(self._dir(b), self._dir(a))
        os.rename(tmp, self._dir(b))
        self._apply_stream_targets(journal["stream_targets"])
        os.remove(jf)

    def _swap_tmp(self) -> str:
        return os.path.join(self.root, "_swap_tmp")

    def _swap_journal_file(self) -> str:
        return os.path.join(self.root, "_swap_journal.json")

    def _apply_stream_targets(self, targets: dict[str, str]) -> None:
        """Set stream->table bindings to absolute values (idempotent,
        unlike the mapping-based _retarget_streams — recovery may run
        after the retarget already happened)."""
        if not targets:
            return
        streams = self.streams()
        changed = False
        for sname, tgt in targets.items():
            if sname in streams and streams[sname]["table"] != tgt:
                streams[sname]["table"] = tgt
                changed = True
        if changed:
            self._write_streams(streams)

    def _recover_swap(self) -> None:
        """Complete or roll back a swap interrupted by a crash (r12).

        State machine, keyed off the journal + directory presence
        (tmp = _swap_tmp; A/B = the journaled table dirs):

        - no journal: nothing to recover (an orphan tmp WITHOUT a
          journal is handled at swap entry — refused, never deleted).
        - journal, tmp has _VERSION, A missing: crashed between
          rename 1 and 2 → roll BACK (tmp→A); no rename happened to B,
          streams untouched.
        - journal, tmp has _VERSION, B missing: crashed between
          rename 2 and 3 → roll FORWARD (tmp→B) and apply the journaled
          stream bindings.
        - journal, no tmp: either the dance never started or all three
          renames completed — disambiguate by inode (A's dir now
          holding B's old inode means the renames are done; apply the
          journaled stream bindings, which is idempotent even if the
          crash landed after the retarget).
        """
        jf = self._swap_journal_file()
        if not os.path.isfile(jf):
            return
        with open(jf) as f:
            j = json.load(f)
        a_dir, b_dir = self._dir(j["a"]), self._dir(j["b"])
        tmp = self._swap_tmp()
        if os.path.isfile(os.path.join(tmp, "_VERSION")):
            if not os.path.isdir(a_dir):
                os.rename(tmp, a_dir)  # roll back: undo rename 1
            elif not os.path.isdir(b_dir):
                os.rename(tmp, b_dir)  # roll forward: finish rename 3
                self._apply_stream_targets(j.get("stream_targets", {}))
            else:
                # tmp + both dirs present cannot arise from the dance;
                # refuse to guess.
                raise RuntimeError(
                    "swap journal present with _swap_tmp AND both table "
                    "directories — manual inspection required"
                )
        elif os.path.isdir(a_dir) and os.stat(a_dir).st_ino == j.get("b_ino"):
            # All three renames completed (A's name now holds B's old
            # directory); only the stream retarget may be outstanding.
            self._apply_stream_targets(j.get("stream_targets", {}))
        os.remove(jf)

    def clone_table(
        self,
        spark: SparkSession,
        src: str,
        dst: str,
        version: int | None = None,
        replace: bool = False,
    ) -> None:
        """CREATE TABLE dst CLONE src [AT(VERSION => v)] (r11): the
        Snowflake zero-copy clone, mapped onto the store's hard-linked
        layout — the clone's v=0 links every data file (and the
        deletion-vector sidecar) of the source version; NO bytes are
        copied, cost is O(#files) metadata at any table size (the same
        property Snowflake gets from shared immutable micro-partitions
        and Delta from shallow clones). Table metadata (partition spec,
        schema, constraints, masking/row-access attachments, primary
        key, change_tracking) copies with it; STREAMS do not (Snowflake
        table clones never clone streams). Writes after the clone
        diverge freely: each table commits its own new versions, and
        the shared files stay immutable until vacuumed PER TABLE —
        hard links keep bytes alive until the last referrer drops
        them, so a source vacuum can never corrupt a clone."""
        if not self.exists(src):
            raise FileNotFoundError(f"table not found: {src}")
        if self.exists(dst):
            if not replace:
                raise ValueError(f"table already exists: {dst}")
            self.drop(dst)
        v = self.current_version(src) if version is None else int(version)
        src_vdir = os.path.join(self._dir(src), f"v={v}")
        if not os.path.isdir(src_vdir):
            raise ValueError(
                f"CLONE {src} AT(VERSION => {v}): version not on disk "
                "(vacuumed?)"
            )
        os.makedirs(self._dir(dst), exist_ok=True)
        self._link_version(
            src_vdir, os.path.join(self._dir(dst), "v=0")
        )
        meta = self.meta(src)
        if meta:
            if v < (self.current_version(src) or 0):
                # Historical clone: point-in-time metadata, not the
                # source's CURRENT metadata (r12, ADVICE r11 #2) — a
                # clone of a pre-ADD-COLUMN version must not surface
                # the later column, a pre-masking clone is unmasked.
                meta = self._meta_as_of(spark, src, v, src_vdir, meta)
            # The clone's version counter restarts at 0: every kept
            # attachment existed at its v=0, so stamps normalize to 0
            # (a later clone-of-the-clone AT(VERSION) then prunes
            # correctly in clone-space).
            meta.pop("meta_at", None)
            for e in meta.get("added_columns", []):
                if len(e) > 2:
                    e[2] = 0
            for op in meta.get("column_ops", []):
                if "at" in op:
                    op["at"] = 0
            tmp = self._meta_file(dst) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, self._meta_file(dst))
        self._set_version(dst, 0, op=f"clone:{src}@v{v}")

    def _meta_as_of(
        self,
        spark: SparkSession,
        src: str,
        v: int,
        src_vdir: str,
        meta: dict,
    ) -> dict:
        """Reconstruct table metadata AS OF version ``v`` for a
        historical CLONE (r12, ADVICE r11 #2 — Snowflake's
        ``CLONE ... AT(...)`` takes the object as it existed THEN).

        - ``column_ops`` / ``added_columns`` entries committed after
          ``v`` are pruned (their stamps are table versions, recorded
          by the DDLs since r12).
        - Governance/constraint attachments stamped after ``v`` in
          ``meta_at`` are pruned; unstamped (pre-r12) entries are
          conservatively KEPT — over-protecting a historical clone is
          the safe direction.
        - The pinned logical schema is rebuilt from the version's own
          physical files with the surviving ops applied: ordinary
          writes refresh the pinned schema in place and leave no undo
          log, but the immutable files AT ``v`` carry exactly the
          schema of that version. Types prefer the CURRENT pinned
          field when names match (types only widen, and a wider pin
          reads narrower files exactly); metadata-added columns stay
          out of the pin — the read path surfaces them as typed NULLs
          from their ``added_columns`` entries.
        """
        out = dict(meta)
        at = meta.get("meta_at") or {}
        ops = [
            op for op in meta.get("column_ops", []) if op.get("at", 0) <= v
        ]
        added = [
            e
            for e in meta.get("added_columns", [])
            if len(e) < 3 or e[2] <= v
        ]
        for key, kept in (("column_ops", ops), ("added_columns", added)):
            if kept:
                out[key] = kept
            else:
                out.pop(key, None)
        mask = {
            c: p
            for c, p in (meta.get("masking") or {}).items()
            if at.get(f"masking:{c.lower()}", 0) <= v
        }
        if mask:
            out["masking"] = mask
        else:
            out.pop("masking", None)
        cons = {
            n: s
            for n, s in (meta.get("constraints") or {}).items()
            if at.get(f"constraint:{n.lower()}", 0) <= v
        }
        if cons:
            out["constraints"] = cons
        else:
            out.pop("constraints", None)
        for key in ("primary_key", "row_access", "change_tracking"):
            if at.get(key, 0) > v:
                out.pop(key, None)
        out.pop("meta_at", None)
        if not meta.get("schema"):
            return out
        try:
            # r16: a stamped version dir already records exactly what
            # this inference would return — skip the footer job.
            phys = self._read_version_stamp(src_vdir) or (
                spark.read.option("mergeSchema", "true")
                .parquet(src_vdir)
                .schema
            )
        except Exception:
            # unreadable/empty version dir: keep the current pin —
            # wrong in the same way the pre-r12 clone was, never worse
            return out
        names = [f.name for f in phys.fields]
        for op in ops:
            low = {n.lower(): i for i, n in enumerate(names)}
            if op["op"] == "drop":
                i = low.get(op["col"].lower())
                if i is not None:
                    names.pop(i)
            else:
                oi = low.get(op["old"].lower())
                ni = low.get(op["new"].lower())
                if oi is not None and ni is not None:
                    # both generations on disk: the old physical column
                    # coalesces into the new logical one at read
                    names.pop(oi)
                elif oi is not None:
                    names[oi] = op["new"]
        cur_fields = {
            f.name.lower(): f
            for f in StructType.fromJson(meta["schema"]).fields
        }
        phys_fields = {f.name.lower(): f for f in phys.fields}
        fields = []
        for n in names:
            f = cur_fields.get(n.lower()) or phys_fields.get(n.lower())
            if f is not None:
                fields.append(StructField(n, f.dataType, True))
        if fields:
            out["schema"] = StructType(fields).jsonValue()
        return out

    def undrop_table(self, name: str) -> None:
        """UNDROP TABLE (r11, Snowflake parity): restore the most
        recently dropped copy of ``name`` from the trash area. DROP
        parks the table directory under _trash/ (latest drop of a name
        wins) instead of deleting — O(1) either way."""
        if self.exists(name):
            raise ValueError(
                f"table already exists: {name} (rename or drop it "
                "before UNDROP)"
            )
        t = self._trash_path(name)
        if not os.path.isfile(os.path.join(t, "_VERSION")):
            raise ValueError(f"no dropped table to undrop: {name}")
        os.rename(t, self._dir(name))
        try:
            os.remove(os.path.join(self._dir(name), "_DROPPED_AT"))
        except OSError:
            pass

    def _trash_path(self, name: str) -> str:
        return os.path.join(
            self.root, "_trash", os.path.basename(self._dir(name))
        )

    @_locked_write
    def scd2_commit(
        self,
        spark: SparkSession,
        name: str,
        open_df: DataFrame,
        newly_closed_df: DataFrame,
        pcol: str = "dbt_is_current",
    ) -> None:
        """Commit one SCD2 snapshot round: the ``pcol=true`` (open)
        partition is rewritten from ``open_df``; the ``pcol=false``
        (closed-history) partition keeps its previous files hard-linked
        and gains ``newly_closed_df``'s files alongside them.

        This is the write shape that keeps dbt-style snapshots viable at
        100 TB: closed history is append-only and dominates the table's
        size, so a snapshot run costs O(open rows + changed rows) — the
        closed bulk is never decoded, shuffled, or rewritten. (On
        Delta/Iceberg the same effect falls out of MERGE + partition on
        the current flag.) Falls back to a full rewrite when the merged
        schema drifted from the stored one, mirroring
        ``_partition_scoped_merge``'s hard-link soundness rule.
        """
        merged = open_df.unionByName(newly_closed_df, allowMissingColumns=True)
        old = self.meta(name).get("schema")
        if old is not None:
            old_types = {f.name: f.dataType for f in StructType.fromJson(old).fields}
            new_types = {f.name: f.dataType for f in merged.schema.fields}
            if old_types != new_types:
                closed_hist = self.read(spark, name).filter(~F.col(pcol))
                self._rewrite(spark, name, merged.unionByName(closed_hist))
                return

        table_dir = self._dir(name)
        v = self.current_version(name)
        self._clear_cdc_sidecars(name, v + 1)
        staging = os.path.join(table_dir, "_staging")
        shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").partitionBy(pcol).parquet(staging)

        new_dir = os.path.join(table_dir, f"v={v + 1}")
        shutil.rmtree(new_dir, ignore_errors=True)
        os.makedirs(new_dir)
        for entry in os.listdir(staging):
            if entry.startswith(f"{pcol}="):
                self._promote_dir(
                    os.path.join(staging, entry), os.path.join(new_dir, entry)
                )
        closed_entry = f"{pcol}=false"
        old_ver_dir = os.path.join(table_dir, f"v={v}")
        old_closed = os.path.join(old_ver_dir, closed_entry)
        if os.path.isdir(old_closed):
            new_closed = os.path.join(new_dir, closed_entry)
            os.makedirs(new_closed, exist_ok=True)
            for fname in os.listdir(old_closed):
                if fname.endswith(".parquet"):
                    # Spark part-file names embed task+attempt UUIDs, so a
                    # fresh staging write can never collide with them.
                    self._retain_file(
                        os.path.join(old_closed, fname),
                        os.path.join(new_closed, fname),
                    )
        # Deletion-vector carry for the retained closed partition (the
        # open partition was rebuilt from open_df, so its DV rows drop).
        if os.path.isdir(self._dv_dir(old_ver_dir)):
            kept_dv = self._read_dv(spark, self._dv_dir(old_ver_dir)).filter(
                F.element_at(F.split(F.col("relpath"), "/"), 1)
                == closed_entry
            )
            dv_staging = os.path.join(table_dir, "_dv_staging")
            shutil.rmtree(dv_staging, ignore_errors=True)
            kept_dv.coalesce(1).write.mode("overwrite").parquet(dv_staging)
            self._promote_dir(dv_staging, self._dv_dir(new_dir))
        shutil.rmtree(staging, ignore_errors=True)
        self._set_meta(name, pcol, merged.schema)
        self._set_version(name, v + 1, op="scd2_commit")

    @_locked_write
    def update_from(
        self,
        spark: SparkSession,
        name: str,
        src: DataFrame,
        unique_key: str,
        set_cols: list[str],
    ) -> None:
        """UPDATE ... FROM: overwrite only ``set_cols`` on matching keys,
        leave other rows untouched.

        Implemented as a MERGE of the patched rows: the inner join yields
        the full-width matched rows with ``set_cols`` replaced, and
        ``merge_upsert`` swaps them in. On a partitioned table that
        routes through the partition-scoped path — untouched partitions
        are hard-linked, so the cost is O(touched partitions), not
        O(table); an unpartitioned table is rewritten whole.

        No push path calls this. The Salesforce load closes its job
        (salesforce_bulk_load.sql:52-55) by appending the task row once,
        after close_job, with the close descriptor already set
        (materializations/push.py), so no push rewrites a tracking
        table."""
        target = self.read(spark, name)
        patch = src.select(
            F.col(unique_key).alias("_uk"),
            *[F.col(c).alias(f"_new_{c}") for c in set_cols],
        )
        patched = target.join(
            patch, target[unique_key] == patch["_uk"], "inner"
        ).select(
            *[
                (F.col(f"_new_{c}").alias(c) if c in set_cols else F.col(c))
                for c in target.columns
            ]
        )
        self.merge_upsert(spark, name, patched, unique_key)

    @_locked_write
    def overwrite(
        self,
        spark: SparkSession,
        name: str,
        df: DataFrame,
        partition_by: str | None = None,
        cdc_events: DataFrame | None = None,
    ) -> None:
        """Forced rebuild (the reference's rename-to-backup/CTAS/drop dance,
        tracking_table_materialization.sql:19-27 — the version pointer swap
        makes the backup choreography unnecessary). ``cdc_events`` (r10):
        callers that know their delta (the DML engine's UPDATE/DELETE/
        MERGE handlers) pass the raw change events for the commit's
        manifest, keeping stream/CHANGES reads O(changed)."""
        if self.exists(name):
            self._rewrite(spark, name, df, cdc_events=cdc_events)
        else:
            self.create(spark, name, df, partition_by=partition_by)

    def drop(self, name: str) -> None:
        if self._drop_trash:
            # Deferred-drop mode (transactional scripts): move the table
            # directory into the trash area instead of deleting, so a
            # later statement failure can restore it. First trash of a
            # name wins — that copy IS the pre-script state; a re-created
            # then re-dropped table just deletes its mid-script bytes.
            d = self._dir(name)
            if not os.path.isdir(d):
                return
            dst = os.path.join(self._drop_trash, os.path.basename(d))
            if os.path.exists(dst):
                shutil.rmtree(d, ignore_errors=True)
            else:
                os.rename(d, dst)
            return
        # UNDROP retention (r11): park the directory in _trash/ instead
        # of deleting — O(1), latest drop of a name wins, UNDROP TABLE
        # restores it. _trash/ holds no _VERSION at its top level so it
        # can never read as a table (exists() is the universal filter).
        d = self._dir(name)
        if not os.path.isdir(d):
            return
        t = self._trash_path(name)
        os.makedirs(os.path.dirname(t), exist_ok=True)
        shutil.rmtree(t, ignore_errors=True)
        os.rename(d, t)
        # drop timestamp: vacuum's trash retention window (r12, ADVICE
        # r11 #4 — Snowflake expires dropped tables after the
        # time-travel retention period; without a purge path every
        # dropped table's bytes persisted forever)
        try:
            with open(os.path.join(t, "_DROPPED_AT"), "w") as f:
                f.write(str(time.time()))
        except OSError:
            pass

    # -- masking policies (r8, Snowflake governance parity) ----------------
    # Policy OBJECTS are store-level (they outlive any one table, like
    # Snowflake schema-level policies); ATTACHMENTS live in each
    # table's _META under "masking" {column: policy_name}. Enforcement
    # happens at the ENGINE's read surface (ad-hoc SQL views + model
    # refs) — the storage layer always holds raw data, exactly like
    # Snowflake's micro-partitions.
    def _policies_file(self) -> str:
        return os.path.join(self.root, "_POLICIES")

    def policies(self) -> dict:
        try:
            with open(self._policies_file()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _write_policies(self, pols: dict) -> None:
        tmp = self._policies_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(pols, f)
        os.replace(tmp, self._policies_file())

    def create_masking_policy(
        self,
        name: str,
        param: str,
        returns: str,
        body: str,
        replace: bool = False,
    ) -> None:
        pols = self.policies()
        key = name.lower()
        if key in pols and not replace:
            raise ValueError(f"masking policy already exists: {name}")
        pols[key] = {
            "kind": "masking",
            "param": param,
            "returns": returns,
            "body": body,
        }
        self._write_policies(pols)

    def create_row_access_policy(
        self,
        name: str,
        params: list,
        body: str,
        replace: bool = False,
    ) -> None:
        """``params`` is [(param_name, type_sql), ...] — row access
        policies are multi-parameter (one per bound column)."""
        pols = self.policies()
        key = name.lower()
        if key in pols and not replace:
            raise ValueError(f"row access policy already exists: {name}")
        pols[key] = {
            "kind": "row_access",
            "params": [list(p) for p in params],
            "body": body,
        }
        self._write_policies(pols)

    def _policy_attachments(self, key: str) -> list[str]:
        attached = []
        for entry in os.listdir(self.root):
            logical = entry.replace("__", ".")
            if not self.exists(logical):
                continue
            for col, pname in self.masking_for(logical).items():
                if pname == key:
                    attached.append(f"{logical}.{col}")
            ra = self.row_access_for(logical)
            if ra and ra.get("policy") == key:
                attached.append(logical)
        return attached

    # -- streams (r9, Snowflake STREAM objects) ---------------------------
    def _streams_file(self) -> str:
        return os.path.join(self.root, "_streams.json")

    def streams(self) -> dict:
        try:
            with open(self._streams_file()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _write_streams(self, streams: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._streams_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(streams, f)
        os.replace(tmp, self._streams_file())

    def create_stream(
        self,
        name: str,
        table: str,
        offset: int | None = None,
        replace: bool = False,
    ) -> None:
        """Snowflake CREATE STREAM s ON TABLE t: records a CDC offset
        (a committed version of t); reading the stream yields the net
        delta offset -> current, and a consuming DML advances the
        offset (Engine handles both). Requires an informational PRIMARY
        KEY on t (single or composite) for row identity — the engine
        analogue of CHANGE_TRACKING = TRUE. Offset defaults to t's
        CURRENT version (a fresh stream is empty, as in Snowflake)."""
        streams = self.streams()
        key = name.lower()
        if key in streams and not replace:
            raise ValueError(f"stream already exists: {name}")
        cur = self.current_version(table)
        if cur is None:
            raise FileNotFoundError(f"table not found: {table}")
        pk = self.primary_key(table)
        if not pk:
            raise ValueError(
                f"CREATE STREAM requires a PRIMARY KEY on '{table}' for "
                "row identity — ALTER TABLE ... ADD PRIMARY KEY (cols) "
                "first"
            )
        if offset is None:
            offset = cur
        elif offset > cur:
            raise ValueError(
                f"stream offset {offset} is beyond '{table}' current "
                f"version {cur}"
            )
        streams[key] = {"table": table, "offset": int(offset)}
        self._write_streams(streams)
        # CREATE STREAM implies CHANGE_TRACKING = TRUE on the source
        # (Snowflake does exactly this): subsequent commits persist
        # O(delta) row manifests so stream reads never pay the
        # two-version join. Commits BEFORE the stream existed fall
        # back — correct, since a fresh stream starts at the current
        # version anyway.
        self.set_change_tracking(table, True)

    def drop_stream(self, name: str) -> None:
        streams = self.streams()
        key = name.lower()
        if key not in streams:
            raise ValueError(f"stream not found: {name}")
        streams.pop(key)
        self._write_streams(streams)

    def advance_stream(self, name: str, version: int) -> None:
        streams = self.streams()
        key = name.lower()
        if key in streams:
            streams[key]["offset"] = int(version)
            self._write_streams(streams)

    # -- sequences (r9, Snowflake CREATE SEQUENCE / NEXTVAL) --------------
    def _sequences_file(self) -> str:
        return os.path.join(self.root, "_sequences.json")

    def sequences(self) -> dict:
        try:
            with open(self._sequences_file()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _write_sequences(self, seqs: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._sequences_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(seqs, f)
        os.replace(tmp, self._sequences_file())

    def create_sequence(
        self,
        name: str,
        start: int = 1,
        increment: int = 1,
        replace: bool = False,
    ) -> None:
        """Snowflake CREATE SEQUENCE: a named counter handing out
        ``counter + k * increment`` blocks. ``counter`` is the next
        value the sequence will mint; a consuming statement advances it
        by (rows x increment) — Engine._advance_used_sequences."""
        if increment == 0:
            raise ValueError("sequence increment must be nonzero")
        seqs = self.sequences()
        key = name.lower()
        if key in seqs and not replace:
            raise ValueError(f"sequence already exists: {name}")
        seqs[key] = {
            "start": int(start),
            "increment": int(increment),
            "counter": int(start),
        }
        self._write_sequences(seqs)

    def drop_sequence(self, name: str) -> None:
        seqs = self.sequences()
        key = name.lower()
        if key not in seqs:
            raise ValueError(f"sequence not found: {name}")
        seqs.pop(key)
        self._write_sequences(seqs)

    def advance_sequence(self, name: str, n_values: int) -> None:
        """Consume ``n_values`` draws: counter += n_values * increment."""
        seqs = self.sequences()
        key = name.lower()
        if key in seqs and n_values:
            seqs[key]["counter"] += int(n_values) * seqs[key]["increment"]
            self._write_sequences(seqs)

    # -- views (r9, Snowflake non-materialized views) ----------------------
    def _views_file(self) -> str:
        return os.path.join(self.root, "_views.json")

    def views(self) -> dict:
        try:
            with open(self._views_file()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _write_views(self, views: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._views_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(views, f)
        os.replace(tmp, self._views_file())

    def create_view(self, name: str, sql: str, replace: bool = False) -> None:
        """Snowflake CREATE VIEW: a stored SELECT, re-resolved at every
        read — so it always reflects the base tables' CURRENT versions,
        and reads stay policy-governed (the body references the
        engine's masked/filtered table views, never raw storage)."""
        key = name.lower()
        if self.exists(name) or self.exists(key):
            raise ValueError(
                f"cannot create view {name}: a table with that name "
                "exists"
            )
        views = self.views()
        if key in views and not replace:
            raise ValueError(f"view already exists: {name}")
        views[key] = {"sql": sql}
        self._write_views(views)

    def drop_view(self, name: str) -> None:
        views = self.views()
        key = name.lower()
        if key not in views:
            raise ValueError(f"view not found: {name}")
        views.pop(key)
        self._write_views(views)

    # -- tasks (r9, Snowflake TASK objects: a DAG of SQL statements) ------
    def _tasks_file(self) -> str:
        return os.path.join(self.root, "_tasks.json")

    def tasks(self) -> dict:
        try:
            with open(self._tasks_file()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _write_tasks(self, tasks: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._tasks_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(tasks, f)
        os.replace(tmp, self._tasks_file())

    def create_task(
        self,
        name: str,
        sql: str,
        after: list[str] | None = None,
        schedule: str | None = None,
        replace: bool = False,
        when: str | None = None,
    ) -> None:
        """Snowflake CREATE TASK: a named SQL statement, optionally a
        child of other tasks (AFTER edges form the run DAG), optionally
        gated by a WHEN boolean expression (r10): evaluated at run
        time; FALSE skips the task AND its subtree, like Snowflake's
        conditional tasks. Created SUSPENDED, like Snowflake;
        Engine.execute_task runs the named task and its resumed
        descendants in topological order. The SCHEDULE string is
        validated here and interpreted by ``Engine.run_due(now)``
        (r11) — an explicit tick with an injectable clock, since a
        batch engine has no background thread; EXECUTE TASK remains
        the manual trigger."""
        tasks = self.tasks()
        key = name.lower()
        if key in tasks and not replace:
            raise ValueError(f"task already exists: {name}")
        after = [a.lower() for a in (after or [])]
        if schedule is not None:
            if after:
                # Snowflake: SCHEDULE and AFTER are mutually exclusive —
                # only root tasks carry schedules.
                raise ValueError(
                    f"CREATE TASK {name}: SCHEDULE and AFTER are "
                    "mutually exclusive (only root tasks are scheduled)"
                )
            from .schedule import parse_schedule

            parse_schedule(schedule)  # broken spec fails CREATE, not tick
        for parent in after:
            if parent not in tasks:
                raise ValueError(
                    f"CREATE TASK {name}: predecessor task not found: "
                    f"{parent}"
                )
            if parent == key:
                raise ValueError(f"task {name} cannot run AFTER itself")
            # OR REPLACE could otherwise close a cycle through an
            # existing ancestor chain — refuse at create time.
            stack, seen = [parent], set()
            while stack:
                cur = stack.pop()
                if cur == key:
                    raise ValueError(
                        f"CREATE TASK {name}: AFTER {parent} would form "
                        "a cycle"
                    )
                if cur in seen or cur not in tasks:
                    continue
                seen.add(cur)
                stack.extend(tasks[cur].get("after", []))
        tasks[key] = {
            "sql": sql,
            "after": after,
            "schedule": schedule,
            "state": "suspended",
            "when": when,
        }
        self._write_tasks(tasks)

    def drop_task(self, name: str) -> None:
        tasks = self.tasks()
        key = name.lower()
        if key not in tasks:
            raise ValueError(f"task not found: {name}")
        children = sorted(
            n for n, t in tasks.items() if key in t.get("after", [])
        )
        if children:
            raise ValueError(
                f"task {name} has child tasks ({', '.join(children)}) — "
                "drop them first"
            )
        tasks.pop(key)
        self._write_tasks(tasks)

    def set_task_state(self, name: str, state: str) -> None:
        tasks = self.tasks()
        key = name.lower()
        if key not in tasks:
            raise ValueError(f"task not found: {name}")
        tasks[key]["state"] = state
        self._write_tasks(tasks)

    def set_task_schedule(self, name: str, schedule: str | None) -> None:
        """ALTER TASK SET SCHEDULE = '...' / UNSET SCHEDULE (r11):
        validated like CREATE TASK; rejected on a child task (only
        roots are scheduled, as in Snowflake); last_run clears so the
        new schedule anchors fresh at the next run_due tick."""
        tasks = self.tasks()
        key = name.lower()
        if key not in tasks:
            raise ValueError(f"task not found: {name}")
        if schedule is not None:
            if tasks[key].get("after"):
                raise ValueError(
                    f"ALTER TASK {name}: SCHEDULE and AFTER are "
                    "mutually exclusive (only root tasks are scheduled)"
                )
            from .schedule import parse_schedule

            parse_schedule(schedule)
        tasks[key]["schedule"] = schedule
        tasks[key].pop("last_run", None)
        self._write_tasks(tasks)

    def record_task_run(self, name: str, fired_at: str) -> None:
        """Stamp a scheduled fire (ISO timestamp) — the anchor
        ``Engine.run_due`` measures the next due time from."""
        tasks = self.tasks()
        key = name.lower()
        if key not in tasks:
            raise ValueError(f"task not found: {name}")
        tasks[key]["last_run"] = fired_at
        self._write_tasks(tasks)

    # -- task run history (r12, INFORMATION_SCHEMA.TASK_HISTORY) ----------
    # Append-only jsonl at the store root: one row per task execution
    # attempt (manual EXECUTE TASK and run_due ticks alike), the
    # observability half of the scheduling story. O(1) appends; the
    # read surface is a small driver-side file (task orchestration is
    # metadata-scale by design).
    def _task_history_file(self) -> str:
        return os.path.join(self.root, "_task_history.jsonl")

    def append_task_history(self, rows: list[dict]) -> None:
        if not rows:
            return
        os.makedirs(self.root, exist_ok=True)
        with open(self._task_history_file(), "a") as f:
            for r in rows:
                json.dump(r, f)
                f.write("\n")

    def task_history(self) -> list[dict]:
        out: list[dict] = []
        try:
            with open(self._task_history_file()) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        out.append(json.loads(line))
                    except ValueError:
                        continue  # torn tail line: history is best-effort
        except OSError:
            return []
        return out

    # -- dynamic tables (r13, Snowflake CREATE DYNAMIC TABLE) -------------
    # Declarative auto-refreshed materializations: the defining SELECT
    # plus a TARGET_LAG drive refreshes through Engine.run_due (the
    # injectable-clock scheduler tick) or ALTER ... REFRESH. The DATA
    # lives as a normal versioned store table under the same name (so
    # refs, time travel, CHANGES, and governance all compose); this
    # metadata file holds the definition and the base-table versions
    # the last refresh read — an O(1) version-pointer compare makes an
    # idle refresh commit NOTHING (the 100 TB posture: lag ticks on
    # unchanged bases are metadata-only, like SYSTEM$STREAM_HAS_DATA).

    def _dynamic_tables_file(self) -> str:
        return os.path.join(self.root, "_dynamic_tables.json")

    def dynamic_tables(self) -> dict:
        try:
            with open(self._dynamic_tables_file()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _write_dynamic_tables(self, dts: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._dynamic_tables_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(dts, f)
        os.replace(tmp, self._dynamic_tables_file())

    def create_dynamic_table(
        self,
        name: str,
        sql: str,
        lag_s: int | None,
        replace: bool = False,
        refresh_mode: str = "auto",
    ) -> None:
        """``lag_s`` None = TARGET_LAG DOWNSTREAM (no self-schedule;
        refreshes only via ALTER ... REFRESH or an upstream refresh).
        Created STARTED, like Snowflake (INITIALIZE = ON_CREATE is the
        engine-level initial refresh)."""
        dts = self.dynamic_tables()
        key = name.lower()
        if key in dts and not replace:
            raise ValueError(f"dynamic table already exists: {name}")
        if key not in dts and self.exists(key) and not replace:
            raise ValueError(
                f"a regular table named {name} already exists "
                "(CREATE OR REPLACE DYNAMIC TABLE to take the name over)"
            )
        dts[key] = {
            "sql": sql,
            "lag_s": lag_s,
            "state": "started",
            "base_versions": {},
            "last_refresh": None,
            "refresh_mode": refresh_mode,
        }
        self._write_dynamic_tables(dts)

    def drop_dynamic_table(self, name: str) -> None:
        dts = self.dynamic_tables()
        key = name.lower()
        if key not in dts:
            raise ValueError(f"dynamic table not found: {name}")
        dts.pop(key)
        self._write_dynamic_tables(dts)

    def set_dynamic_table_state(self, name: str, state: str) -> None:
        dts = self.dynamic_tables()
        key = name.lower()
        if key not in dts:
            raise ValueError(f"dynamic table not found: {name}")
        dts[key]["state"] = state
        self._write_dynamic_tables(dts)

    def set_dynamic_table_lag(
        self, name: str, lag_s: int | None
    ) -> None:
        """Retune TARGET_LAG (r14): None = DOWNSTREAM."""
        dts = self.dynamic_tables()
        key = name.lower()
        if key not in dts:
            raise ValueError(f"dynamic table not found: {name}")
        dts[key]["lag_s"] = lag_s
        self._write_dynamic_tables(dts)

    def record_dynamic_refresh(
        self,
        name: str,
        base_versions: dict,
        refreshed_at: str,
        state: str,
        mode: str | None = None,
    ) -> None:
        """Stamp a refresh attempt: base versions + time onto the
        definition (the skip anchor) and one history row (the
        DYNAMIC_TABLE_REFRESH_HISTORY read surface)."""
        dts = self.dynamic_tables()
        key = name.lower()
        if key not in dts:
            raise ValueError(f"dynamic table not found: {name}")
        if state == "SUCCEEDED":
            dts[key]["base_versions"] = base_versions
        # last_refresh anchors the lag tick: a SKIPPED attempt counts
        # (the table was up to date at that time), so idle lag ticks
        # stay spaced instead of re-checking every tick
        dts[key]["last_refresh"] = refreshed_at
        self._write_dynamic_tables(dts)
        os.makedirs(self.root, exist_ok=True)
        row = {
            "name": key,
            "refreshed_at": refreshed_at,
            "state": state,
            "mode": mode,
            "base_versions": base_versions,
        }
        with open(self._dt_refresh_history_file(), "a") as f:
            json.dump(row, f)
            f.write("\n")

    def _dt_refresh_history_file(self) -> str:
        return os.path.join(self.root, "_dt_refresh_history.jsonl")

    def dt_refresh_history(self) -> list[dict]:
        out: list[dict] = []
        try:
            with open(self._dt_refresh_history_file()) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    try:
                        out.append(json.loads(line))
                    except ValueError:
                        continue
        except OSError:
            return []
        return out

    def drop_masking_policy(self, name: str) -> None:
        """Drop a policy OBJECT of either kind. Refuses while attached
        anywhere (Snowflake parity: a policy in use cannot be
        dropped)."""
        pols = self.policies()
        key = name.lower()
        if key not in pols:
            raise ValueError(f"masking policy not found: {name}")
        attached = self._policy_attachments(key)
        if attached:
            raise ValueError(
                f"policy {name} is attached to: "
                f"{', '.join(sorted(attached))} — UNSET/DROP it first"
            )
        pols.pop(key)
        self._write_policies(pols)

    def masking_for(self, name: str) -> dict:
        meta = self.meta(name)
        mask = dict(meta.get("masking", {}))
        # r12: expand mask attachments through RENAME COLUMN chains so
        # a time-travel/historical frame — which carries the OLD
        # physical column name — still gets the mask (the read-side
        # loop masks whichever name the frame has and skips the rest;
        # without this, renaming a masked column would serve raw
        # pre-rename versions). Walked newest-op-first so chains
        # a->b->c propagate c's mask to b, then b's to a.
        for op in reversed(meta.get("column_ops", [])):
            if op.get("op") != "rename":
                continue
            for c, p in list(mask.items()):
                if c.lower() == op["new"].lower() and not any(
                    k.lower() == op["old"].lower() for k in mask
                ):
                    mask[op["old"]] = p
        return mask

    def row_access_for(self, name: str) -> dict | None:
        return self.meta(name).get("row_access")

    def add_row_access_policy(
        self, name: str, policy_name: str, columns: list[str]
    ) -> None:
        """One row access policy per table (Snowflake's own limit)."""
        meta = self.meta(name)
        if not meta:
            raise FileNotFoundError(f"table not found: {name}")
        key = policy_name.lower()
        pol = self.policies().get(key)
        if pol is None or pol.get("kind") != "row_access":
            raise ValueError(f"row access policy not found: {policy_name}")
        if meta.get("row_access"):
            raise ValueError(
                f"table {name} already has a row access policy "
                f"({meta['row_access']['policy']}) — DROP it first"
            )
        if len(columns) != len(pol["params"]):
            raise ValueError(
                f"row access policy {policy_name} takes "
                f"{len(pol['params'])} column(s), got {len(columns)}"
            )
        meta["row_access"] = {"policy": key, "columns": list(columns)}
        self._stamp_meta_at(name, meta, "row_access")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def drop_row_access_policy(self, name: str) -> None:
        meta = self.meta(name)
        meta.pop("row_access", None)
        self._unstamp_meta_at(meta, "row_access")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def set_column_masking(
        self, name: str, column: str, policy_name: str
    ) -> None:
        meta = self.meta(name)
        if not meta:
            raise FileNotFoundError(f"table not found: {name}")
        key = policy_name.lower()
        pol = self.policies().get(key)
        if pol is None:
            raise ValueError(f"masking policy not found: {policy_name}")
        if pol.get("kind") != "masking":
            # a row-access policy bound as a column mask would crash
            # the read rewrite on pol['param'] (ADVICE r8 #3)
            raise ValueError(
                f"{policy_name} is a {pol.get('kind')} policy — only "
                "MASKING policies can be set on a column"
            )
        mask = dict(meta.get("masking", {}))
        mask[column] = key
        meta["masking"] = mask
        self._stamp_meta_at(name, meta, f"masking:{column.lower()}")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    def unset_column_masking(self, name: str, column: str) -> None:
        meta = self.meta(name)
        mask = dict(meta.get("masking", {}))
        mask.pop(column, None)
        meta["masking"] = mask
        self._unstamp_meta_at(meta, f"masking:{column.lower()}")
        tmp = self._meta_file(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_file(name))

    # -- deferred drops (transactional scripts, ADVICE r7 #2) -------------
    def defer_drops(self) -> None:
        """Until commit/rollback, drop() moves table dirs to a trash
        area instead of rmtree'ing them, making DROP TABLE reversible
        inside an all-or-nothing script.

        The trash dir is unique per transaction (ADVICE r8 #4: a shared
        root-level dir let a second transactional script delete the
        first one's trashed tables, silently breaking its rollback),
        and re-arming while armed is an explicit error rather than a
        silent trash swap."""
        if getattr(self, "_drop_trash", None):
            raise RuntimeError(
                "defer_drops() while a deferred-drop transaction is "
                "already active — commit or roll back the first one"
            )
        import tempfile

        os.makedirs(self.root, exist_ok=True)
        self._drop_trash = tempfile.mkdtemp(prefix="_tx_trash_", dir=self.root)

    def commit_deferred_drops(self) -> None:
        trash = self._drop_trash
        self._drop_trash = None
        if trash:
            shutil.rmtree(trash, ignore_errors=True)

    def rollback_deferred_drops(self) -> None:
        """Restore every trashed table directory, replacing any
        same-named table the script re-created after its drop."""
        trash = self._drop_trash
        self._drop_trash = None
        if not trash or not os.path.isdir(trash):
            return
        for e in os.listdir(trash):
            dst = os.path.join(self.root, e)
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(os.path.join(trash, e), dst)
        shutil.rmtree(trash, ignore_errors=True)

    @_locked_write
    def clone(self, src_name: str, dst_name: str) -> None:
        """SHALLOW CLONE (r7, Delta parity): a new table whose v=0
        carries the source's CURRENT data files by hard link — an
        O(metadata) copy regardless of table size. Versions are
        immutable, so the clone and the source can evolve independently
        afterwards: a write to either creates fresh version directories
        and never touches the shared bytes (inode-shared until either
        side's vacuum drops its own references — exactly the Delta
        shallow-clone lifetime contract). DV sidecars are carried too,
        so a clone of a table with pending merge-on-read deletes reads
        identically."""
        if self.exists(dst_name):
            raise FileExistsError(f"clone target exists: {dst_name}")
        src_dir = self.data_path(src_name)  # raises if missing
        with self._write_lock(dst_name):
            dst_v0 = os.path.join(self._dir(dst_name), "v=0")
            shutil.rmtree(dst_v0, ignore_errors=True)
            for root, _dirs, files in os.walk(src_dir):
                rel = os.path.relpath(root, src_dir)
                dst_root = (
                    dst_v0 if rel == "." else os.path.join(dst_v0, rel)
                )
                os.makedirs(dst_root, exist_ok=True)
                for fname in files:
                    self._retain_file(
                        os.path.join(root, fname),
                        os.path.join(dst_root, fname),
                    )
            # DV sidecar is a SIBLING of the version dir (dv_v=N) —
            # carry it so pending merge-on-read deletes read identically
            src_dv = self._dv_dir(src_dir)
            if os.path.isdir(src_dv):
                dst_dv = self._dv_dir(dst_v0)
                os.makedirs(os.path.dirname(dst_dv), exist_ok=True)
                shutil.copytree(
                    src_dv, dst_dv, copy_function=self._retain_file
                )
            meta = self.meta(src_name)
            if meta.get("schema"):
                self._set_meta(
                    dst_name,
                    meta.get("partition_by"),
                    StructType.fromJson(meta["schema"]),
                )
            self._set_version(dst_name, 0, op="clone")

    def restore(self, name: str, version: int) -> int:
        """RESTORE TABLE ... TO VERSION (r7, Delta parity): roll the
        table back to a prior version AS A NEW COMMIT — the restored
        state gets version current+1 (files hard-linked, O(metadata)),
        history is preserved, and the botched intermediate versions
        remain time-travelable until vacuumed. Raises if the requested
        version was already vacuumed (never silently restores the
        wrong data). Returns the new version number."""
        with self._write_lock(name):
            cur = self.current_version(name)
            if cur is None:
                raise FileNotFoundError(f"table not found: {name}")
            src_dir = os.path.join(self._dir(name), f"v={version}")
            if not os.path.isdir(src_dir):
                raise FileNotFoundError(
                    f"version {version} of '{name}' not on disk "
                    "(vacuumed?); cannot restore"
                )
            new_v = cur + 1
            dst_dir = os.path.join(self._dir(name), f"v={new_v}")
            shutil.rmtree(dst_dir, ignore_errors=True)
            for root, _dirs, files in os.walk(src_dir):
                rel = os.path.relpath(root, src_dir)
                dst_root = (
                    dst_dir if rel == "." else os.path.join(dst_dir, rel)
                )
                os.makedirs(dst_root, exist_ok=True)
                for fname in files:
                    self._retain_file(
                        os.path.join(root, fname),
                        os.path.join(dst_root, fname),
                    )
            src_dv = self._dv_dir(src_dir)
            if os.path.isdir(src_dv):
                shutil.copytree(
                    src_dv,
                    self._dv_dir(dst_dir),
                    copy_function=self._retain_file,
                )
            self._set_version(name, new_v, op=f"restore(v{version})")
            return new_v

    def purge(self, spark: SparkSession, name: str) -> None:
        """Physically erase deleted/superseded rows (GDPR erasure).

        A deletion-vector delete_where is an O(matched) logical commit:
        the dropped rows' BYTES remain readable in the carried
        (hard-linked) data files and in every prior version until a
        materializing rewrite lands AND old versions are vacuumed
        (ADVICE r6). purge() performs exactly that pair: rewrite the
        current DV-applied view into fresh parquet (new files — no
        hard links back to old bytes, no DV sidecar), then vacuum
        every superseded version directory. After purge(), no file on
        disk contains the deleted rows. Time travel to pre-purge
        versions intentionally raises (same contract as vacuum)."""
        current = self.read(spark, name)  # DV-applied view
        self._rewrite(spark, name, current)
        self.vacuum(name, keep=1)

    def _rewrite(
        self,
        spark: SparkSession,
        name: str,
        df: DataFrame,
        cdc_events: DataFrame | None = None,
    ) -> None:
        v = self.current_version(name)
        new_v = v + 1
        self._clear_cdc_sidecars(name, new_v)
        pcol = self.partition_by(name)
        writer = df.write.mode("overwrite")
        if pcol and pcol in df.columns:
            writer = writer.partitionBy(pcol)
        writer.parquet(os.path.join(self._dir(name), f"v={new_v}"))
        self._set_meta(name, pcol if pcol in df.columns else None, df.schema)
        self._stamp_version_schema(
            name, os.path.join(self._dir(name), f"v={new_v}"), df.schema
        )
        if cdc_events is not None and self.change_tracking(name):
            # Manifest BEFORE the pointer swap: visible atomically with
            # the version. The events frame still reads the old version
            # files (they stay on disk until an explicit vacuum).
            # Gated (r11): callers pass events LAZILY (built from
            # frames they checkpointed anyway); skipping the write here
            # means the event lineage is never evaluated.
            self.write_cdc_events(spark, name, new_v, cdc_events)
        self._set_version(name, new_v, op="rewrite")

    # -- per-commit change manifests (r10, VERDICT r9 #1) -------------------
    # Every stream read / CHANGES scan used to pay an O(table)
    # two-version join per window. Commits that KNOW their delta now
    # persist it as a sidecar next to the version dir (the Delta CDF
    # "change data files" idea):
    #   cdc_v=N            parquet of raw change events (payload in that
    #                      commit's schema + change_type: insert/delete/
    #                      update_preimage/update_postimage)
    #   cdc_v=N.files.json append commits: the NEW (non-hard-linked)
    #                      data files — the delta IS those files, no row
    #                      copies needed.
    # read_changes composes a window from manifests when every commit
    # in it has one (O(changed), one key shuffle — or ZERO shuffles for
    # an append-only window), falling back to the two-version join
    # otherwise. Manifests are an optimization: they hold RAW per-row
    # events with no key assumptions; the reader's unique_key + digest
    # semantics apply at composition time, so results match the
    # fallback — with ONE documented divergence (ADVICE r10): an INSERT
    # whose unique_key already exists in the table. The files manifest
    # emits 'insert' (Snowflake-faithful: an INSERT is an insert
    # regardless of key collisions — Snowflake streams track row
    # operations, not key reconciliation), while the two-version join,
    # which can only diff states, renders it as update_preimage/
    # postimage (or silence when the payload is byte-identical).
    # Consumers must not rely on a window being manifest-availability-
    # independent under duplicate-key appends; keyed tables written via
    # MERGE (the supported contract for streams) never hit this.
    #
    # ROW manifests are GATED on the table's change_tracking property
    # (r11): without a consumer, keyed merges/deletes skip the event
    # computation and sidecar write entirely. FILES manifests (appends,
    # metadata-only commits) are ~free and stay unconditional.
    # Sidecars vacuum with their version.

    def _cdc_rows_dir(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), f"cdc_v={version}")

    def _cdc_files_file(self, name: str, version: int) -> str:
        return os.path.join(self._dir(name), f"cdc_v={version}.files.json")

    def _clear_cdc_sidecars(self, name: str, version: int) -> None:
        """Remove any sidecar left at ``version`` by an ABORTED earlier
        commit (ADVICE r10, medium): manifests are written before the
        _set_version pointer swap, so a crash between the two leaves a
        cdc_v=<v> for a version that never committed. Every commit path
        calls this for its target version BEFORE writing data — a
        commit that writes no manifest of its own must still not let a
        stale one (checked rows-dir-first by _cdc_manifest) serve an
        aborted commit's delta to read_changes/streams."""
        shutil.rmtree(self._cdc_rows_dir(name, version), ignore_errors=True)
        try:
            os.remove(self._cdc_files_file(name, version))
        except OSError:
            pass

    def write_cdc_events(
        self, spark: SparkSession, name: str, version: int, events: DataFrame
    ) -> None:
        """Persist a commit's raw change events. Best-effort: a failure
        here leaves no manifest (reads fall back to the version diff),
        never a broken commit."""
        staging = os.path.join(self._dir(name), "_cdc_staging")
        try:
            shutil.rmtree(staging, ignore_errors=True)
            events.write.mode("overwrite").parquet(staging)
            # r16: stamp the manifest's physical schema so the first
            # _cdc_manifest read of this sidecar (per process) skips
            # the footer-inference job. Sidecars are single-generation
            # and never partitioned; the stamp is the writer's schema.
            try:
                tmp = os.path.join(staging, "_SCHEMA.json.tmp")
                with open(tmp, "w") as f:
                    json.dump(
                        {
                            "schema": self._all_nullable(
                                events.schema
                            ).jsonValue()
                        },
                        f,
                    )
                os.replace(
                    tmp, os.path.join(staging, "_SCHEMA.json")
                )
            except OSError:
                pass
            self._promote_dir(staging, self._cdc_rows_dir(name, version))
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(
                self._cdc_rows_dir(name, version), ignore_errors=True
            )

    def write_cdc_files(
        self, name: str, version: int, relpaths: list[str]
    ) -> None:
        """Persist an append commit's manifest: the new data files,
        relative to the version directory."""
        tmp = self._cdc_files_file(name, version) + ".tmp"
        try:
            with open(tmp, "w") as f:
                json.dump({"files": sorted(relpaths)}, f)
            os.replace(tmp, self._cdc_files_file(name, version))
        except OSError:
            pass

    def _cdc_manifest(
        self, spark: SparkSession, name: str, version: int
    ) -> tuple[str, DataFrame] | None:
        """(kind, events) for a commit's manifest, or None. kind is
        'files' (insert-only, reads ONLY the appended files) or 'rows'.

        Cached per (session, sidecar stat, _META stat) — r15, guide
        §1.2/§6: a stream consumer rebuilds its frame after every base
        commit, and each rebuild re-walks the whole manifest window, so
        the same immutable sidecar was re-analyzed (a footer job) once
        per later commit. _clear_cdc_sidecars gives a recommitted
        version a fresh stat; _META keys the schema pin."""
        import weakref

        try:
            mst = os.stat(self._meta_file(name))
            mkey = (mst.st_mtime_ns, mst.st_size, mst.st_ino)
        except OSError:
            mkey = None

        def _hit(path: str):
            try:
                st = os.stat(path)
            except OSError:
                return None, None
            skey = (st.st_mtime_ns, st.st_ino, mkey)
            c = self._cdc_manifest_cache.get((name, version))
            if c is not None:
                c_spark, c_key, kind, df = c
                if c_spark() is spark and c_key == skey:
                    return skey, (kind, df)
            return skey, None

        def _put(skey, kind: str, df: DataFrame):
            if skey is not None:
                self._cdc_manifest_cache[(name, version)] = (
                    weakref.ref(spark), skey, kind, df,
                )
            return kind, df

        rows_dir = self._cdc_rows_dir(name, version)
        if os.path.isdir(rows_dir):
            skey, hit = _hit(rows_dir)
            if hit is not None:
                return hit
            reader = spark.read.option("mergeSchema", "true")
            stamp = self._read_version_stamp(rows_dir)  # r16: skip footer job
            if stamp is not None:
                reader = reader.schema(stamp)
            return _put(skey, "rows", reader.parquet(rows_dir))
        ff = self._cdc_files_file(name, version)
        if os.path.isfile(ff):
            skey, hit = _hit(ff)
            if hit is not None:
                return hit
            try:
                with open(ff) as f:
                    rels = json.load(f)["files"]
            except (OSError, ValueError, KeyError):
                return None
            vdir = os.path.join(self._dir(name), f"v={version}")
            if not rels:
                return _put(
                    skey,
                    "files",
                    self.read_version(spark, name, version)
                    .limit(0)
                    .withColumn("change_type", F.lit("insert")),
                )
            reader = spark.read.option("basePath", vdir).option(
                "mergeSchema", "true"
            )
            meta = self.meta(name)
            if meta.get("partition_by") and meta.get("schema"):
                # pin partition-column types like read() does
                reader = reader.schema(StructType.fromJson(meta["schema"]))
            df = reader.parquet(*[os.path.join(vdir, r) for r in rels])
            # New files carry no deletion-vector rows at their own
            # commit (a delete creates a LATER version), so no DV apply.
            return _put(
                skey, "files", df.withColumn("change_type", F.lit("insert"))
            )
        return None

    def _compose_changes(
        self,
        spark: SparkSession,
        name: str,
        manifests: list[tuple[int, str, DataFrame]],
        to_version: int,
        keys: list[str],
    ) -> DataFrame:
        """Net delta over a manifest-covered window: identical
        semantics to the two-version join, O(changed) work.

        Append-only windows (all 'files' manifests) short-circuit to a
        union — zero shuffles, and the scan reads ONLY the appended
        files. Mixed windows reduce per key: the net change is
        (initial state before the key's FIRST event) vs (final state
        after its LAST event) — absent->present = insert,
        present->absent = delete, present->present = update iff the
        payload digest changed (same md5(to_json(payload)) expression
        as the fallback, so a rewrite of identical bytes stays
        CDC-silent). A key whose events cancel (insert then delete)
        emits nothing. Key-mutating updates fall out naturally: the
        pre-image groups under the old key (-> delete) and the
        post-image under the new key (-> insert), exactly like the
        fallback's key diff."""
        template = self.read_version(spark, name, to_version).limit(0)
        cols = template.columns
        ev = template.withColumn("change_type", F.lit("")).withColumn(
            "_v", F.lit(0).cast("long")
        )
        for v, _kind, df in manifests:
            ev = ev.unionByName(
                df.withColumn("_v", F.lit(v).cast("long")),
                allowMissingColumns=True,
            )
        ev = ev.select(*cols, "change_type", "_v")

        if all(kind == "files" for _v, kind, _df in manifests):
            return ev.drop("_v")

        payload = [c for c in cols if c not in keys]
        # r15 (guide §2.3/§4.1): update detection compares the payload
        # structs directly (null-safe, field-wise) instead of hashing
        # every row with md5(to_json(...)) — the rows already travel in
        # full for the pre/post images, so the digest bought nothing
        # but per-row JSON+md5 CPU and 32 extra shuffled bytes (and a
        # theoretical collision-misses-update hole). Maps are not
        # comparable in Spark, so map-typed payloads keep the digest.
        use_digest = any(
            _contains_map(template.schema[c].dataType) for c in payload
        )
        if use_digest:
            dig = F.md5(F.to_json(F.struct(*[F.col(c) for c in payload])))
            extra = [dig.alias("_dig")]
        else:
            extra = []
        is_pre = F.col("change_type").isin("delete", "update_preimage")
        is_post = F.col("change_type").isin("insert", "update_postimage")
        row_struct = F.struct(*[F.col(c) for c in cols], *extra)
        big = F.lit(1 << 60).cast("long")
        ev = ev.withColumn("_pre", is_pre).withColumn("_post", is_post)
        agg = ev.groupBy(*[F.col(k) for k in keys]).agg(
            F.min("_v").alias("_min_all"),
            F.max("_v").alias("_max_all"),
            F.min(F.when(F.col("_pre"), F.col("_v"))).alias("_min_pre"),
            F.max(F.when(F.col("_post"), F.col("_v"))).alias("_max_post"),
            F.min_by(
                F.when(F.col("_pre"), row_struct),
                F.when(F.col("_pre"), F.col("_v")).otherwise(big),
            ).alias("_init"),
            F.max_by(
                F.when(F.col("_post"), row_struct),
                F.when(F.col("_post"), F.col("_v")).otherwise(F.lit(-1)),
            ).alias("_fin"),
        )
        init_here = F.col("_min_pre").isNotNull() & (
            F.col("_min_pre") == F.col("_min_all")
        )
        fin_here = F.col("_max_post").isNotNull() & (
            F.col("_max_post") == F.col("_max_all")
        )
        pair = agg.select(
            F.when(
                ~init_here & fin_here,
                F.array(
                    F.struct(
                        F.lit("insert").alias("ct"), F.col("_fin").alias("row")
                    )
                ),
            )
            .when(
                init_here & ~fin_here,
                F.array(
                    F.struct(
                        F.lit("delete").alias("ct"),
                        F.col("_init").alias("row"),
                    )
                ),
            )
            .when(
                init_here
                & fin_here
                & (
                    (F.col("_init._dig") != F.col("_fin._dig"))
                    if use_digest
                    else ~F.struct(
                        *[F.col(f"_init.{c}") for c in payload]
                    ).eqNullSafe(
                        F.struct(*[F.col(f"_fin.{c}") for c in payload])
                    )
                ),
                F.array(
                    F.struct(
                        F.lit("update_preimage").alias("ct"),
                        F.col("_init").alias("row"),
                    ),
                    F.struct(
                        F.lit("update_postimage").alias("ct"),
                        F.col("_fin").alias("row"),
                    ),
                ),
            )
            .alias("_evs")
        )
        out = pair.filter(F.col("_evs").isNotNull()).select(
            F.explode(F.col("_evs")).alias("_e")
        )
        return out.select(
            *[F.col(f"_e.row.{c}").alias(c) for c in cols],
            F.col("_e.ct").alias("change_type"),
        )

    def read_changes(
        self,
        spark: SparkSession,
        name: str,
        from_version: int,
        to_version: int,
        unique_key: str | list[str],
    ) -> DataFrame:
        """Change-data-feed between two on-disk versions (the Delta CDF
        ``readChangeData`` analogue over this store's immutable version
        directories; builds on read_version / time travel).

        STORAGE-LEVEL API: returns raw bytes, bypassing masking / row
        access policies (like reading Delta files directly). Policy-
        enforced CDC is ``Engine.table_changes`` (engine/dag.py), which
        wraps this read in ``_policy_masked``.

        Emits rows in the ``to_version`` schema plus a ``change_type``
        column: 'insert' (key only in to), 'delete' (key only in from,
        rendered in the widened schema with new columns null),
        'update_preimage' / 'update_postimage' (key in both with any
        non-key column changed). Unchanged rows emit nothing, so a
        MERGE that rewrote identical bytes is CDC-silent.

        Scale shape: three joins keyed on ``unique_key`` (two
        anti-joins + one inner with a row-digest inequality), each a
        plain hash shuffle on the key — never a full-row comparison
        shuffle (the digest is computed map-side). Downstream
        incremental consumers get O(changed) rows regardless of table
        size. ``unique_key`` may be a single column or a composite key
        (list) — the joins fold null-safe equality over every part
        (r9).
        """
        keys = (
            [unique_key] if isinstance(unique_key, str) else list(unique_key)
        )
        # Manifest path (r10): when every commit in (from, to] persisted
        # its delta, compose the window from O(changed) events instead
        # of diffing two full versions — the append-only case reads
        # ONLY the appended files with zero shuffles.
        if to_version > from_version:
            manifests: list[tuple[int, str, DataFrame]] = []
            for v in range(from_version + 1, to_version + 1):
                m = self._cdc_manifest(spark, name, v)
                if m is None:
                    break
                manifests.append((v, m[0], m[1]))
            else:
                return self._compose_changes(
                    spark, name, manifests, to_version, keys
                )
        old = self.read_version(spark, name, from_version)
        new = self.read_version(spark, name, to_version)
        # Render the old version in the new (possibly widened) schema:
        # set-operation coercion widens common columns and nulls new ones.
        old_w = old.unionByName(new.limit(0), allowMissingColumns=True).select(
            new.columns
        )
        payload = [c for c in new.columns if c not in keys]
        # r15: direct null-safe struct comparison instead of per-row
        # md5(to_json(...)) digests — same rationale and map-type
        # fallback as _compose_changes.
        use_digest = any(
            _contains_map(new.schema[c].dataType) for c in payload
        )

        def digest(df: DataFrame) -> DataFrame:
            if not use_digest:
                return df
            return df.withColumn(
                "_digest", F.md5(F.to_json(F.struct(*[F.col(c) for c in payload])))
            )

        o, n = digest(old_w).alias("o"), digest(new).alias("n")
        if use_digest:
            pay_changed = F.col("o._digest") != F.col("n._digest")
        else:
            pay_changed = ~F.struct(
                *[F.col(f"o.{c}") for c in payload]
            ).eqNullSafe(F.struct(*[F.col(f"n.{c}") for c in payload]))
        # Null-safe key equality (<=>): a NULL-key row present
        # identically in both versions is "unchanged" and must emit
        # nothing — plain = would mis-emit it as an insert+delete pair.
        # Mirrors ops/ivm.py's eqNullSafe key fold.
        key_eq = F.lit(True)
        for k in keys:
            key_eq = key_eq & F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        inserts = (
            n.join(o, key_eq, "left_anti")
            .drop("_digest")
            .withColumn("change_type", F.lit("insert"))
        )
        deletes = (
            o.join(n, key_eq, "left_anti")
            .drop("_digest")
            .withColumn("change_type", F.lit("delete"))
        )
        changed = o.join(n, key_eq & pay_changed, "inner")
        pre = (
            changed.select("o.*")
            .drop("_digest")
            .withColumn("change_type", F.lit("update_preimage"))
        )
        post = (
            changed.select("n.*")
            .drop("_digest")
            .withColumn("change_type", F.lit("update_postimage"))
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)
