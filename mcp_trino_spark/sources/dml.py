"""Copy-on-write DML: UPDATE / DELETE / MERGE over parquet tables.

The reference declares UPDATE/DELETE/MERGE as gated write statements
(reference internal/trino/client.go:306-310; keyword tests
internal/trino/client_test.go:395-446) and passes them to Trino, whose
connectors implement them.  Spark only executes these statements
natively on transactional formats (Delta/Iceberg — not in this
container), so this module supplies the engine-side implementation for
plain parquet tables, the way every table format does it underneath:

1. **Plan the post-DML table state declaratively** — one DataFrame plan
   (UPDATE = CASE projection, DELETE = filter, MERGE = full-outer join
   with per-branch CASE), so Catalyst optimizes it like any query and
   AQE handles skew at scale.
2. **Copy-on-write commit** — write the new state to a staging
   directory next to the table location, then swap directories and
   REFRESH.  The data is written exactly once; the commit itself is a
   metadata-only rename (what Delta's transaction log / Hive's rename
   protocol do).  On hive-partitioned tables UPDATE/DELETE are
   **partition-bounded** (r3): the touched-partition set is computed
   from the predicate, the staging plan statically prunes to those
   partitions, and only their directories are swapped — an UPDATE
   touching one partition of a 100 TB table pays one partition's
   read+write.  Full-table rewrite remains the fallback for
   unpartitioned tables and partition-column reassignment.

MERGE plan shape (scale notes): the single shuffle is the full-outer
join on the ON condition — keep it equi (key = join columns) so it
hash-partitions; small sources broadcast automatically.  Like Delta,
multiple source matches for one target row are an error
(``MergeCardinalityError``); the check rides the same joined frame via
a window count over a target row-id, costing one extra shuffle, and can
be skipped with ``check_cardinality=False``.

SQL front door: ``execute_dml`` parses the reference's statement shapes
(restricted, loudly-failing grammar) and dispatches to the DataFrame
implementations, so ``execute_query`` accepts the same gated write SQL
a reference user sends today.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from datetime import datetime, timezone
from typing import Dict, List, NamedTuple, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F


class DmlError(ValueError):
    """Malformed or out-of-grammar DML statement."""


class MergeCardinalityError(RuntimeError):
    """More than one source row matched a single target row (the SQL
    standard and Delta both reject this as nondeterministic)."""


# ---------------------------------------------------------------------------
# version store (time travel)
#
# Copy-on-write makes snapshots FREE: every commit already moves the
# replaced data aside before deleting it.  Retaining those directories
# in a hidden store next to the table — instead of rmtree-ing them —
# gives Trino/Iceberg-style time travel (``FOR VERSION AS OF n``,
# sources/timetravel.py) with zero extra write amplification: version
# N's store holds exactly the data commit N replaced, partition-bounded
# commits retire only the touched partitions' old directories.
# ``vacuum_table_versions`` reclaims space by raising the readable
# floor.  Gated INSERT INTO statements are versioned too: they commit
# as kind="append" records listing the files the insert added (the data
# itself stays in the live directories — an append retires nothing), and
# historical reads exclude files appended after the requested version
# (timetravel.py).  The remaining out-of-band caveat is INSERT OVERWRITE
# and direct filesystem writes, which bypass the commit log; DML and
# INSERT INTO history are exact.


# -- per-table commit lock ---------------------------------------------------
# The HTTP transport is a ThreadingHTTPServer, so two clients can issue
# DML against one table concurrently.  The commit protocol is a
# read-modify-write over shared state (history.json version counter +
# the live directory swap): unsynchronized, both commits read version N
# and write N+1 — one snapshot silently lost and the swap sequences
# interleave.  A per-table lock serializes commits (process-local
# threading.Lock; an fcntl flock on a sidecar file extends the guard to
# cooperating processes sharing a warehouse).  Reads are lock-free:
# they see either the pre- or post-commit state of the atomic renames.

import threading


class _TableLockState:
    __slots__ = ("lock", "depth", "fd")

    def __init__(self):
        self.lock = threading.RLock()
        self.depth = 0
        self.fd: Optional[int] = None


_TABLE_LOCKS: Dict[str, _TableLockState] = {}
_TABLE_LOCKS_GUARD = threading.Lock()


class _table_commit_lock:
    """Reentrant per-table lock: the public DML entry points take it
    around the WHOLE operation (plan execution included — a lazy plan
    that lists the table's files mid-way through another thread's swap
    reads half-deleted directories), and the commit helpers re-enter
    it.  The flock sidecar is taken only at the outermost depth."""

    def __init__(self, loc: str):
        norm = os.path.normpath(loc)
        with _TABLE_LOCKS_GUARD:
            self._state = _TABLE_LOCKS.setdefault(norm, _TableLockState())
        self._lockfile_path = os.path.join(
            os.path.dirname(norm), f".{os.path.basename(norm)}.commitlock"
        )

    def __enter__(self):
        st = self._state
        st.lock.acquire()
        st.depth += 1  # mutated only while holding the rlock
        if st.depth == 1:
            try:
                import fcntl

                st.fd = os.open(self._lockfile_path, os.O_CREAT | os.O_RDWR, 0o644)
                fcntl.flock(st.fd, fcntl.LOCK_EX)
            except (OSError, ImportError):
                # read-only parent dir, or non-posix (no fcntl module —
                # an ImportError, which a bare OSError catch would let
                # escape __enter__ with the RLock held, deadlocking
                # every later DML on the table): the in-process lock
                # still serializes the threaded server's commits
                if st.fd is not None:
                    os.close(st.fd)
                    st.fd = None
        return self

    def __exit__(self, *exc):
        st = self._state
        if st.depth == 1 and st.fd is not None:
            import fcntl

            fcntl.flock(st.fd, fcntl.LOCK_UN)
            os.close(st.fd)
            st.fd = None
        st.depth -= 1
        st.lock.release()
        return False


def _store_root(loc: str) -> str:
    parent, base = os.path.dirname(loc), os.path.basename(loc)
    return os.path.join(parent, f".{base}.versions")


def _history_path(loc: str) -> str:
    return os.path.join(_store_root(loc), "history.json")


def _load_history(loc: str) -> Dict:
    p = _history_path(loc)
    if not os.path.exists(p):
        return {"floor": 0, "commits": []}
    with open(p) as f:
        return json.load(f)


def _save_history(loc: str, hist: Dict) -> None:
    os.makedirs(_store_root(loc), exist_ok=True)
    tmp = _history_path(loc) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(hist, f, indent=1)
    os.replace(tmp, _history_path(loc))


def current_table_version(loc: str) -> int:
    """Version of the LIVE state: 0 before any DML commit, else the
    newest commit's version.  The floor participates so a full vacuum
    (which empties the commit list) does NOT reset the counter — a
    reused version number would alias fresh history onto vacuumed
    versions and let a later vacuum destroy live store data."""
    hist = _load_history(loc)
    commits = hist["commits"]
    return max(hist["floor"], commits[-1]["version"] if commits else 0)


def _next_commit_record(loc: str, op: str, kind: str) -> Dict:
    return {
        "version": current_table_version(loc) + 1,
        "op": op,
        "kind": kind,
        "ts": datetime.now(timezone.utc).isoformat(timespec="seconds"),
    }


def _apply_floor(loc: str, hist: Dict, floor: int) -> int:
    """Shared prune-and-save tail of vacuum_table_versions and
    expire_snapshots: drop store data for commits at/below ``floor``,
    filter them out of the history, persist, return the floor."""
    for c in hist["commits"]:
        # commit N holds the data needed to read states < N; versions
        # below the floor are unreadable, so commits ≤ floor can go
        if c["version"] <= floor:
            shutil.rmtree(
                os.path.join(_store_root(loc), f"v{c['version']}"),
                ignore_errors=True,
            )
    hist["commits"] = [c for c in hist["commits"] if c["version"] > floor]
    hist["floor"] = floor
    _save_history(loc, hist)
    return floor


def vacuum_table_versions(spark: SparkSession, table: str, keep_last: int) -> int:
    """Drop version data older than the last ``keep_last`` commits;
    returns the new readable floor (the oldest version still
    reconstructible).  Keep_last=0 drops all history."""
    if keep_last < 0:
        raise DmlError("keep_last must be >= 0")
    loc = _table_location(spark, table)
    with _table_commit_lock(loc):
        hist = _load_history(loc)
        commits = hist["commits"]
        if not commits:
            return 0
        cur = commits[-1]["version"]
        floor = max(hist["floor"], cur - keep_last)
        return _apply_floor(loc, hist, floor)


# ---------------------------------------------------------------------------
# copy-on-write commit


class TableMeta(NamedTuple):
    """What the DML and time-travel layers need to know about a table:
    its data directory (None for temp views and other relations without
    one) and its hive partition columns in partition order."""

    location: Optional[str]
    partition_columns: List[str]


def table_metadata(spark: SparkSession, table: str) -> TableMeta:
    """Location and partition columns of ``table`` from one ``DESCRIBE
    FORMATTED``, a command that runs on the driver without a Spark job.
    Resolved once per statement and passed down the call chain."""
    # not spark.catalog.listColumns: its toLocalIterator runs one Spark job per partition
    location, pcols, section = None, [], ""
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        name = r.col_name
        if not name:  # blank row: end of a section
            section = ""
        elif name in ("# Partition Information", "# Detailed Table Information"):
            section = name
        elif section == "# Partition Information":
            if name != "# col_name":  # the section's header row
                pcols.append(name)
        elif section == "# Detailed Table Information" and name.strip() == "Location":
            location = r.data_type.strip().removeprefix("file:")
    return TableMeta(location, pcols)


def _file_table(spark: SparkSession, table: str) -> TableMeta:
    """``table_metadata`` of a file-backed table; DmlError otherwise."""
    meta = table_metadata(spark, table)
    if meta.location is None:
        raise DmlError(f"table {table!r} has no Location (not a file-backed table?)")
    return meta


def _table_location(spark: SparkSession, table: str) -> str:
    """Filesystem path of a (parquet) table's data directory."""
    return _file_table(spark, table).location


def _commit(
    spark: SparkSession,
    table: str,
    meta: TableMeta,
    new_state: DataFrame,
    op: str = "dml",
) -> None:
    """Write ``new_state`` once to a staging dir, then atomically swap it
    into the table location (rename + REFRESH).  The staging write runs
    the full Catalyst plan; the swap is metadata-only.  The replaced
    data moves into the version store (time travel) instead of being
    deleted — the snapshot costs no extra write."""
    loc, pcols = meta
    with _table_commit_lock(loc):
        parent, base = os.path.dirname(loc), os.path.basename(loc)
        staged = os.path.join(parent, f".{base}.staged-{uuid.uuid4().hex[:8]}")
        retired = os.path.join(parent, f".{base}.retired-{uuid.uuid4().hex[:8]}")
        writer = new_state.write
        if pcols:
            # preserve the hive layout — a flat write under a partitioned
            # table's location would orphan every row from the catalog
            writer = writer.partitionBy(*pcols)
        # the staged write sits INSIDE the lock: the lazy plan reads the
        # live table when it executes, so serializing plan-execution +
        # swap makes concurrent commits read-committed (the second
        # commit's scan sees the first one's result, not the common
        # ancestor — no lost update)
        writer.parquet(staged)
        os.rename(loc, retired)
        try:
            os.rename(staged, loc)
        except BaseException:
            os.rename(retired, loc)  # roll back — table state untouched
            raise
        # record the commit BEFORE the catalog refresh: if MSCK/REFRESH
        # threw after the staged→live swap, the table would hold the new
        # state with no commit record and the retired snapshot orphaned
        # — the next commit would then reuse this version number and
        # historical reads would silently reconstruct the wrong state.
        # With the record written first, a refresh failure leaves a
        # fully consistent commit plus a stale catalog cache (the
        # caller sees the exception and can re-run REFRESH).
        rec = _next_commit_record(loc, op, "full")
        vdir = os.path.join(_store_root(loc), f"v{rec['version']}")
        os.makedirs(os.path.dirname(vdir), exist_ok=True)
        os.rename(retired, vdir)
        rec["data"] = f"v{rec['version']}"
        hist = _load_history(loc)
        hist["commits"].append(rec)
        _save_history(loc, hist)
        if pcols:
            spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
        spark.sql(f"REFRESH TABLE {table}")


# ---------------------------------------------------------------------------
# partition-bounded copy-on-write (hive-layout tables)


# chars Spark's ExternalCatalogUtils.escapePathName percent-encodes in
# hive partition directory names (plus ASCII control chars)
_HIVE_UNSAFE = set('"#%\'*/:=?\\{[]^\x7f')


def _escape_partition_value(v) -> str:
    """Render one partition value exactly as Spark names its directory."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        s = "true" if v else "false"
    else:
        s = str(v)
    out = []
    for ch in s:
        if ch in _HIVE_UNSAFE or ord(ch) < 32:
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out) or "__HIVE_DEFAULT_PARTITION__"


def _partition_relpath(pcols: List[str], values: Tuple) -> str:
    return "/".join(
        f"{c}={_escape_partition_value(v)}" for c, v in zip(pcols, values)
    )


def _partition_predicate(pcols: List[str], touched: List[Tuple]):
    """Column predicate selecting exactly the touched partitions — a
    disjunction of per-partition conjunctions, which Catalyst turns into
    static partition pruning on the scan."""
    pred = F.lit(False)
    for values in touched:
        conj = F.lit(True)
        for c, v in zip(pcols, values):
            conj = conj & (F.col(c).isNull() if v is None else (F.col(c) == F.lit(v)))
        pred = pred | conj
    return pred


def _commit_partitions(
    spark: SparkSession,
    table: str,
    meta: TableMeta,
    new_touched_state: DataFrame,
    touched: List[Tuple],
    op: str = "dml",
) -> None:
    """Partition-bounded copy-on-write: rewrite ONLY the partitions in
    ``touched``; every other partition directory is never read for the
    write and never replaced.  This is the 100 TB answer the full-table
    ``_commit`` documents: an UPDATE touching one partition pays one
    partition's write, not the table's.

    Protocol: stage the touched partitions' new state (hive layout via
    ``partitionBy``), then per touched partition swap live → retired and
    staged → live; a touched partition absent from staging (all rows
    deleted) has its live directory retired with no replacement.  On any
    failure every swap — including a half-finished one — is rolled back
    before re-raising, so the commit as a whole is all-or-nothing.

    Isolation caveat (weaker than the single-rename ``_commit``): the
    per-partition renames are individually atomic but not atomic as a
    SET — a concurrent reader listing files mid-commit can see partition
    A's new state next to partition B's old state.  That matches the
    non-transactional multi-partition semantics of hive-layout tables
    (and of Hive's own rename protocol); deployments needing snapshot
    isolation across partitions want a log-based table format, whose
    plan-side shapes are identical to these."""
    loc, pcols = meta
    with _table_commit_lock(loc):
        parent, base = os.path.dirname(loc), os.path.basename(loc)
        staged = os.path.join(parent, f".{base}.staged-{uuid.uuid4().hex[:8]}")
        retired = os.path.join(parent, f".{base}.retired-{uuid.uuid4().hex[:8]}")
        new_touched_state.write.partitionBy(*pcols).parquet(staged)
        os.makedirs(retired, exist_ok=True)
        done: List[Tuple[str, str, bool]] = []  # (live, retired, had_staged)
        try:
            for i, values in enumerate(touched):
                rel = _partition_relpath(pcols, values)
                live_p = os.path.join(loc, rel)
                staged_p = os.path.join(staged, rel)
                retired_p = os.path.join(retired, str(i))
                had_staged = os.path.isdir(staged_p)
                if os.path.isdir(live_p):
                    os.rename(live_p, retired_p)
                else:
                    retired_p = ""
                # record the retire BEFORE attempting staged→live: if that
                # rename (or makedirs) fails, rollback must still restore
                # this partition's original data — appending only after a
                # full swap would let the final rmtree(retired) destroy it
                done.append((live_p, retired_p, had_staged))
                if had_staged:
                    os.makedirs(os.path.dirname(live_p), exist_ok=True)
                    os.rename(staged_p, live_p)
            layout_changed = any(
                (had and not ret) or (ret and not had) for _, ret, had in done
            )
        except BaseException:
            for live_p, retired_p, had_staged in reversed(done):
                # rmtree only when the staged→live rename actually landed
                # (rename is atomic: live_p exists iff it completed)
                if had_staged and os.path.isdir(live_p):
                    shutil.rmtree(live_p, ignore_errors=True)
                if retired_p:
                    os.rename(retired_p, live_p)
            shutil.rmtree(staged, ignore_errors=True)
            shutil.rmtree(retired, ignore_errors=True)
            raise
        # retire the replaced partition directories into the version store
        # and append the commit record BEFORE the catalog refresh (same
        # rationale as _commit: an MSCK/REFRESH failure after the swaps
        # must not leave the new on-disk state without its commit record
        # — the next commit would reuse the version number and desync
        # historical reads).  touched→null records a partition that did
        # NOT exist before this commit (so historical reads exclude it).
        rec = _next_commit_record(loc, op, "partitions")
        vrel = f"v{rec['version']}"
        vdir = os.path.join(_store_root(loc), vrel)
        os.makedirs(vdir, exist_ok=True)
        touched_map: Dict[str, Optional[str]] = {}
        for i, values in enumerate(touched):
            rel = _partition_relpath(pcols, values)
            retired_p = os.path.join(retired, str(i))
            if os.path.isdir(retired_p):
                dest = os.path.join(vdir, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.rename(retired_p, dest)
                touched_map[rel] = f"{vrel}/{rel}"
            else:
                touched_map[rel] = None
        rec["touched"] = touched_map
        hist = _load_history(loc)
        hist["commits"].append(rec)
        _save_history(loc, hist)
        # the commit record is durable at this point; the catalog refresh
        # can still throw (caller re-runs REFRESH), so the scratch-dir
        # cleanup lives in a finally — otherwise a refresh failure leaks
        # the staged/retired directories on disk permanently
        try:
            if layout_changed:
                # a partition directory appeared or vanished: re-sync
                # catalog partition metadata (metadata-only; cost ∝
                # #partitions)
                spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
            spark.sql(f"REFRESH TABLE {table}")
        finally:
            shutil.rmtree(staged, ignore_errors=True)
            shutil.rmtree(retired, ignore_errors=True)


# ---------------------------------------------------------------------------
# DataFrame-level DML


def _resolve_cols(
    table_columns: List[str], provided: Dict[str, str], context: str
) -> Dict[str, str]:
    """Map user-supplied column names onto the table's stored names,
    case-insensitively (Spark SQL resolution is case-insensitive by
    default) — a typo or unknown name raises instead of silently
    no-opping an UPDATE or NULL-filling an INSERT column."""
    by_lower = {c.lower(): c for c in table_columns}
    resolved: Dict[str, str] = {}
    unknown = []
    for name, expr in provided.items():
        actual = by_lower.get(name.lower())
        if actual is None:
            unknown.append(name)
        else:
            resolved[actual] = expr
    if unknown:
        raise DmlError(f"{context} references unknown columns: {sorted(unknown)}")
    return resolved


def update_table(
    spark: SparkSession,
    table: str,
    set_clauses: Dict[str, str],
    where: Optional[str] = None,
) -> int:
    """UPDATE = one CASE projection over the table scan: rows matching
    ``where`` get the SET expressions, others pass through unchanged.
    Narrow (no shuffle); returns the affected-row count.

    On a hive-partitioned table the rewrite is **partition-bounded**:
    only partitions containing matched rows are re-read and re-written
    (the touched-partition predicate prunes the scan statically), the
    rest of the table is untouched on disk.  Full-table rewrite remains
    the fallback for unpartitioned tables and for a SET that reassigns
    a partition column (rows can migrate between partitions)."""
    meta = _file_table(spark, table)
    with _table_commit_lock(meta.location):
        t = spark.table(table)
        set_clauses = _resolve_cols(t.columns, set_clauses, "UPDATE SET")
        cond = F.expr(where) if where else F.lit(True)

        def _updated(frame):
            return frame.select(
                *[
                    (
                        F.when(cond, F.expr(expr).cast(t.schema[c].dataType))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in set_clauses
                        else F.col(c)
                    )
                    for c, expr in [(c, set_clauses.get(c, "")) for c in t.columns]
                ]
            )

        new_state = _updated(t)
        pcols = meta.partition_columns
        if pcols and not (set(pcols) & set(set_clauses)):
            # ONE aggregation job yields both the affected count and the
            # touched-partition set (|partitions| rows to the driver) — the
            # separate count + distinct-collect pair scanned the predicate
            # twice and widened the non-atomic read-then-swap window
            per_part = t.filter(cond).groupBy(*pcols).agg(F.count("*").alias("__n")).collect()
            affected = sum(r["__n"] for r in per_part)
            if not affected:
                return 0  # nothing matched → nothing to rewrite at all
            touched = [tuple(r[c] for c in pcols) for r in per_part]
            _commit_partitions(
                spark, table, meta,
                new_state.filter(_partition_predicate(pcols, touched)),
                touched, op="update",
            )
            return affected
        # Fuse the affected-row count into the commit's staging write
        # (r15, guide §1.2 "don't compute things twice"): an Observation
        # below the CASE projection counts cond matches on the PRE-update
        # rows during the same scan that rewrites the table — one pass
        # instead of count-scan + write-scan.  Identical value: the old
        # separate count ran inside the same lock on the same snapshot.
        from pyspark.sql import Observation

        obs = Observation()
        observed = t.observe(
            obs, F.sum(F.when(cond, 1).otherwise(0)).alias("affected")
        )
        _commit(spark, table, meta, _updated(observed), op="update")
        return int(obs.get["affected"] or 0)


def delete_from(spark: SparkSession, table: str, where: Optional[str]) -> int:
    """DELETE = inverted filter over the scan (narrow, no shuffle).
    Partition-bounded on hive-partitioned tables, like ``update_table``;
    a partition whose rows are all deleted has its directory retired."""
    meta = _file_table(spark, table)
    with _table_commit_lock(meta.location):
        t = spark.table(table)
        if where is None:
            cond = None
            new_state = t.filter(F.lit(False))
        else:
            cond = F.expr(where)
            # keep rows where the predicate is false OR null (SQL DELETE
            # semantics: only true-matching rows are deleted)
            new_state = t.filter(~F.coalesce(cond.cast("boolean"), F.lit(False)))
        pcols = meta.partition_columns
        if pcols and cond is not None:
            # one job for count + touched partitions (see update_table)
            per_part = t.filter(cond).groupBy(*pcols).agg(F.count("*").alias("__n")).collect()
            affected = sum(r["__n"] for r in per_part)
            if not affected:
                return 0
            touched = [tuple(r[c] for c in pcols) for r in per_part]
            _commit_partitions(
                spark, table, meta,
                new_state.filter(_partition_predicate(pcols, touched)),
                touched, op="delete",
            )
            return affected
        # NOT fused into the write (unlike update_table): DELETE's
        # survivor filter can constant-fold to Filter(false) (WHERE that
        # matches everything), and PruneFilters then replaces the whole
        # subtree — including a CollectMetrics observation — with an
        # empty LocalRelation, leaving Observation.get blocked forever.
        # UPDATE's CASE projection has no such collapse, so only it
        # carries the one-pass protocol.
        affected = t.count() if cond is None else t.filter(cond).count()
        _commit(spark, table, meta, new_state, op="delete")
        return affected


def merge_into(
    spark: SparkSession,
    target: str,
    source: DataFrame,
    on: str,
    *,
    target_alias: str = "t",
    source_alias: str = "s",
    matched_update: Optional[Dict[str, str]] = None,
    matched_delete: bool = False,
    matched_condition: Optional[str] = None,
    insert_values: Optional[Dict[str, str]] = None,
    insert_all: bool = False,
    check_cardinality: bool = True,
) -> int:
    """MERGE INTO target USING source ON cond — as ONE declarative plan:

    full-outer join on the ON condition, then per-branch CASE:
      matched + delete           → row dropped
      matched + update           → SET expressions (aliases resolve)
      matched, no action applies → target row unchanged
      target-only                → target row unchanged
      source-only + insert       → INSERT expressions

    Returns the number of rows updated+deleted+inserted.
    """
    meta = _file_table(spark, target)
    with _table_commit_lock(meta.location):
        if matched_update and matched_delete:
            raise DmlError("pass either matched_update or matched_delete, not both")
        # analyze the target once: every output column below needs its type
        target_df = spark.table(target)
        target_schema = target_df.schema
        target_cols = target_schema.names
        if matched_update:
            matched_update = _resolve_cols(target_cols, matched_update, "MERGE UPDATE SET")
        if insert_values:
            insert_values = _resolve_cols(target_cols, insert_values, "MERGE INSERT")
        t = (
            target_df
            .withColumn("__t_rowid", F.monotonically_increasing_id())
            .withColumn("__t_exists", F.lit(True))
            .alias(target_alias)
        )
        s = source.withColumn("__s_exists", F.lit(True)).alias(source_alias)
        # the joined frame feeds several actions (cardinality check, metric
        # counts, the staging write) — persist so the shuffle join runs once
        joined = t.join(s, F.expr(on), "full_outer").persist()

        matched = F.col("__t_exists").isNotNull() & F.col("__s_exists").isNotNull()
        if matched_condition:
            acted = matched & F.coalesce(
                F.expr(matched_condition).cast("boolean"), F.lit(False)
            )
        else:
            acted = matched
        source_only = F.col("__t_exists").isNull()

        if check_cardinality:
            # Delta-parity guard: a target row joined to >1 source rows makes
            # the update nondeterministic.  One window shuffle over the
            # (matched-subset) row-ids.
            from pyspark.sql.window import Window

            dup = (
                joined.filter(matched)
                .withColumn("__n", F.count("*").over(Window.partitionBy("__t_rowid")))
                .filter(F.col("__n") > 1)
                .limit(1)
                .count()
            )
            if dup:
                joined.unpersist()
                raise MergeCardinalityError(
                    "MERGE: a target row matches multiple source rows"
                )

        if insert_all:
            insert_values = {c: f"{source_alias}.{c}" for c in target_cols}

        out_cols: List = []
        for c in target_cols:
            keep = F.col(f"{target_alias}.{c}")
            col = keep
            if matched_update and c in matched_update:
                col = F.when(
                    acted, F.expr(matched_update[c]).cast(target_schema[c].dataType)
                ).otherwise(keep)
            if insert_values is not None:
                ins = (
                    F.expr(insert_values[c]) if c in insert_values else F.lit(None)
                ).cast(target_schema[c].dataType)
                col = F.when(source_only, ins).otherwise(col)
            out_cols.append(col.alias(c))

        result = joined
        if matched_delete:
            result = result.filter(~acted)
        if insert_values is None:
            result = result.filter(~source_only)
        new_state = result.select(*out_cols)

        try:
            n_matched = (
                joined.filter(acted).count() if (matched_update or matched_delete) else 0
            )
            n_inserted = (
                joined.filter(source_only).count() if insert_values is not None else 0
            )
            pcols = meta.partition_columns
            part_reassigned = bool(matched_update and set(pcols) & set(matched_update))
            if pcols and not part_reassigned:
                # partition-bounded MERGE: touched = partitions holding acted
                # target rows ∪ partitions the inserted rows land in (their
                # values come from the final projection, so new partitions
                # are discovered here too)
                touched = set()
                if matched_update or matched_delete:
                    touched.update(
                        tuple(r)
                        for r in joined.filter(acted)
                        .select(*[F.col(f"{target_alias}.{c}") for c in pcols])
                        .distinct()
                        .collect()
                    )
                if insert_values is not None:
                    by_name = dict(zip(target_cols, out_cols))
                    touched.update(
                        tuple(r)
                        for r in joined.filter(source_only)
                        .select(*[by_name[c] for c in pcols])
                        .distinct()
                        .collect()
                    )
                if not touched:
                    return 0  # no action matched → table untouched on disk
                touched_list = sorted(touched, key=repr)
                _commit_partitions(
                    spark,
                    target,
                    meta,
                    new_state.filter(_partition_predicate(pcols, touched_list)),
                    touched_list,
                    op="merge",
                )
            else:
                _commit(spark, target, meta, new_state, op="merge")
        finally:
            joined.unpersist()
        return n_matched + n_inserted


# ---------------------------------------------------------------------------
# SQL front door (restricted, loudly-failing grammar)


def _code_mask(q: str) -> List[bool]:
    from mcp_trino_spark.trino_compat import _code_mask as mask

    return mask(q)


def _find_kw(q: str, kw: str, start: int = 0) -> int:
    """Position of the first occurrence of keyword ``kw`` outside
    literals/comments/quoted identifiers, or -1."""
    mask = _code_mask(q)
    for m in re.finditer(rf"\b{kw}\b", q, re.IGNORECASE):
        if mask[m.start()] and m.start() >= start:
            return m.start()
    return -1


def _split_top_commas(s: str) -> List[str]:
    """Split on commas that sit outside parens and literals."""
    mask = _code_mask(s)
    parts, depth, last = [], 0, 0
    for i, ch in enumerate(s):
        if not mask[i]:
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


def _parse_assignments(s: str) -> Dict[str, str]:
    out: Dict[str, str] = {}
    for part in _split_top_commas(s):
        m = re.match(r"^\s*([\w`.]+)\s*=\s*(.+)$", part, re.DOTALL)
        if not m:
            raise DmlError(f"cannot parse SET assignment: {part!r}")
        col = m.group(1).strip("`")
        col = col.split(".")[-1]  # tolerate t.col spelling
        out[col] = m.group(2).strip()
    return out


_UPDATE_RE = re.compile(r"^\s*UPDATE\s+([\w.`]+)\s+SET\s+", re.IGNORECASE)
_DELETE_RE = re.compile(r"^\s*DELETE\s+FROM\s+([\w.`]+)\s*", re.IGNORECASE)
_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.`]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+([\w.`]+)"
    r"(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+",
    re.IGNORECASE,
)


def is_dml_statement(q: str) -> bool:
    """True if the statement's first code token is UPDATE/DELETE/MERGE.

    Leading comments are skipped via the code mask so the router agrees
    with the write gate (which also strips comments) — a statement like
    ``/* ticket */ UPDATE …`` must route to the COW layer, not fall
    through to spark.sql and die on the v2-tables error."""
    mask = _code_mask(q)
    start = next(
        (i for i, is_code in enumerate(mask) if is_code and not q[i].isspace()),
        len(q),
    )
    return bool(re.match(r"(UPDATE|DELETE|MERGE)\b", q[start:], re.IGNORECASE))


_INSERT_INTO_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?:TABLE\s+)?"
    r"((?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\.(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*))*)",
    re.IGNORECASE,
)


def _code_start(q: str) -> int:
    """Index of the first code (non-comment, non-literal) non-space
    character — the classifier and all INSERT parsing must agree on
    where the statement starts, or a comment-prefixed INSERT would pass
    ``is_insert_into_statement`` yet fail the re-parse in
    ``execute_insert`` and silently skip its append commit."""
    mask = _code_mask(q)
    return next(
        (i for i, is_code in enumerate(mask) if is_code and not q[i].isspace()),
        len(q),
    )


def is_insert_into_statement(q: str) -> bool:
    """True for plain ``INSERT INTO`` (appends).  ``INSERT OVERWRITE``
    deliberately does NOT match: it replaces data in place with no
    retire step, so it stays on the native path with the documented
    out-of-band caveat — versioning it would require routing it through
    the COW commit anyway."""
    return bool(_INSERT_INTO_RE.match(q[_code_start(q):]))


def _list_data_files(loc: str) -> set:
    """Relative paths of the data files under a table location (skips
    hidden/metadata entries: _SUCCESS, .staged-*, ._committed, …)."""
    out = set()
    for dirpath, dirnames, filenames in os.walk(loc):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for fn in filenames:
            if not fn.startswith((".", "_")):
                out.add(os.path.relpath(os.path.join(dirpath, fn), loc))
    return out


def execute_insert(spark: SparkSession, q: str) -> None:
    """Run a gated ``INSERT INTO`` natively, recording the files it
    added as a kind="append" commit so time travel stays exact: a
    ``FOR VERSION AS OF n`` read excludes files appended after commit n
    (timetravel.py filters them out of the otherwise-unchanged live or
    retired directories — an append commit costs one history record and
    zero data movement).  Statements whose target is not a file-backed
    catalog table (temp views, JDBC catalogs) fall through to the
    native path unversioned — there is no directory to diff.

    The file diff runs inside the per-table commit lock, serialized
    against concurrent DML, so the before/after listing attributes
    every new file to exactly this statement."""
    m = _INSERT_INTO_RE.match(q[_code_start(q):])
    table = m.group(1).replace("`", "") if m else None
    loc = None
    if table is not None:
        try:
            loc = _table_location(spark, table)
        except Exception:  # noqa: BLE001 — non-file target: native path
            loc = None
    if loc is None or not os.path.isdir(loc):
        spark.sql(q)
        return
    with _table_commit_lock(loc):
        before = _list_data_files(loc)
        spark.sql(q)
        added = sorted(_list_data_files(loc) - before)
        if not added:
            return  # zero-row insert wrote nothing — no commit to record
        rec = _next_commit_record(loc, "insert", "append")
        rec["added"] = added
        hist = _load_history(loc)
        hist["commits"].append(rec)
        _save_history(loc, hist)
        spark.sql(f"REFRESH TABLE {table}")


def execute_dml(spark: SparkSession, q: str) -> int:
    """Parse one UPDATE / DELETE / MERGE statement and run it
    copy-on-write.  Returns the affected-row count.  Grammar limits
    (fail loudly, never guess): UPDATE t SET c=e,… [WHERE p];
    DELETE FROM t [WHERE p]; MERGE INTO t [alias] USING src [alias]
    ON cond {WHEN MATCHED [AND p] THEN UPDATE SET …|DELETE}
    [WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs) | INSERT *].
    ``src`` must be a table/view name (inline subqueries: register a
    temp view first)."""
    mask = _code_mask(q)
    start = next(
        (i for i, is_code in enumerate(mask) if is_code and not q[i].isspace()), 0
    )
    q = q[start:].strip().rstrip(";")
    m = _UPDATE_RE.match(q)
    if m:
        table = m.group(1).strip("`")
        rest = q[m.end():]
        wpos = _find_kw(rest, "WHERE")
        set_part, where = (rest[:wpos], rest[wpos + 5:]) if wpos >= 0 else (rest, None)
        return update_table(spark, table, _parse_assignments(set_part), where)

    m = _DELETE_RE.match(q)
    if m:
        table = m.group(1).strip("`")
        rest = q[m.end():]
        if not rest.strip():
            return delete_from(spark, table, None)
        wm = re.match(r"^\s*WHERE\s+(.+)$", rest, re.IGNORECASE | re.DOTALL)
        if not wm:
            raise DmlError(f"cannot parse DELETE tail: {rest!r}")
        return delete_from(spark, table, wm.group(1))

    m = _MERGE_RE.match(q)
    if m:
        return _execute_merge_sql(spark, q, m)
    raise DmlError(f"not a supported DML statement: {q[:80]!r}")


def _execute_merge_sql(spark: SparkSession, q: str, m: "re.Match") -> int:
    target = m.group(1).strip("`")
    source_name = m.group(3).strip("`")
    # SQL semantics: an unaliased table is referenced by its (bare) name
    t_alias = m.group(2) or target.split(".")[-1]
    s_alias = m.group(4) or source_name.split(".")[-1]
    rest = q[m.end():]
    wpos = _find_kw(rest, "WHEN")
    if wpos < 0:
        raise DmlError("MERGE needs at least one WHEN clause")
    on = rest[:wpos].strip()
    clauses = rest[wpos:]

    kwargs: dict = {}
    # split WHEN clauses on top-level WHEN keywords
    positions = []
    mask = _code_mask(clauses)
    for mm in re.finditer(r"\bWHEN\b", clauses, re.IGNORECASE):
        if mask[mm.start()]:
            positions.append(mm.start())
    positions.append(len(clauses))
    for a, b in zip(positions, positions[1:]):
        clause = clauses[a:b].strip()
        cm = re.match(
            r"^WHEN\s+MATCHED\s*(?:AND\s+(.*?))?\s*THEN\s+(UPDATE\s+SET\s+(?P<set>.*)|DELETE)\s*$",
            clause,
            re.IGNORECASE | re.DOTALL,
        )
        if cm:
            if cm.group(1):
                kwargs["matched_condition"] = cm.group(1)
            if cm.group("set") is not None:
                kwargs["matched_update"] = _parse_assignments(cm.group("set"))
            else:
                kwargs["matched_delete"] = True
            continue
        nm = re.match(
            r"^WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*"
            r"(?:\*|\(\s*(?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\))\s*$",
            clause,
            re.IGNORECASE | re.DOTALL,
        )
        if nm:
            if nm.group("cols") is None:
                kwargs["insert_all"] = True
            else:
                cols = [c.strip().strip("`").split(".")[-1] for c in nm.group("cols").split(",")]
                vals = _split_top_commas(nm.group("vals"))
                if len(cols) != len(vals):
                    raise DmlError("INSERT column/value count mismatch")
                kwargs["insert_values"] = dict(zip(cols, vals))
            continue
        raise DmlError(f"cannot parse MERGE clause: {clause[:80]!r}")

    return merge_into(
        spark,
        target,
        spark.table(source_name),
        on,
        target_alias=t_alias,
        source_alias=s_alias,
        **kwargs,
    )


# ---------------------------------------------------------------------------
# OPTIMIZE: small-file compaction as a versioned COW commit
# (Trino: ALTER TABLE t EXECUTE optimize(file_size_threshold => '128MB'),
# the Iceberg connector's bin-packing procedure — at 100 TB the
# small-files problem is the #1 operational scan-cost issue: a partition
# accumulating one file per micro-batch/INSERT pays per-file open +
# footer-read + task-scheduling overhead on every query.)


def _parquet_files(d: str) -> List[str]:
    try:
        return [
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    except FileNotFoundError:
        return []


def _needs_compaction(files: List[str], threshold_bytes: int) -> bool:
    """Trino's rule: rewrite when several files sit below the size
    threshold (bin-packing).  One file — or files already at/above the
    threshold — are left alone."""
    small = [f for f in files if os.path.getsize(f) < threshold_bytes]
    return len(files) > 1 and len(small) >= 2


def zorder_table(
    spark: SparkSession,
    table: str,
    zorder_by: List[str],
    file_size_threshold_mb: float = 128.0,
) -> int:
    """Rewrite the WHOLE table Z-order-clustered on ``zorder_by`` —
    the layout lever Delta/Iceberg spell ``OPTIMIZE ... ZORDER BY``,
    fronted here by Trino's statement shape ``ALTER TABLE t EXECUTE
    optimize(zorder_by => ARRAY['a','b'])``.  Unlike compaction this
    always rewrites (its product is the clustering, not the file
    count); the rewrite is the same versioned copy-on-write commit as
    every DML — time travel still reads the pre-layout state.

    File count = ceil(live bytes / file_size_threshold), so the same
    knob sizes both maintenance ops.  On a hive-partitioned table the
    range keys are prefixed with the partition columns (see
    ``zorder_frame``): tasks align with partition boundaries and each
    partition ends up with contiguous z-range files rather than
    |tasks| x |partitions| shards.  Partition columns cannot be
    z-ordered (they are constant per file — their file stats are
    already exact).

    Scale: two passes (min/max bounds agg, then one range shuffle +
    sorted write) — the relayout cost a 100 TB operator schedules;
    benched as the s13b headliner."""
    from mcp_trino_spark.sources.layout import zorder_frame

    meta = _file_table(spark, table)
    loc, pcols = meta
    with _table_commit_lock(loc):
        t = spark.table(table)
        missing = [c for c in zorder_by if c not in t.columns]
        if missing:
            raise DmlError(f"zorder_by columns not in table: {missing}")
        in_part = [c for c in zorder_by if c in pcols]
        if in_part:
            raise DmlError(
                f"zorder_by columns {in_part} are partition columns — "
                "partition values are constant per file; z-order the "
                "in-file columns instead"
            )
        threshold = int(file_size_threshold_mb * 1024 * 1024)
        total = 0
        for root, _dirs, files in os.walk(loc):
            if os.path.basename(root).startswith((".", "_")):
                continue
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
        n_out = max(1, -(-total // threshold))  # ceil
        try:
            clustered = zorder_frame(t, zorder_by, int(n_out), lead_cols=pcols)
        except ValueError as e:
            raise DmlError(str(e)) from e
        rows = t.count()
        _commit(spark, table, meta, clustered, op="optimize")
        return rows


def optimize_table(
    spark: SparkSession,
    table: str,
    file_size_threshold_mb: float = 128.0,
    op: str = "optimize",
) -> int:
    """Compact small files; returns the number of rows rewritten (0 =
    nothing needed compaction, no commit recorded).

    Partitioned tables compact per partition — only partitions with ≥2
    sub-threshold files are rewritten (partition-bounded commit: one
    file per partition afterwards, untouched partitions stay
    byte-identical on disk).  Unpartitioned tables coalesce to
    ceil(bytes/threshold) files.  Either way the rewrite is a versioned
    copy-on-write commit: time travel still reads the pre-compaction
    state, and the data content is unchanged (asserted by tests and the
    fact that the staged plan is a pure re-read of the live table)."""
    meta = _file_table(spark, table)
    loc, pcols = meta
    with _table_commit_lock(loc):
        threshold = int(file_size_threshold_mb * 1024 * 1024)
        t = spark.table(table)

        if not pcols:
            files = _parquet_files(loc)
            if not _needs_compaction(files, threshold):
                return 0
            total = sum(os.path.getsize(f) for f in files)
            n_out = max(1, -(-total // threshold))  # ceil
            rows = t.count()
            _commit(spark, table, meta, t.repartition(int(n_out)), op=op)
            return rows

        touched: List[Tuple] = []
        rows_by_rel: Dict[str, None] = {}
        # walk live partition dirs; parse values back from the hive paths
        from mcp_trino_spark.sources.timetravel import _unescape_partition_value

        def _walk(rel: str, depth: int):
            d = os.path.join(loc, rel) if rel else loc
            if depth == len(pcols):
                if _needs_compaction(_parquet_files(d), threshold):
                    rows_by_rel[rel] = None
                return
            for name in sorted(os.listdir(d)):
                if "=" in name and not name.startswith((".", "_")):
                    _walk(os.path.join(rel, name) if rel else name, depth + 1)

        _walk("", 0)
        if not rows_by_rel:
            return 0
        schema = t.schema
        # cast every partition's raw path values back to the column
        # types in ONE local job (a per-segment createDataFrame+collect
        # would run |partitions|·|pcols| driver round-trips)
        raw_rows = []
        for rel in sorted(rows_by_rel):
            segs = []
            for seg in rel.split("/"):
                _c, _, raw = seg.partition("=")
                segs.append(_unescape_partition_value(raw))
            raw_rows.append(tuple(segs))
        cast_schema = ", ".join(f"c{i} string" for i in range(len(pcols)))
        casted = (
            spark.createDataFrame(raw_rows, cast_schema)
            .select(
                *[
                    F.col(f"c{i}").cast(schema[c].dataType)
                    for i, c in enumerate(pcols)
                ]
            )
            .collect()
        )
        touched.extend(tuple(r) for r in casted)
        pred = _partition_predicate(pcols, touched)
        rows = t.filter(pred).count()
        # one task (→ one output file) per touched partition
        _commit_partitions(
            spark, table, meta,
            t.filter(pred).repartition(*[F.col(c) for c in pcols]),
            touched, op=op,
        )
        return rows


_OPTIMIZE_RE = re.compile(
    r"^ALTER\s+TABLE\s+([A-Za-z_][\w.]*|`[^`]+`)\s+EXECUTE\s+optimize"
    r"\s*(?:\((.*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_THRESHOLD_PARAM = re.compile(
    r"^file_size_threshold\s*=>\s*'(\d+(?:\.\d+)?)\s*(KB|MB|GB)'$", re.IGNORECASE
)
_ZORDER_PARAM = re.compile(
    r"^zorder_by\s*=>\s*ARRAY\s*\[\s*('[^']*'(?:\s*,\s*'[^']*')*)\s*\]$",
    re.IGNORECASE,
)


def _parse_optimize_params(body: str) -> Tuple[float, Optional[List[str]]]:
    """``optimize(...)`` argument list → (threshold_mb, zorder_by|None).
    Accepts ``file_size_threshold => '<n>KB|MB|GB'`` and ``zorder_by =>
    ARRAY['a','b']`` in either order; anything else fails loudly."""
    mb, zcols = 128.0, None
    if body is None or not body.strip():
        return mb, zcols
    # split on top-level commas — bracket-aware (ARRAY['a','b'] must
    # not split at its inner commas) and literal-aware via _code_mask
    mask = _code_mask(body)
    parts, depth, last = [], 0, 0
    for i, ch in enumerate(body):
        if not mask[i]:
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[last:i])
            last = i + 1
    parts.append(body[last:])
    for part in (p.strip() for p in parts):
        tm = _THRESHOLD_PARAM.match(part)
        if tm:
            mb = float(tm.group(1)) * {"KB": 1 / 1024, "MB": 1.0, "GB": 1024.0}[
                tm.group(2).upper()
            ]
            continue
        zm = _ZORDER_PARAM.match(part)
        if zm:
            zcols = re.findall(r"'([^']*)'", zm.group(1))
            continue
        raise DmlError(
            f"unsupported optimize parameter {part!r} — supported: "
            "file_size_threshold => '<n>MB', zorder_by => ARRAY['a','b']"
        )
    return mb, zcols


#: EXECUTE must follow the table name DIRECTLY — `ALTER TABLE t ADD
#: COLUMNS (execute INT)` or a literal containing the word must stay on
#: Spark's native ALTER path
_ALTER_EXECUTE_HEAD = re.compile(
    r"^ALTER\s+TABLE\s+(?:[A-Za-z_][\w.]*|`[^`]+`)\s+EXECUTE\b", re.IGNORECASE
)


def _stripped_statement(q: str) -> str:
    """Statement text with leading comments removed and literals/
    comments blanked (so keyword matching never fires inside them)."""
    mask = _code_mask(q)
    code = "".join(c if mask[i] else " " for i, c in enumerate(q))
    return code.strip().rstrip(";").strip()


def is_optimize_statement(q: str) -> bool:
    return bool(_ALTER_EXECUTE_HEAD.match(_stripped_statement(q)))


def execute_optimize(spark: SparkSession, q: str) -> Tuple[str, int]:
    """Parse Trino's ``ALTER TABLE t EXECUTE optimize
    [(file_size_threshold => '<n>MB')]`` / ``expire_snapshots
    [(retention_threshold => '<n>d')]`` and run it.  Returns
    ``(result_label, value)`` — the label is decided by the parse, so
    callers never re-derive it from the query text."""
    mask = _code_mask(q)
    start = next(
        (i for i, is_code in enumerate(mask) if is_code and not q[i].isspace()), 0
    )
    stmt = q[start:].strip().rstrip(";")
    em = _EXPIRE_RE.match(stmt)
    if em:
        table = em.group(1).strip("`")
        seconds = 7 * 86400.0  # Trino's default retention: 7d
        if em.group(2):
            seconds = float(em.group(2)) * _RETENTION_UNIT_S[em.group(3).lower()]
        return "floor", expire_snapshots(spark, table, seconds)
    m = _OPTIMIZE_RE.match(stmt)
    if not m:
        raise DmlError(
            "unsupported ALTER TABLE EXECUTE form — supported: ALTER TABLE "
            "<t> EXECUTE optimize [(file_size_threshold => '<n>MB', "
            "zorder_by => ARRAY['a','b'])] | "
            "expire_snapshots [(retention_threshold => '<n>d')]"
        )
    table = m.group(1).strip("`")
    mb, zcols = _parse_optimize_params(m.group(2))
    if zcols is not None:
        return "rows_rewritten", zorder_table(
            spark, table, zcols, file_size_threshold_mb=mb
        )
    return "rows_rewritten", optimize_table(spark, table, file_size_threshold_mb=mb)


def expire_snapshots(
    spark: SparkSession, table: str, retention_threshold_s: float
) -> int:
    """Trino's ``ALTER TABLE t EXECUTE expire_snapshots(
    retention_threshold => '7d')``: drop version-store data for commits
    OLDER than the threshold; returns the new readable floor.  Same
    floor semantics as ``vacuum_table_versions`` (count-based), so the
    version counter never resets and newer history stays intact."""
    if retention_threshold_s < 0:
        raise DmlError("retention_threshold must be >= 0")
    loc = _table_location(spark, table)
    with _table_commit_lock(loc):
        hist = _load_history(loc)
        commits = hist["commits"]
        if not commits:
            return hist["floor"]
        cutoff = datetime.now(timezone.utc).timestamp() - retention_threshold_s
        floor = hist["floor"]
        for c in commits:
            if datetime.fromisoformat(c["ts"]).timestamp() < cutoff:
                floor = max(floor, c["version"])
        return _apply_floor(loc, hist, floor)


_EXPIRE_RE = re.compile(
    r"^ALTER\s+TABLE\s+([A-Za-z_][\w.]*|`[^`]+`)\s+EXECUTE\s+expire_snapshots"
    r"\s*(?:\(\s*retention_threshold\s*=>\s*'(\d+(?:\.\d+)?)\s*(s|m|h|d)'\s*\))?\s*$",
    re.IGNORECASE,
)
_RETENTION_UNIT_S = {"s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}
