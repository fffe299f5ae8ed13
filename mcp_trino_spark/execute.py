"""execute_query: gate → spark.sql → timeout → result shaping.

The flagship façade path (SURVEY §2.1 F1, F10-F12; §3.1; reference
internal/mcp/handlers.go:55-91 + internal/trino/client.go:501-617):

1. trim one trailing ``;``
2. read-only gate (unless writes are enabled) — rejected queries never
   reach the engine
3. run ``spark.sql`` under a per-query timeout: the SQL action is
   tagged with a job group and a watchdog cancels the group on expiry
   (Spark's equivalent of the reference's context.WithTimeout)
4. shape results as the reference does: list of dicts keyed by column
   name, plus indented-JSON text (client.go:591-597, handlers.go:83-90)
"""

from __future__ import annotations

import json
import re
import threading
import uuid
import weakref
from dataclasses import dataclass
from typing import Any, Dict, List, Optional

from pyspark.sql import SparkSession

from mcp_trino_spark.config import EngineConfig
from mcp_trino_spark.validate import is_read_only_query, strip_trailing_semicolon


#: Trino statement spellings intercepted on the dialect path
_EXPLAIN_TYPE = re.compile(
    r"^\s*EXPLAIN\s*\(\s*TYPE\s+(LOGICAL|DISTRIBUTED|VALIDATE|IO)\s*\)\s*(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_STATS = re.compile(
    r"^\s*SHOW\s+STATS\s+FOR\s+([A-Za-z_][\w$]*(?:\.[A-Za-z_][\w$]*)*)\s*$",
    re.IGNORECASE,
)


class WriteQueryNotAllowed(PermissionError):
    pass


class QueryTimeout(TimeoutError):
    pass


@dataclass
class QueryResult:
    columns: List[str]
    rows: List[Dict[str, Any]]

    def to_json(self) -> str:
        """Indented JSON, stringifying non-JSON scalars (dates, decimals)
        — the reference's marshal-with-indent contract."""
        return json.dumps(self.rows, indent=2, default=str)


#: session-scoped column-type map cache: session → (fingerprint, map,
#: memo), weakref-keyed so a garbage-collected session can never alias
#: a new one's entry (id() reuse — ADVICE r11).  The map sits at index
#: 1 (perfbench's tracer reads it there).  The fingerprint is one
#: driver-only ``SHOW TABLE EXTENDED LIKE '*'`` (no Spark jobs): one
#: key per relation, (namespace, name, isTemporary, information), and
#: ``information`` carries the relation's schema tree — for temp views
#: AND catalog tables, so an in-place createOrReplaceTempView, an
#: ALTER TABLE … ADD COLUMNS or a CREATE OR REPLACE from any writer
#: (façade, plain ``spark.sql``, another client of the catalog) changes
#: the key without any invalidation hook.  The Created Time / Last
#: Access lines are dropped from the key: re-registering a view with
#: the same schema changes only those, and the types depend only on
#: the schema.  On a remote metastore the listing costs one metadata
#: read per table, still with no analysis.  The memo maps each relation
#: key to its (column, type) pairs, so a changed listing analyzes only
#: the relations whose key is new (a time-travel uuid view, a re-created
#: table) instead of every view, and it is pruned to the current listing
#: so dropped uuid views do not pile up.
_COLUMN_TYPES_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

#: the listing's timestamp lines (see the cache docstring above)
_VOLATILE_INFO = re.compile(r"^(?:Created Time|Last Access):.*\n?", re.MULTILINE)

#: process-wide hit/miss counts of _catalog_column_types (served on
#: the server's /status)
_COLUMN_TYPES_COUNTS = {"hits": 0, "misses": 0}
_COLUMN_TYPES_COUNTS_LOCK = threading.Lock()


def column_types_counts() -> Dict[str, int]:
    """Process totals: warm hits (listing unchanged, cached map
    returned) and misses (map rebuilt from the memo + new relations)."""
    with _COLUMN_TYPES_COUNTS_LOCK:
        return dict(_COLUMN_TYPES_COUNTS)


def invalidate_column_types_cache(spark=None) -> None:
    """Drop the cached column-type map and its per-relation memo, so
    the next call re-analyzes every relation.  The fingerprint already
    sees every schema change, so the engine itself never calls this;
    it stays for callers that want a cold rebuild."""
    if spark is None:
        _COLUMN_TYPES_CACHE.clear()
    else:
        _COLUMN_TYPES_CACHE.pop(spark, None)


def _make_subquery_type(spark):
    """Analyzer-backed operand typing for the translator (x77): returns
    a memoized callable that resolves a parenthesized subquery text's
    LIMIT-0 schema against the live session and yields the single
    output column's Spark simpleString — or None when the text does not
    analyze standalone (correlated subqueries, still-untranslated
    later-pass idioms, multi-column rows).  Analysis only: ``spark.sql``
    is never collected, so no jobs run; the memo makes repeated probes
    of the same threshold text (quantified emissions) free."""
    cache: dict = {}

    def cb(sub_text: str):
        key = " ".join(sub_text.split())
        if key not in cache:
            t = None
            try:
                schema = spark.sql(
                    f"SELECT * FROM {sub_text} __sq_probe LIMIT 0"
                ).schema
                if len(schema.fields) == 1:
                    t = schema.fields[0].dataType.simpleString()
            except Exception:
                t = None
            cache[key] = t
        return cache[key]

    return cb


def _catalog_column_types(spark) -> dict:
    """Lowercase column name → Spark simple type string across every
    table/temp view the session can see, for the schema-aware
    integer-division rewrite (trino_compat, VERDICT r10 item 3).  A
    name registered with DIFFERENT types in different tables collapses
    to the sentinel ``"ambiguous"`` (not an integral type, so the
    rewrite skips it — the safe direction: the divergence stays
    documented rather than guessed).  Round 11 widened the consumers:
    the Trino-rounding CAST/round passes, the double→varchar renderer,
    and the array-subscript negativity guard read the same map.  Built
    only when the query's text could use it (``needs_column_types``)
    and cached per session; see the cache docstring above for the
    fingerprint and memo.  A warm hit costs the one listing: ~37 ms
    over 43 relations, against ~160 ms when every temp view's schema
    was re-read by analysis (4-core VM).
    """
    try:
        listing = spark.sql("SHOW TABLE EXTENDED LIKE '*'").collect()
    except Exception:
        return {}
    fp = tuple(sorted(
        (r["namespace"], r["tableName"], bool(r["isTemporary"]),
         _VOLATILE_INFO.sub("", r["information"] or ""))
        for r in listing
    ))
    hit = _COLUMN_TYPES_CACHE.get(spark)
    warm = hit is not None and hit[0] == fp
    with _COLUMN_TYPES_COUNTS_LOCK:
        _COLUMN_TYPES_COUNTS["hits" if warm else "misses"] += 1
    if warm:
        return hit[1]
    old_memo = hit[2] if hit is not None else {}
    memo: dict = {}
    types: dict = {}
    for key in fp:
        fields = old_memo.get(key)
        if fields is None:
            ns, name, temp, _ = key
            try:
                schema = spark.table(name if temp or not ns else f"{ns}.{name}").schema
            except Exception:
                continue
            fields = tuple(
                (f.name.lower(), f.dataType.simpleString().lower())
                for f in schema.fields
            )
        memo[key] = fields
        for cname, dt in fields:
            types[cname] = dt if types.get(cname, dt) == dt else "ambiguous"
    _COLUMN_TYPES_CACHE[spark] = (fp, types, memo)
    return types


def execute_query(
    spark: SparkSession,
    query: str,
    config: Optional[EngineConfig] = None,
    max_rows: Optional[int] = None,
    dialect: str = "spark",
    user: Optional[str] = None,
    client_tags: Optional[List[str]] = None,
) -> QueryResult:
    """``dialect="trino"`` accepts Trino-SQL idioms: compat functions are
    installed and Trino-only spellings rewritten (trino_compat.py), so
    reference users' queries run unchanged.

    ``user``/``client_tags`` attribute the query in the Spark UI and
    event logs via thread-local job properties — the engine-side twin of
    the reference's X-Trino-User / X-Trino-Client-Tags headers (F13,
    reference internal/trino/client.go:28-50, 531-540).
    """
    config = config or EngineConfig()
    q = strip_trailing_semicolon(query)
    mr_views: List[str] = []
    explain_fmt: Optional[str] = None
    show_stats_table: Optional[str] = None
    analyze_mode = False
    if dialect == "trino":
        # statement forms the reference itself generates / passes through:
        # EXPLAIN (TYPE …) — client.go:783 builds exactly this text —
        # and SHOW STATS FOR <table>
        em = _EXPLAIN_TYPE.match(q)
        if em:
            explain_fmt, q = em.group(1).upper(), em.group(2)
        elif re.match(r"^\s*EXPLAIN\s*\(", q, re.IGNORECASE):
            from mcp_trino_spark.trino_compat import TrinoCompatError

            raise TrinoCompatError(
                "unsupported EXPLAIN option — supported: "
                "EXPLAIN (TYPE LOGICAL|DISTRIBUTED|VALIDATE|IO) <query>"
            )
        elif re.match(r"^\s*EXPLAIN\s+ANALYZE\b", q, re.IGNORECASE):
            # execute + per-operator runtime metrics (actual rows, files,
            # shuffle records).  Only the prefix is stripped here: the
            # inner statement flows through the SAME dialect pipeline as
            # a normal query (time travel, translate, MATCH_RECOGNIZE,
            # read-only gate, timeout watchdog) — a private re-impl of
            # that pipeline previously broke FOR VERSION AS OF and
            # MATCH_RECOGNIZE under EXPLAIN ANALYZE
            analyze_mode = True
            q = re.sub(
                r"^\s*EXPLAIN\s+ANALYZE\b", "", q, count=1, flags=re.IGNORECASE
            ).strip()
        if re.match(r"^\s*DESCRIBE\s+(INPUT|OUTPUT)\b", q, re.IGNORECASE):
            # passes the read-only gate (DESCRIBE prefix) but can never
            # be meaningful here: PREPARE itself is rejected by the
            # classifier — exactly as the reference's is (client.go's
            # ^select|show|describe|explain|with prefix scan), so no
            # prepared statement can exist to describe.  Loud + named
            # instead of Spark's confusing TABLE_OR_VIEW_NOT_FOUND.
            from mcp_trino_spark.trino_compat import TrinoCompatError

            raise TrinoCompatError(
                "DESCRIBE INPUT/OUTPUT needs a prepared statement, and "
                "PREPARE is rejected by the read-only classifier (same "
                "behavior as the reference's gate) — inline the query"
            )
        if re.match(
            r"^\s*SHOW\s+(?:FUNCTIONS|SCHEMAS|TABLES|CATALOGS|VIEWS)\b"
            r".*?\bLIKE\s+'[^']*'\s+ESCAPE\s+'",
            q,
            re.IGNORECASE | re.DOTALL,
        ):
            from mcp_trino_spark.trino_compat import TrinoCompatError

            raise TrinoCompatError(
                "SHOW ... LIKE ESCAPE is not translatable — Spark glob "
                "patterns have no escape character; filter the listing "
                "client-side instead"
            )
        fm = re.match(
            r"^(\s*SHOW\s+(?:FUNCTIONS|SCHEMAS|TABLES|CATALOGS|VIEWS)\b"
            r".*?\bLIKE\s+)'([^']*)'(\s*)$",
            q,
            re.IGNORECASE | re.DOTALL,
        )
        if fm:
            # Trino's SHOW ... LIKE patterns are SQL LIKE (%), Spark's
            # are globs (*) — a '%' pattern silently returned ZERO rows
            # on every listing form.  '_' has no Spark glob twin and
            # stays literal (rare in object-name patterns; documented
            # residue).  A pattern already containing Spark's own glob
            # metacharacters ('*' matches-any, '|' alternation) would
            # silently CHANGE meaning after the swap — in SQL LIKE both
            # are literal characters — so those are rejected loudly, as
            # is an ESCAPE clause (Spark globs have no escape).
            pat = fm.group(2)
            # Spark's listing match compiles the pattern as a JAVA
            # REGEX ('|' split, '*' → '.*', the rest passed through),
            # so EVERY regex metacharacter silently diverges from SQL
            # LIKE's literal reading — '.' over-matches any char, an
            # unbalanced '(' makes Spark swallow the
            # PatternSyntaxException and return zero rows (ADVICE r10).
            # Reject them all loudly; only '%' translates.
            bad = sorted({c for c in pat if c in r".^$+?()[]{}\*|"})
            if bad:
                from mcp_trino_spark.trino_compat import TrinoCompatError

                raise TrinoCompatError(
                    f"SHOW ... LIKE pattern {pat!r} contains {bad} — "
                    "literal in SQL LIKE but regex/glob metacharacters "
                    "in Spark's listing match — no faithful translation "
                    "exists; filter the listing client-side instead"
                )
            q = f"{fm.group(1)}'{pat.replace('%', '*')}'{fm.group(3)}"
        if re.match(r"^\s*SHOW\s+SESSION\s*$", q, re.IGNORECASE):
            # Trino's session-property listing ↔ Spark's SET -v.  Runs
            # here (not via translate) because the rewritten text would
            # start with SET, which the write gate rightly blocks — the
            # listing form is read-only, assignment SET is not
            rows = [r.asDict() for r in spark.sql("SET -v").collect()]
            cols = sorted({k for r in rows for k in r})
            return QueryResult(columns=cols, rows=rows)
        sm = _SHOW_STATS.match(q)
        if sm:
            show_stats_table = sm.group(1)
        elif re.match(r"^\s*SHOW\s+STATS\s+FOR\s*\(", q, re.IGNORECASE):
            # Trino's query form: SHOW STATS FOR (SELECT ...) — register
            # the (translated) subquery as a throwaway view and stat that
            qm = re.match(r"^\s*SHOW\s+STATS\s+FOR\s*\((.*)\)\s*$", q,
                          re.IGNORECASE | re.DOTALL)
            if not qm:
                from mcp_trino_spark.trino_compat import TrinoCompatError

                raise TrinoCompatError("malformed SHOW STATS FOR (query)")
            from mcp_trino_spark.trino_compat import (
                install_compat_functions,
                translate as _tr,
            )

            # same dialect setup as the top-level path: compat UDFs must
            # exist before the subquery is analyzed, and MATCH_RECOGNIZE
            # must expand (both were skipped here before — a fresh
            # session's first SHOW STATS(query) using week()/chr()/...
            # failed with unresolved-function)
            install_compat_functions(spark)
            inner = _tr(qm.group(1))
            from mcp_trino_spark.trino_mr import (
                expand_match_recognize,
                has_match_recognize,
            )

            if has_match_recognize(inner):
                inner = expand_match_recognize(spark, inner, created_views=mr_views)
            if not is_read_only_query(inner):
                raise WriteQueryNotAllowed(
                    "SHOW STATS subquery must be read-only"
                )
            view = f"__stats_{uuid.uuid4().hex[:10]}"
            spark.sql(inner).createOrReplaceTempView(view)
            mr_views.append(view)  # dropped in the finally below
            show_stats_table = view
        elif re.match(r"^\s*SHOW\s+STATS\b", q, re.IGNORECASE):
            from mcp_trino_spark.trino_compat import TrinoCompatError

            raise TrinoCompatError(
                "unsupported SHOW STATS form — supported: SHOW STATS FOR "
                "<table> or SHOW STATS FOR (SELECT ...)"
            )
    if dialect == "trino" and show_stats_table is None:
        from mcp_trino_spark.trino_compat import install_compat_functions, translate

        install_compat_functions(spark)
        if re.search(r"\bFOR\s+(VERSION|TIMESTAMP)\s+AS\s+OF\b", q, re.IGNORECASE):
            # Trino/Iceberg time travel over the DML version store —
            # each clause materializes a temp view (dropped in finally)
            from mcp_trino_spark.sources.timetravel import rewrite_version_as_of

            q = rewrite_version_as_of(spark, q, created_views=mr_views)
        if re.search(r"\btable_changes\s*\(", q, re.IGNORECASE):
            # version-diff CDC TVF (Trino/Iceberg table_changes shape)
            from mcp_trino_spark.sources.timetravel import rewrite_table_changes

            q = rewrite_table_changes(spark, q, created_views=mr_views)
        if re.search(r"\bdecontaminate\s*\(", q, re.IGNORECASE):
            # decontamination TVF (engine extension — the l16 exact /
            # l39 Bloom plans behind a SQL spelling, VERDICT r12 #6)
            from mcp_trino_spark.operators.llm_dedup import rewrite_decontaminate

            q = rewrite_decontaminate(spark, q, created_views=mr_views)
        from mcp_trino_spark.trino_compat import (
            approx_most_frequent_mode,
            expand_approx_most_frequent_sketch,
            needs_column_types,
        )

        # precedence: explicit session-level set_approx_most_frequent_mode
        # call > env-derived config (reference config.go idiom) > "exact"
        # (ADVICE r12: the env var must not silently suppress a LATER
        # programmatic set)
        amf_mode = approx_most_frequent_mode(
            default=config.approx_most_frequent_mode or "exact"
        )
        if amf_mode == "sketch" and re.search(
            r"\bapprox_most_frequent\s*\(", q, re.IGNORECASE
        ):
            # Misra-Gries route (bounded memory past the exact plan's
            # per-group distinct-value wall) — the summary plan lands
            # behind a temp view dropped in the finally below
            q = expand_approx_most_frequent_sketch(spark, q, created_views=mr_views)
        q = translate(
            q,
            column_types=(
                _catalog_column_types(spark)
                if needs_column_types(q)
                else None
            ),
            subquery_type=_make_subquery_type(spark),
        )
        from mcp_trino_spark.trino_mr import expand_match_recognize, has_match_recognize

        if has_match_recognize(q):
            # lifts each MATCH_RECOGNIZE clause into the distributed
            # pattern operator behind a temp view (lazy — no jobs run
            # here); the rewritten SQL goes through the normal gate path;
            # the views are dropped in the finally below (a resident
            # session would otherwise leak one per clause ever run)
            q = expand_match_recognize(spark, q, created_views=mr_views)
    if not is_read_only_query(q):
        if not config.allow_write_queries:
            raise WriteQueryNotAllowed(
                "query rejected: only read-only queries (SELECT, SHOW, DESCRIBE, "
                "EXPLAIN, WITH) are allowed; set SPARK_ENGINE_ALLOW_WRITE_QUERIES=true "
                "(or TRINO_ALLOW_WRITE_QUERIES=true) to enable writes"
            )

    group = f"execute_query-{uuid.uuid4().hex[:12]}"
    sc = spark.sparkContext
    done = threading.Event()
    cancelled = threading.Event()

    def watchdog() -> None:
        if not done.wait(config.query_timeout_s):
            cancelled.set()
            sc.cancelJobGroup(group)

    watcher = threading.Thread(target=watchdog, daemon=True)
    description = f"[user={user}] {q[:100]}" if user else q[:100]
    sc.setJobGroup(group, description, interruptOnCancel=True)
    if user:
        sc.setLocalProperty("mcp.user", user)
    if client_tags:
        sc.setLocalProperty("mcp.client.tags", ",".join(client_tags))
    watcher.start()
    try:
        # spark.sql runs commands (DDL/DML/SHOW) EAGERLY, so it must sit
        # under the watchdog + attribution properties, not before them —
        # otherwise writes would run untimed and unattributed.
        from mcp_trino_spark.sources.dml import is_dml_statement

        if explain_fmt is not None:
            # MUST precede DML routing: q is already the stripped inner
            # statement, and EXPLAIN of a DML must never execute it —
            # the explain façade applies its own policy
            from mcp_trino_spark.plans.explain import explain_query

            res = explain_query(spark, q, explain_fmt)
            done.set()
            keys = sorted({k for r in res.rows for k in r})
            return QueryResult(columns=keys, rows=res.rows)
        if analyze_mode:
            # MUST also precede DML routing: with writes enabled an
            # EXPLAIN ANALYZE UPDATE would otherwise silently run the
            # update; explain_analyze itself rejects non-read-only input
            from mcp_trino_spark.plans.explain import explain_analyze

            res = explain_analyze(spark, q)
            done.set()
            return QueryResult(columns=["plan"], rows=res.rows)
        if show_stats_table is not None:
            from mcp_trino_spark.stats import show_stats

            cols, srows = show_stats(spark, show_stats_table)
            done.set()
            return QueryResult(columns=cols, rows=srows)
        sct = re.match(r"^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+|`[^`]+`)\s*$", q,
                       re.IGNORECASE)
        if dialect == "trino" and sct:
            # Trino's SHOW CREATE TABLE works on every table; our
            # testdata tables are parquet-backed TEMP VIEWS, which
            # Spark's native statement rejects — synthesize the DDL from
            # the schema for those (permanent tables keep the native
            # path, below)
            name = sct.group(1).strip("`")
            from mcp_trino_spark.catalog_api import _is_temp_view

            if _is_temp_view(spark, name):
                fields = ", ".join(
                    f"{f.name} {f.dataType.simpleString().upper()}"
                    for f in spark.table(name).schema.fields
                )
                ddl = f"CREATE TABLE {name} ({fields}) USING parquet"
                done.set()
                return QueryResult(
                    columns=["createtab_stmt"], rows=[{"createtab_stmt": ddl}]
                )
        if is_dml_statement(q):
            # UPDATE/DELETE/MERGE have no native parquet execution in
            # Spark — route through the copy-on-write DML layer (only
            # reachable with writes enabled; the gate rejected otherwise)
            from mcp_trino_spark.sources.dml import execute_dml

            n = execute_dml(spark, q)
            done.set()
            return QueryResult(columns=["rows_affected"], rows=[{"rows_affected": n}])
        from mcp_trino_spark.sources.dml import is_optimize_statement

        if is_optimize_statement(q):
            # Trino's ALTER TABLE t EXECUTE optimize — small-file
            # compaction as a versioned COW commit (also write-gated:
            # ALTER is a write keyword in the classifier)
            from mcp_trino_spark.sources.dml import execute_optimize

            # the parse decides the label (expire_snapshots → floor,
            # optimize → rows_rewritten) — never re-derived from text
            col, n = execute_optimize(spark, q)
            done.set()
            return QueryResult(columns=[col], rows=[{col: n}])
        from mcp_trino_spark.sources.dml import is_insert_into_statement

        if is_insert_into_statement(q):
            # gated INSERT INTO on a file-backed table: run natively but
            # record the added files as an append commit, keeping time
            # travel exact (only reachable with writes enabled)
            from mcp_trino_spark.sources.dml import execute_insert

            execute_insert(spark, q)
            done.set()
            return QueryResult(columns=[], rows=[])
        df = spark.sql(q)
        if max_rows is not None:
            df = df.limit(max_rows)
        # year-month interval values cannot cross into Python (PySpark's
        # YearMonthIntervalType.fromInternal is NOT_IMPLEMENTED), so a
        # Trino-valid `SELECT INTERVAL '1-2' YEAR TO MONTH` crashed the
        # façade at collect.  Surface them as strings — Trino's JSON
        # shaping stringifies intervals too (rendering differs: Spark
        # spells the full INTERVAL literal; documented residue).
        # Day-time intervals collect fine (timedelta) and pass through.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if any(
            isinstance(f.dataType, T.YearMonthIntervalType)
            for f in df.schema.fields
        ):
            df = df.select(
                *[
                    F.col(f.name).cast("string").alias(f.name)
                    if isinstance(f.dataType, T.YearMonthIntervalType)
                    else F.col(f.name)
                    for f in df.schema.fields
                ]
            )
        collected = df.collect()
    except Exception as exc:  # noqa: BLE001 — classify cancellation as timeout
        if cancelled.is_set():
            raise QueryTimeout(
                f"query exceeded timeout of {config.query_timeout_s}s"
            ) from exc
        raise
    finally:
        done.set()
        for prop in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
            "mcp.user",
            "mcp.client.tags",
        ):
            sc.setLocalProperty(prop, None)
        for v in mr_views:
            # safe after collect(): the view resolved at analysis time
            try:
                spark.catalog.dropTempView(v)
            except Exception:  # noqa: BLE001 — cleanup must never mask results
                pass

    columns = df.columns
    rows = [row.asDict(recursive=True) for row in collected]
    return QueryResult(columns=columns, rows=rows)
