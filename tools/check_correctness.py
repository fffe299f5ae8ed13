"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its DuckDB oracle on the same
parquet, then compares row count, column names, and order-insensitive
values (columns sorted by name, rows sorted by all columns) — a strict
superset of the driver's value-hash check: if this passes, the hash
matches.

Usage:
    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from mcp_trino_spark import registry  # noqa: E402
from mcp_trino_spark.operators.opcache import release_all_operator_caches  # noqa: E402
from mcp_trino_spark.session import get_spark  # noqa: E402
from mcp_trino_spark.sources.catalog import TABLES, table_path  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def norm(v):
    """Serialize a cell to a type-tagged token — NO tolerant coercions.

    Round-2 lesson (t3_sessionization): the driver hashes *serialized*
    cells, so representation-level divergence the old comparator healed
    (int 1 vs float 1.0 after pandas coerces DuckDB HUGEINT to float64,
    -0.0 vs 0.0, date vs midnight-datetime) produced a driver hash
    mismatch that passed locally.  Tags make every such divergence a
    local FAIL: ints and floats never compare equal, float identity is
    bit-level (hex), temporal types keep their class."""
    if v is None:
        return "∅"
    if isinstance(v, float) and math.isnan(v):
        # NaN is NOT NULL: the driver's value-hash distinguishes them
        return "f:NaN"
    try:
        if pd.isna(v):  # pandas NaT / pd.NA (true missing markers)
            return "∅"
    except (TypeError, ValueError):
        pass
    if hasattr(v, "isoformat"):
        # tag by temporal class: date ≠ datetime ≠ time under a
        # serialize-then-hash comparison
        kind = type(v).__name__
        tag = {"date": "d", "datetime": "t", "Timestamp": "t", "time": "tt"}.get(kind, "t")
        return f"{tag}:{v.isoformat()}"
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return f"i:{int(v)}"
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        # hex() is bit-exact: distinguishes -0.0 from 0.0 and every ULP
        return f"f:{float(v).hex()}"
    if type(v).__name__ == "Decimal":
        return f"dec:{v}"
    return f"s:{v}"


def canonicalize(cols: list, rows: list) -> list[tuple]:
    """→ sorted list of row tuples, columns reordered by name.

    Operates on raw driver rows (Spark collect / DuckDB fetchall), NOT
    pandas frames: pandas materializes NULL doubles as NaN, which would
    erase exactly the NULL-vs-NaN distinction the driver's value-hash
    enforces."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(row[i]) for i in order) for row in rows]
    return sorted(out, key=repr)


def compare(name: str, spark_res, oracle_res) -> list[str]:
    (s_raw_cols, s_rows), (o_raw_cols, o_rows) = spark_res, oracle_res
    problems = []
    if len(s_rows) != len(o_rows):
        problems.append(f"row count: spark={len(s_rows)} oracle={len(o_rows)}")
    s_cols, o_cols = sorted(s_raw_cols), sorted(o_raw_cols)
    if s_cols != o_cols:
        problems.append(f"columns: spark={s_cols} oracle={o_cols}")
        return problems
    if problems:
        return problems
    a = canonicalize(list(s_raw_cols), s_rows)
    b = canonicalize(list(o_raw_cols), o_rows)
    n_bad = 0
    first = None
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra != rb:
            n_bad += 1
            if first is None:
                first = (i, ra, rb)
    if n_bad:
        i, ra, rb = first
        detail = ""
        for c, va, vb in zip(s_cols, ra, rb):
            if va != vb:
                detail = f" col {c}: spark={va!r} oracle={vb!r}"
                break
        problems.append(f"values differ: {n_bad} rows; first at sorted row {i}:{detail}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession (no repo session confs) — exactly "
        "what the driver hands to queries(); catches any entry that "
        "silently depends on session.py configuration",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("check_correctness_vanilla")
            .getOrCreate()
        )
    else:
        spark = get_spark("check_correctness")
    con = duck_connect(args.sf)
    qs = registry.queries()
    oracles = registry.oracle_sql()
    names = args.names or sorted(qs)

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        if name not in qs:
            print(f"UNKNOWN {name}")
            continue
        t0 = time.time()
        try:
            df = qs[name](spark, args.sf)
            s_res = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {str(exc).splitlines()[0][:200]}")
            n_fail += 1
            continue
        finally:
            # several plans persist() intermediates (LSH signatures,
            # range-partitioned rank frames); drop them so a full sweep
            # doesn't accumulate dozens of cached relations.  Release
            # the opcache-tracked handles FIRST: clearCache() frees the
            # JVM blocks but the tracked Python refs (and their JVM
            # plan refs) would otherwise grow for the life of the sweep
            release_all_operator_caches()
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ROWS  {name}: {len(s_res[1])} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            cur = con.execute(oracles[name])
            o_res = ([d[0] for d in cur.description], cur.fetchall())
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {str(exc).splitlines()[0][:200]}")
            n_fail += 1
            continue
        problems = compare(name, s_res, o_res)
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(s_res[1])} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
