"""Local replica of the driver's correctness gate.

Runs every queries() entry at a given sf_dir via Spark AND its
oracle_sql() via DuckDB, then compares row count, column names, and
values (order-insensitive, exact for strings/ints, tight tolerance
report for floats so near-misses are visible before the driver's
hash-compare flags them).

Usage: python tools/verify_local.py [sf_dir] [query ...]

Importable: ``sweep(spark, sf_dir, only=None)`` returns the result
dict used both by this CLI and by tests/test_oracle_parity.py, which
runs the same gate at sf0.001 inside the regular pytest suite so an
oracle divergence is caught before the driver's bounded per-round
check samples it.
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from octopufs_spark.tables import TABLE_NAMES  # noqa: E402


def normalize(rows: list[tuple], cols: list[str]):
    """Sort columns by name, then sort rows, stringify values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if v is None:
            return "<NULL>"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)
        return str(v)

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out), [cols[i] for i in order]


_SPARK_KIND = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "string": "str",
    "boolean": "bool",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "bytes",
}

_DUCK_KIND = {
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "UTINYINT": "int",
    "USMALLINT": "int",
    "UINTEGER": "int",
    # HUGEINT/UBIGINT deliberately NOT mapped to "int": the driver's
    # pandas canonicalizer renders them as a different dtype than
    # Spark's int64, so they must flag locally too (round-2
    # q_stream_funnel lesson — bare SUM(int) in DuckDB is HUGEINT).
    "HUGEINT": "int128",
    "UBIGINT": "uint64",
    "FLOAT": "float",
    "DOUBLE": "float",
    "VARCHAR": "str",
    "BOOLEAN": "bool",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "BLOB": "bytes",
}


def schema_kinds(spark_dtypes, duck_types, duck_cols):
    """Map both engines' column types onto one comparable kind space.

    Returns (spark_kinds, duck_kinds, unhashable) keyed by column
    name.  Complex types (array/map/struct/list) map to
    'UNHASHABLE:<type>' — the driver's pandas sort_values
    canonicalizer crashes on them (round-2 q_scalar_higher_order
    lesson), so any such output column is an automatic local FAIL.
    """
    sk: dict[str, str] = {}
    unhashable: list[str] = []
    for c, t in spark_dtypes:
        if t.startswith("decimal"):
            # precision is irrelevant to a value hash; scale is not
            sk[c] = "decimal(s=%s)" % t.replace(" ", "").rstrip(")").rsplit(",", 1)[-1]
        elif t.startswith(("array", "map", "struct")):
            sk[c] = f"UNHASHABLE:{t}"
            unhashable.append(c)
        else:
            sk[c] = _SPARK_KIND.get(t, t)
    dk: dict[str, str] = {}
    for c, t in zip(duck_cols, duck_types):
        ts = str(t).upper()
        if ts.startswith("DECIMAL"):
            dk[c] = "decimal(s=%s)" % ts.replace(" ", "").rstrip(")").rsplit(",", 1)[-1]
        elif ts.startswith(("STRUCT", "MAP", "UNION")) or "[]" in ts:
            dk[c] = f"UNHASHABLE:{ts}"
            unhashable.append(c)
        else:
            dk[c] = _DUCK_KIND.get(ts, ts)
    return sk, dk, unhashable


def sweep(
    spark,
    sf_dir: str,
    only: set[str] | None = None,
    verbose: bool = True,
) -> dict[str, dict]:
    """Run each queries() entry vs its oracle; return {name: result}.

    result: {"status": "pass"|"weak"|"fail", "rows": int|None,
    "msg": str, "secs": float}.
    """
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}

    def emit(line: str) -> None:
        if verbose:
            print(line, flush=True)

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            msg = f"spark error\n{traceback.format_exc()}"
            results[name] = {"status": "fail", "rows": None, "msg": msg, "secs": 0}
            emit(f"FAIL  {name}: {msg}")
            continue
        secs = round(time.time() - t0, 1)
        if name not in oracles:
            results[name] = {"status": "weak", "rows": len(srows), "msg": "", "secs": secs}
            emit(f"weak  {name}: rows={len(srows)} ({secs}s)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = res.columns
            otypes = res.types
            orows = [tuple(r) for r in res.fetchall()]
        except Exception:
            msg = f"duckdb error\n{traceback.format_exc()}"
            results[name] = {"status": "fail", "rows": len(srows), "msg": msg, "secs": secs}
            emit(f"FAIL  {name}: {msg}")
            continue
        s_norm, s_cols = normalize(srows, scols)
        o_norm, o_cols = normalize(orows, ocols)
        msgs = []
        if s_cols != o_cols:
            msgs.append(f"cols spark={s_cols} duck={o_cols}")
        sk, dk, unhashable = schema_kinds(sdf.dtypes, otypes, ocols)
        if unhashable:
            msgs.append(f"unhashable output columns (driver canonicalizer crashes): {sorted(set(unhashable))}")
        kind_diffs = {
            c: (sk[c], dk[c]) for c in sk if c in dk and sk[c] != dk[c]
        }
        if kind_diffs:
            msgs.append(f"dtype kind mismatch (driver hash would differ): {kind_diffs}")
        if len(s_norm) != len(o_norm):
            msgs.append(f"rowcount spark={len(s_norm)} duck={len(o_norm)}")
        elif s_norm != o_norm:
            diff = [(a, b) for a, b in zip(s_norm, o_norm) if a != b][:3]
            msgs.append(f"values differ, first diffs: {diff}")
        if msgs:
            results[name] = {
                "status": "fail",
                "rows": len(s_norm),
                "msg": "; ".join(msgs),
                "secs": secs,
            }
            emit(f"FAIL  {name}: " + "; ".join(msgs))
        else:
            results[name] = {"status": "pass", "rows": len(s_norm), "msg": "", "secs": secs}
            emit(f"pass  {name}: rows={len(s_norm)} ({secs}s)")
    con.close()
    return results


def main() -> int:
    from octopufs_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    spark = get_spark("verify_local")
    results = sweep(spark, sf_dir, only)
    by = {"pass": 0, "weak": 0, "fail": 0}
    failures = []
    for name, r in results.items():
        by[r["status"]] += 1
        if r["status"] == "fail":
            failures.append(name)
    print(f"\n== pass={by['pass']} weak={by['weak']} fail={by['fail']}")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
