"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet, then compares row count, the set of
column names, and an order-insensitive value hash. Use while iterating:

    python tools/check_oracle.py [sf_dir] [query ...]

``check_entry`` is the one comparison; ``tests/test_oracle_gate.py``
runs it for every registered entry.
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from __spark_entry__ import oracle_sql, queries  # noqa: E402
from vectordb_light_spark.session import TESTDATA_TABLES, get_spark  # noqa: E402

#: DuckDB types whose values the value hash renders unlike
#: Spark's (the only 3 hash failures ever seen were exactly the 3
#: oracles with a HUGEINT column) — oracles must CAST them away.
EXOTIC_TYPES = ("HUGEINT", "UBIGINT", "UINTEGER", "DECIMAL")


def _canon(v):
    """Canonicalize a cell for hashing (mirror driver: sort columns by
    name, stringify values)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # normalize -0.0 and represent with repr of rounded value
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _canon_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(row[i]) for i in order) for row in rows)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    lines = _canon_lines(cols, rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One DuckDB connection with a view per testdata table at ``sf_dir``."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_entry(spark, con, sf_dir: str, fn, oracle: str | None) -> str | None:
    """Run one registry entry ``fn`` on Spark and its ``oracle`` SQL on
    ``con``; return None when they agree (or, with no oracle, when the
    entry runs), else what differs. The checks: row
    count, the set of column names (case-insensitive), the
    order-insensitive value hash, and no exotic oracle types. An error
    in either engine propagates."""
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    if oracle is None:
        return None
    rel = con.sql(oracle)
    exotic = {
        c: str(t)
        for c, t in zip(rel.columns, rel.types)
        if any(b in str(t) for b in EXOTIC_TYPES)
    }
    if exotic:
        return f"exotic oracle types (CAST them): {exotic}"
    res = con.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    ok_count = len(srows) == len(orows)
    ok_schema = sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols)
    sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
    if ok_count and ok_schema and sh == oh:
        return None
    msg = (
        f"rows {len(srows)} vs {len(orows)}, "
        f"schema {'ok' if ok_schema else f'{sorted(scols)} vs {sorted(ocols)}'}, "
        f"hash {sh} vs {oh}"
    )
    if ok_count and ok_schema:
        for a, b in zip(_canon_lines(scols, srows), _canon_lines(ocols, orows)):
            if a != b:
                msg += f"\n  spark:  {a}\n  oracle: {b}"
                break
    return msg


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)

    spark = get_spark("oracle-check")
    con = oracle_connection(sf_dir)
    oracles = oracle_sql()
    failures = 0
    for name, fn in queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            failure = check_entry(spark, con, sf_dir, fn, oracles.get(name))
        except Exception as e:  # noqa: BLE001
            failure = f"{type(e).__name__}: {e}"
        wall = time.time() - t0
        if failure:
            failures += 1
            print(f"FAIL {name}: {failure}", flush=True)
        elif name not in oracles:
            print(f"ROWS-ONLY {name}: {wall:.1f}s (no oracle)", flush=True)
        else:
            print(f"PASS {name}: {wall:.1f}s spark + oracle", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
