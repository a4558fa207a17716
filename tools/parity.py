"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet fixtures, then compares row count, column names, and an
order-insensitive stringified value multiset.  Strict by design: floats are
compared exactly after canonicalization, so any engine-order-dependent
arithmetic shows up here before the driver sees it.

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mysql_cdc_debezium_starrocks_spark.catalog import TABLES  # noqa: E402


def canon(v):
    """Byte-strict: NO normalization.

    Round 1 shipped a looser canon (Decimal.normalize + float->int coercion)
    that masked the driver's trailing-zero decimal failures (VERDICT.md round
    1, "What's wrong" #1).  Strict rule: every value compares by its raw
    type-faithful repr, so any cross-engine representation difference —
    decimal scale, decimal-vs-float fetch, bool casing — fails HERE first.
    The fix lives in operators/_canon.py (fractional numerics emitted as
    fixed-scale strings on both engines), not in this comparator.
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return f"float:{v!r}"
    if isinstance(v, int):
        return f"int:{v}"
    return str(v)


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(args)

    import __spark_entry__ as se
    from mysql_cdc_debezium_starrocks_spark.session import get_spark

    spark = get_spark("parity-check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = se.queries(), se.oracle_sql()
    failures, no_oracle = [], []
    skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            skipped += 1
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            no_oracle.append(name)
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as ex:
            failures.append((name, f"ORACLE ERROR: {ex}"))
            print(f"FAIL  {name}: oracle error: {ex}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"cols spark={sorted(scols)} duck={sorted(dcols)}"))
            print(f"FAIL  {name}: column mismatch\n  spark={sorted(scols)}\n  duck ={sorted(dcols)}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rowcount spark={len(srows)} duck={len(drows)}"))
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
            continue
        sm, dm = df_to_multiset(scols, srows), df_to_multiset(dcols, drows)
        if sm != dm:
            diff = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
            failures.append((name, f"values differ, first diffs: {diff}"))
            print(f"FAIL  {name}: value mismatch; first diffs:")
            for a, b in diff:
                print(f"    spark={a}\n    duck ={b}")
            continue
        print(f"OK    {name}: {len(srows)} rows")

    print(
        f"\n{len(qs) - len(failures) - len(no_oracle) - skipped} ok, "
        f"{len(failures)} failed, {len(no_oracle)} rows-only, "
        f"{skipped} skipped, {len(qs)} total"
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
