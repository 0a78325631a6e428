"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark and its oracle on DuckDB at the same sf,
compare row count + column names + order-insensitive values.

Usage: python3 scripts/check_contract.py [sf_dir] [query ...]
"""
from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

TABLES = ('region nation customer supplier part orders lineitem events '
          'documents embeddings').split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return 'nan'
        return round(v, 9)
    if isinstance(v, (int,)):
        return int(v)
    if hasattr(v, 'isoformat'):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    try:  # decimals
        import decimal
        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:  # noqa: BLE001
        pass
    return v


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    named = sorted(cols)
    data = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return named, data


def duckdb_views(sf_dir: str):
    """a DuckDB connection with one view per sf table present"""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f'{t}.parquet')
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(spark, con, sf_dir: str, name: str):
    """run contract row ``name`` on Spark and its oracle on ``con``;
    returns (status, report): status is 'OK', 'FAIL' or 'rows-only' (no
    oracle), report the lines the script prints"""
    import __spark_entry__ as entry
    sql = entry.oracle_sql().get(name)
    try:
        sdf = entry.queries()[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001
        return 'FAIL', f'FAIL {name}: spark error: {exc}'
    if sql is None:
        return 'rows-only', f'rows-only {name}: {len(srows)} rows'
    try:
        rel = con.sql(sql)
        dcols = list(rel.columns)
        drows = [tuple(r) for r in rel.fetchall()]
    except Exception as exc:  # noqa: BLE001
        return 'FAIL', f'FAIL {name}: duckdb error: {exc}'
    sn, sd = normalize(scols, srows)
    dn, dd = normalize(dcols, drows)
    if sn != dn:
        return 'FAIL', f'FAIL {name}: columns {sn} != {dn}'
    if len(sd) != len(dd):
        return 'FAIL', f'FAIL {name}: rows {len(sd)} != {len(dd)}'
    if sd != dd:
        diff = [i for i, (a, b) in enumerate(zip(sd, dd)) if a != b][:3]
        lines = [f'FAIL {name}: values differ at rows {diff}']
        for i in diff[:2]:
            lines += [f'   spark: {sd[i]}', f'   duck : {dd[i]}']
        return 'FAIL', '\n'.join(lines)
    return 'OK', f'OK   {name}: {len(sd)} rows'


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from pyxml_spark.jobs.extract import build_session

    spark = build_session(8, app='contract-check')

    con = duckdb_views(sf_dir)
    failures = 0
    for name in entry.queries():
        if only and name not in only:
            continue
        status, report = check_query(spark, con, sf_dir, name)
        print(report)
        failures += status == 'FAIL'
    # smoke entry()
    if not only:
        n = entry.entry(spark).count()
        print(f'entry(): {n} rows')
    spark.stop()
    return 1 if failures else 0


if __name__ == '__main__':
    raise SystemExit(main())
