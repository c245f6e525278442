"""Local approximation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares column names, column types, row
count, and an order-insensitive value multiset (values normalized: floats
rounded to 9 significant digits, None canonical).  Types compare strictly:
each Spark column type must be the DuckDB type of the same domain
(``_DUCK_TYPES``), so a HUGEINT sum against a Spark ``bigint`` fails.
Usage::

    python tools/verify_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tap_postgres_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


# Spark simpleString → the DuckDB type of the same value domain; a Spark
# type not listed here matches no DuckDB type
_DUCK_TYPES = {
    "bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
    "tinyint": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
    "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp": "TIMESTAMP WITH TIME ZONE", "binary": "BLOB",
}


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return bool(v)
    return v


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm(r[i]) for i in idx)
        out[key] = out.get(key, 0) + 1
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod

    spark = get_spark("verify-oracles", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(s_rows)} rows)")
            continue
        try:
            res = con.sql(oracles[name])
            d_cols = res.columns
            d_rows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        ok = True
        d_types = dict(zip(d_cols, (str(t) for t in res.types)))
        type_diffs = [
            f"{f.name}: {t} vs {d_types[f.name]}"
            for f, t in ((f, f.dataType.simpleString()) for f in sdf.schema.fields)
            if f.name in d_types and _DUCK_TYPES.get(t) != d_types[f.name]
        ]
        if type_diffs:
            ok = False
            print(f"FAIL {name}: types {'; '.join(type_diffs)}")
        if sorted(s_cols) != sorted(d_cols):
            ok = False
            print(f"FAIL {name}: columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
        elif len(s_rows) != len(d_rows):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
        else:
            rs, rd = rowset(s_cols, s_rows), rowset(d_cols, d_rows)
            if rs != rd:
                ok = False
                diff_s = {k: v for k, v in rs.items() if rd.get(k) != v}
                diff_d = {k: v for k, v in rd.items() if rs.get(k) != v}
                print(f"FAIL {name}: value mismatch "
                      f"({len(diff_s)} spark-only / {len(diff_d)} duck-only)")
                for k in list(diff_s)[:3]:
                    print(f"  spark: {k}")
                for k in list(diff_d)[:3]:
                    print(f"  duck : {k}")
        if ok:
            print(f"OK   {name}: {len(s_rows)} rows ({time.time() - t0:.1f}s)")
        else:
            failures.append(name)

    n_run = len([n for n in qs if not only or n in only])
    print(
        f"\n{len(failures)} failures of {n_run}: {failures}"
        if failures
        else f"\nALL MATCH ({n_run} queries)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
