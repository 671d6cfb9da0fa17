"""Self-check harness mimicking the driver's DuckDB cross-check:
runs each queries() entry on Spark and its oracle_sql() on DuckDB over
the same sf dir, compares row count, sorted column names, and
order-insensitive values.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from decimal import Decimal

sys.path.insert(0, ".")


def norm_cell(v):
    # RAW reprs, exactly as strict as the driver's canonical string
    # hash: Decimal('1.80') != float 1.8 here, by design (round-1
    # verdict: the old Decimal.normalize() lenience reported OK where
    # the driver failed — queries must emit double, never Decimal)
    if isinstance(v, Decimal):
        return f"DECIMAL:{v}"
    if isinstance(v, float):
        return repr(v)
    if v is None:
        return "NULL"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from watermark_remove_spark.queries import ORACLES, QUERIES
    from watermark_remove_spark.session import build_session

    spark = build_session(app_name="selfcheck", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        sql = ORACLES.get(name)
        if sql is None:
            print(f"{name}: rows-only ({len(srows)} rows) OK")
            continue
        try:
            # through Arrow, as the correctness harness fetches: a
            # HUGEINT column arrives as Decimal (fetchall() would hand
            # back a plain int)
            tbl = con.execute(sql).arrow()
            dcols = tbl.column_names
            drows = list(zip(*(c.to_pylist() for c in tbl.columns)))
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        sc, sv = frame_to_rows(scols, [tuple(r) for r in srows])
        dc, dv = frame_to_rows(dcols, drows)
        if sc != dc:
            print(f"{name}: COLUMN MISMATCH spark={sc} duck={dc}")
            failures.append(name)
        elif len(sv) != len(dv):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(sv)} duck={len(dv)}")
            sset, dset = set(sv), set(dv)
            print("  spark-only:", list(sset - dset)[:3])
            print("  duck-only:", list(dset - sset)[:3])
            failures.append(name)
        elif sv != dv:
            diff = [i for i, (a, b) in enumerate(zip(sv, dv)) if a != b]
            print(f"{name}: VALUE MISMATCH at {len(diff)} rows; first:")
            for i in diff[:3]:
                print("  spark:", sv[i])
                print("  duck :", dv[i])
            failures.append(name)
        else:
            print(f"{name}: OK ({len(sv)} rows)")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
