"""Manual driver-mirror: run queries() entries vs their DuckDB oracles at
sf0.01 (the driver's CORRECTNESS_r{N} scale; pytest uses sf0.001).

Usage: python tests/oracle_parity_sf001.py [sf_dir [query ...]]

With no query names every entry runs; with names, only those (e.g.
``fill_daily_events sessionize_events_bucketed``), so a change can re-run
just the oracle queries it touches.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(set(names) - set(qs))
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    from intervalaverage_spark.session import get_spark

    spark = get_spark(app_name="oracle-parity", master="local[16]",
                      shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failed = []
    for name in sorted(names or qs):
        try:
            sdf = qs[name](spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            sql = oracles.get(name)
            if sql is None:
                print(f"{name}: rows-only ({len(srows)} rows)")
                continue
            pdf = con.execute(sql).fetchdf()
            scols, ocols = sorted(sdf.columns), sorted(pdf.columns)
            if scols != ocols:
                raise AssertionError(f"cols {scols} != {ocols}")
            orows = pdf.where(pdf.notnull(), None).to_dict("records")
            a, b = norm(srows, scols), norm(orows, scols)
            if len(a) != len(b):
                raise AssertionError(f"rowcount {len(a)} != {len(b)}")
            bad = [i for i, (ra, rb) in enumerate(zip(a, b)) if ra != rb]
            if bad:
                raise AssertionError(f"{len(bad)} value mismatches; first: {a[bad[0]]} vs {b[bad[0]]}")
            print(f"{name}: OK ({len(a)} rows)")
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"{name}: FAIL — {e}")
    spark.stop()
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
