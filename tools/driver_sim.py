"""Simulate the driver's grading environment: a VANILLA SparkSession
(none of get_spark's determinism confs) vs the DuckDB oracle, using the
same hash as tools/check.py.  Usage:
    python tools/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check import normalize_cell, table_hash  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    import duckdb
    from pyspark.sql import SparkSession

    # Vanilla session: defaults only (AQE default-on in 4.x, shuffle
    # partitions 200, ANSI per-distro default, no tz pin).
    spark = (
        SparkSession.builder.appName("driver-sim")
        .master("local[32]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    print("ansi:", spark.conf.get("spark.sql.ansi.enabled"))
    print("shuffle:", spark.conf.get("spark.sql.shuffle.partitions"))
    print("tz:", spark.conf.get("spark.sql.session.timeZone"))

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name in only or list(qs):
        fn = qs[name]
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(srows)} (rows-only)")
            continue
        res = con.execute(oracles[name])
        orows = res.fetchall()
        ocols = [d[0] for d in res.description]
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        else:
            sh = table_hash([tuple(r) for r in srows], scols)
            oh = table_hash(orows, ocols)
            if sh != oh:
                problems.append(f"valuehash {sh} vs {oh}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            sset = {tuple(normalize_cell(v) for v in r) for r in (tuple(x) for x in srows)}
            oset = {tuple(normalize_cell(v) for v in r) for r in orows}
            for label, diff in [("spark-only", sset - oset), ("duckdb-only", oset - sset)]:
                for row in list(diff)[:4]:
                    print(f"       {label}: {row}")
        else:
            print(f"PASS {name}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
