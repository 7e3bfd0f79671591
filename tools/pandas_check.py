"""Full-registry compare over the PANDAS fetch path — the driver-style
compare (`fetchdf` / `toPandas`) that renders DuckDB HUGEINT as float64
and nullable ints as floats, which `fetchall()`-based tools/check.py
cannot see (the CORRECTNESS_r07 root cause).  Any asymmetry between the
two engines' pandas dtypes or stringified values fails here.

Usage: python tools/pandas_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def frame_lines(df, cols):
    """Canonicalize the way the driver does: pandas ``sort_values`` over
    ALL columns FIRST (this is the step that throws ``unhashable type:
    'list'`` on array/map/struct cells — the CORRECTNESS_r12
    doc_hashed_tfidf root cause; stringifying tuples hid it), then
    stringify the sorted rows for the value compare."""
    canon = df[cols].sort_values(by=list(cols), kind="mergesort")
    return [
        tuple(str(v) for v in row)
        for row in canon.itertuples(index=False)
    ]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry_mod
    from mistocksync_spark.session import get_spark

    spark = get_spark("pandas-check")
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: error {type(e).__name__}: {e}")
            continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            failures.append(name)
            print(f"FAIL {name}: schema {scols} vs {ocols}")
            continue
        s, o = frame_lines(sdf, scols), frame_lines(odf, ocols)
        if s != o:
            failures.append(name)
            print(f"FAIL {name}: {len(s)} vs {len(o)} rows")
            for a, b in list(zip(s, o))[:200]:
                if a != b:
                    print(f"   spark : {a}\n   duckdb: {b}")
                    break
        else:
            print(f"PASS {name}", flush=True)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
