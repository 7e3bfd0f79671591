"""Registry-wide output-TYPE parity sweep.

Root cause of the CORRECTNESS_r07 hash-FAILs (`lineitem_profile`,
`events_winsorized`, `chunk_dup_rate`): DuckDB's ``SUM(BIGINT)`` returns
HUGEINT, which a pandas-based fetch (the driver's compare path) renders
as float64 — ``0.0`` vs Spark's ``0`` — while ``fetchall()`` (this repo's
local check) renders it as int and hides the class.  Value-identical is
not enough: the OUTPUT TYPES must agree class-for-class.

This tool compares every query's Spark schema against its oracle's
DuckDB relation types (both LAZY — nothing executes) and flags any
column whose type classes differ, plus any DuckDB HUGEINT/DECIMAL output
(which pandas renders as float64/object regardless of the Spark side).

Usage: python tools/type_check.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duck_class(t: str) -> str:
    t = str(t).upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    if t.endswith("[]") or t.startswith("STRUCT") or t.startswith("MAP"):
        return "nested"
    return t.lower()


def spark_class(t: str) -> str:
    t = str(t).lower()
    if t.startswith("decimal"):
        return "decimal"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t == "string":
        return "str"
    if t == "boolean":
        return "bool"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "date":
        return "date"
    if t.startswith(("array", "struct", "map")):
        return "nested"
    return t


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry_mod
    from mistocksync_spark.session import get_spark

    spark = get_spark("type-check")
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
    flagged: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, sf_dir)
            stypes = dict(sdf.dtypes)
        except Exception as e:
            flagged.append(name)
            print(f"ERR  {name}: spark build failed: {type(e).__name__}: {e}")
            continue
        try:
            rel = con.sql(oracles[name])
            otypes = dict(zip(rel.columns, [str(t) for t in rel.types]))
        except Exception as e:
            flagged.append(name)
            print(f"ERR  {name}: duckdb plan failed: {type(e).__name__}: {e}")
            continue
        problems = []
        for col in sorted(set(stypes) | set(otypes)):
            sc = spark_class(stypes[col]) if col in stypes else "<missing>"
            oc = duck_class(otypes[col]) if col in otypes else "<missing>"
            # hugeint/decimal on the oracle side break the pandas fetch
            # path even when the values agree; any class mismatch breaks
            # the typed compare
            if oc in ("hugeint", "decimal") or sc == "decimal" or sc != oc:
                problems.append(
                    f"{col}: spark={stypes.get(col)} duckdb={otypes.get(col)}"
                )
        if problems:
            flagged.append(name)
            print(f"FLAG {name}: " + "; ".join(problems))
    print(f"\n{len(flagged)} flagged" + (f": {flagged}" if flagged else ""))
    spark.stop()
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
