"""Cross-engine parity fuzzer for the data-DEPENDENT queries.

CORRECTNESS_r07 failed `lineitem_profile`, `events_winsorized` and
`chunk_dup_rate` on the driver while every local sweep passes: their
Spark/DuckDB parity must hinge on the DATA (boundary half-cases,
interpolated percentiles, tokenization edge cases) rather than being
bit-exact by construction.  This harness hunts such divergence by
generating adversarial random tables (rounding half-cases, duplicate
values, whitespace pathologies), writing them as parquet, and running the
registered query + oracle side by side.

Usage: python tools/fuzz_parity.py [n_trials] [query ...]
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from tools.check import normalize_cell, table_hash  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _adversarial_doubles(rng: random.Random, n: int) -> list[float]:
    """Doubles engineered to sit on/near rounding and quantization
    boundaries: exact micro-grid points, half-cases at 1e-6, shortest-repr
    traps (x.xx5), mixed magnitudes, negatives, nulls."""
    out: list[float] = []
    for _ in range(n):
        kind = rng.random()
        if kind < 0.15:
            out.append(round(rng.uniform(-100, 100), 2))
        elif kind < 0.3:
            # exact micro half-case: k + 0.5 micro-units
            k = rng.randint(-10**8, 10**8)
            out.append((k + 0.5) / 1e6)
        elif kind < 0.45:
            # decimal that has no exact binary repr, near a 6dp boundary
            k = rng.randint(-10**7, 10**7)
            out.append(k / 1e6 + rng.choice([-1e-13, 1e-13, 0.0]))
        elif kind < 0.6:
            out.append(rng.uniform(-1e6, 1e6))
        elif kind < 0.7:
            out.append(float(rng.randint(-1000, 1000)))
        elif kind < 0.8:
            # x.xx5 shortest-repr rounding traps
            out.append(rng.randint(-10**5, 10**5) / 100 + 0.005)
        elif kind < 0.9:
            out.append(rng.uniform(-1, 1) * 10 ** rng.randint(-6, 6))
        else:
            out.append(None)
    return out


def gen_lineitem(rng: random.Random, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "l_orderkey": [rng.randint(1, n) for _ in range(n)],
            "l_partkey": [rng.randint(1, 200) for _ in range(n)],
            "l_suppkey": [rng.randint(1, 50) for _ in range(n)],
            "l_linenumber": pd.array(
                [rng.randint(1, 7) for _ in range(n)], dtype="int32"
            ),
            "l_quantity": pd.array(_adversarial_doubles(rng, n), dtype="float64"),
            "l_extendedprice": pd.array(_adversarial_doubles(rng, n), dtype="float64"),
            "l_discount": pd.array(_adversarial_doubles(rng, n), dtype="float64"),
            "l_tax": pd.array(_adversarial_doubles(rng, n), dtype="float64"),
            "l_returnflag": [rng.choice("ANR") for _ in range(n)],
            "l_linestatus": [rng.choice("OF") for _ in range(n)],
            "l_shipdate": pd.to_datetime("2024-01-01"),
        }
    )


def gen_events(rng: random.Random, n: int) -> pd.DataFrame:
    types = ["view", "click", "purchase", "refund"]
    return pd.DataFrame(
        {
            "event_id": list(range(n)),
            "ts": (
                pd.to_datetime("2024-01-01")
                + pd.to_timedelta([rng.randint(0, 10**6) for _ in range(n)], unit="s")
            ).astype("datetime64[us]"),
            "user_id": [rng.randint(1, 50) for _ in range(n)],
            "event_type": [rng.choice(types) for _ in range(n)],
            "value": pd.array(_adversarial_doubles(rng, n), dtype="float64"),
            "props": ["{}"] * n,
        }
    )


def gen_orders(rng: random.Random, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "o_orderkey": list(range(n)),
            "o_custkey": [rng.randint(1, max(n // 5, 1)) for _ in range(n)],
            "o_orderstatus": [rng.choice("OFP") for _ in range(n)],
            "o_totalprice": pd.array(
                [abs(v) if v is not None else None for v in _adversarial_doubles(rng, n)],
                dtype="float64",
            ),
            # microsecond precision: pandas defaults to ns, which Spark
            # reads as BIGINT under the nanosAsLong conf
            "o_orderdate": (
                pd.to_datetime("2024-01-01")
                + pd.to_timedelta([rng.randint(0, 1000) for _ in range(n)], unit="D")
            ).astype("datetime64[us]"),
            "o_orderpriority": ["3-MEDIUM"] * n,
        }
    )


def _rand_text(rng: random.Random, shared_chunks: list[str]) -> str:
    parts: list[str] = []
    for _ in range(rng.randint(0, 6)):
        if shared_chunks and rng.random() < 0.5:
            parts.append(rng.choice(shared_chunks))
        else:
            ntok = rng.randint(0, 80)
            parts.append(
                " ".join(
                    rng.choice(["tok%d" % rng.randint(0, 30), "a", "", "  x", "é"])
                    for _ in range(ntok)
                )
            )
    txt = " ".join(parts)
    # whitespace pathologies
    if rng.random() < 0.2:
        txt = "  " + txt
    if rng.random() < 0.2:
        txt = txt + "   "
    if rng.random() < 0.1:
        txt = ""
    return txt


def gen_documents(rng: random.Random, n: int) -> pd.DataFrame:
    shared = [
        " ".join("w%d" % rng.randint(0, 40) for _ in range(rng.randint(30, 100)))
        for _ in range(5)
    ]
    texts = [_rand_text(rng, shared) for _ in range(n)]
    return pd.DataFrame(
        {
            "doc_id": list(range(n)),
            "text": texts,
            "lang": [rng.choice(["en", "ru", "de"]) for _ in range(n)],
            "source": [rng.choice(["web", "book"]) for _ in range(n)],
            "n_chars": [len(t) for t in texts],
        }
    )


GENERATORS = {
    "lineitem": gen_lineitem,
    "events": gen_events,
    "documents": gen_documents,
    "orders": gen_orders,
}


def main() -> None:
    n_trials = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    # default: every query whose parity is data-DEPENDENT (rank selection,
    # tokenization, clipping, rule thresholds) over the three fuzzable
    # tables — the boundary-case hunting ground
    queries = sys.argv[2:] or [
        "lineitem_profile",
        "events_winsorized",
        "events_mad_outliers",
        "chunk_dup_rate",
        "events_interarrival",
        "doc_length_quantiles",
        "lineitem_quality_rules",
        "lineitem_key_skew",
        "doc_split_summary",
        "customer_rfm",
    ]

    import duckdb

    import __spark_entry__ as entry_mod
    from mistocksync_spark.session import get_spark

    spark = get_spark("fuzz")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    failures = 0
    for trial in range(n_trials):
        rng = random.Random(1000 + trial)
        tmp = tempfile.mkdtemp(prefix="fuzz_sf_")
        try:
            for t, gen in GENERATORS.items():
                gen(rng, rng.randint(50, 2000)).to_parquet(f"{tmp}/{t}.parquet")
            con = duckdb.connect()
            for t in GENERATORS:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')"
                )
            for name in queries:
                try:
                    sdf = qs[name](spark, tmp)
                    srows = sdf.collect()
                    scols = sdf.columns
                    res = con.execute(oracles[name])
                    orows = res.fetchall()
                    ocols = [d[0] for d in res.description]
                except Exception as e:
                    failures += 1
                    print(f"trial {trial} FAIL {name}: error {type(e).__name__}: {e}")
                    continue
                sh = table_hash([tuple(r) for r in srows], scols)
                oh = table_hash(orows, ocols)
                if len(srows) != len(orows) or sh != oh:
                    failures += 1
                    print(
                        f"trial {trial} FAIL {name}: rows {len(srows)}/{len(orows)} hash {sh}/{oh}"
                    )
                    sset = {
                        tuple(normalize_cell(v) for v in r)
                        for r in (tuple(x) for x in srows)
                    }
                    oset = {tuple(normalize_cell(v) for v in r) for r in orows}
                    for label, diff in [
                        ("spark-only", sset - oset),
                        ("duckdb-only", oset - sset),
                    ]:
                        for row in sorted(diff)[:3]:
                            print(f"   {label}: {row}")
                else:
                    print(f"trial {trial} pass {name} ({len(srows)} rows)")
            con.close()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(f"\n{failures} failures over {n_trials} trials")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
