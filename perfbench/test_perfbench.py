"""Self-tests of the benchmark: generator determinism, the output checks
catching a planted wrong result, and the printed metric names and units
matching BENCHMARK.json.  No Spark session is needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, dedup, gen, run, sync  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from mistocksync_spark.sinks.excel import SHEET_NAMES  # noqa: E402


def _inputs(seed: int, n_base: int = 400, n_list: int = 200):
    part = gen.catalog(np.random.default_rng([seed, 0]), n_base)
    return gen.base_table(part), gen.supplier_feed(np.random.default_rng([seed, 1, 0]), part, n_list)


def _write_all(seed: int, d) -> dict[str, bytes]:
    base, feed = _inputs(seed)
    gen.write_parquet(base, str(d / "base.parquet"))
    gen.write_csv(feed, str(d / "list.csv"))
    gen.write_xlsx(feed, str(d / "list.xlsx"))
    gen.write_parquet(gen.corpus(np.random.default_rng([seed, 2]), 300), str(d / "documents.parquet"))
    gen.write_parquet(gen.embeddings(np.random.default_rng([seed, 3]), 100), str(d / "embeddings.parquet"))
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_generator_is_a_function_of_the_seed(tmp_path):
    for d in ("a", "b", "c"):
        (tmp_path / d).mkdir()
    a = _write_all(5, tmp_path / "a")
    b = _write_all(5, tmp_path / "b")
    c = _write_all(6, tmp_path / "c")
    assert a == b
    assert all(a[name] != c[name] for name in a)


def _perfect_observation(exp: checks.Expected, base: pa.Table) -> checks.Observed:
    """What a correct sync writes for ``exp``, with no code matches."""
    matches = [{"article": a, "base_index": 0} for a in sorted(exp.matches)]
    new_items = [{"article": a} for a in sorted(exp.new_items)]
    sheets = {SHEET_NAMES[k]: [] for k in checks.REPORT_KEYS}
    sheets[SHEET_NAMES["summary"]] = [
        {"supplier_total": len(matches) + len(new_items), "matches": len(matches), "new_items": len(new_items)}
    ]
    sheets[SHEET_NAMES["matches"]] = matches
    sheets[SHEET_NAMES["new_items"]] = new_items
    sheets[SHEET_NAMES["price_updates"]] = [{"article": "x"}] * len(exp.updates)

    prices = [exp.updates.get(r, p) for r, p in zip(base.column("row_id").to_pylist(), base.column("price_vitya_usd").to_pylist())]
    merged = base.set_column(base.column_names.index("price_vitya_usd"), "price_vitya_usd", pa.array(prices, pa.float64()))
    residual = sorted(exp.new_items, key=int)
    new_rows = pa.table(
        {
            "row_id": pa.array([None] * len(residual), pa.int64()),
            "article": pa.array(range(exp.max_base_article + 1, exp.max_base_article + 1 + len(residual)), pa.int64()),
            "article_vitya": pa.array([int(a) for a in residual], pa.int64()),
        }
    )
    inserted = pa.concat_tables([base.select(["row_id", "article", "article_vitya"]), new_rows])
    counts = {k: len(sheets[SHEET_NAMES[k]]) for k in checks.BUCKET_SHEETS}
    counts["new_items_for_base"] = len(residual)
    return checks.Observed(sheets=sheets, merged=merged, inserted=inserted, bucket_rows=counts)


def test_check_accepts_a_correct_sync_and_catches_planted_errors():
    base, feed = _inputs(3)
    exp = checks.expect(feed, base)
    assert exp.matches and exp.new_items and exp.updates
    obs = _perfect_observation(exp, base)
    assert checks.check(exp, obs, base) == []

    # one row dropped from a bucket
    dropped = _perfect_observation(exp, base)
    dropped.sheets[SHEET_NAMES["matches"]].pop()
    assert checks.check(exp, dropped, base)

    # one price update lost by the merge
    lost = _perfect_observation(exp, base)
    row = next(iter(exp.updates))
    idx = base.column("row_id").to_pylist().index(row)
    prices = lost.merged.column("price_vitya_usd").to_pylist()
    prices[idx] = base.column("price_vitya_usd")[idx].as_py()
    lost.merged = lost.merged.set_column(
        lost.merged.column_names.index("price_vitya_usd"), "price_vitya_usd", pa.array(prices, pa.float64())
    )
    assert checks.check(exp, lost, base)

    # a gap in the new article numbers
    gap = _perfect_observation(exp, base)
    art = gap.inserted.column("article").to_pylist()
    art[-1] += 1
    gap.inserted = gap.inserted.set_column(1, "article", pa.array(art, pa.int64()))
    assert pc.sum(pc.is_null(gap.inserted.column("row_id"))).as_py() == len(exp.new_items)
    assert checks.check(exp, gap, base)


def test_workbook_reader_reads_the_report_writer():
    from mistocksync_spark.sinks.excel import _write_xlsx_stdlib

    path = os.path.join(os.environ.get("TMPDIR", "/tmp"), "perfbench_reader_test.xlsx")
    _write_xlsx_stdlib(path, [("Сводка", ["a", "b", "c"], [(1, 2.5, "x"), (None, True, "y")])])
    try:
        assert checks.read_workbook(path) == {"Сводка": [{"a": 1, "b": 2.5, "c": "x"}, {"a": None, "b": True, "c": "y"}]}
    finally:
        os.remove(path)


def _dedup_inputs(seed: int):
    return gen.corpus(np.random.default_rng([seed, 2]), 300), gen.embeddings(np.random.default_rng([seed, 3]), 120)


def _perfect_dedup(docs: pa.Table, emb: pa.Table) -> checks.ObservedDedup:
    """What a correct pass reports: the oracles' groups and pairs, the
    survivors they imply and every vector pair at cosine ≥ the threshold."""
    want = checks.dedup_oracles(docs)
    pairs = sorted(want["minhash_lsh_pairs"])
    minima = checks.component_minima(pairs)
    ids = emb.column("vec_id").to_pylist()
    all_pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]  # ids ascend
    near = [(a, b, round(c, 6)) for (a, b), c in zip(all_pairs, checks.cosines(emb, all_pairs)) if c >= dedup.NEAR_DUP_COSINE]
    return checks.ObservedDedup(
        exact_groups=set(want["exact_dedup"]),
        lsh_pairs=pairs,
        lsh_pair_count=len(pairs),
        survivors=[d for d in docs.column("doc_id").to_pylist() if minima.get(d, d) == d],
        vector_pairs=near,
    )


def _check_dedup(docs, emb, obs):
    return checks.check_dedup(docs, emb, obs, gen.EMBEDDING_COPIES, dedup.NEAR_DUP_COSINE)


def test_dedup_check_accepts_a_correct_pass_and_catches_planted_errors():
    docs, emb = _dedup_inputs(4)
    obs = _perfect_dedup(docs, emb)
    assert obs.exact_groups and obs.lsh_pairs and obs.vector_pairs
    assert obs.exact_groups == checks.exact_groups(docs)
    assert _check_dedup(docs, emb, obs) == []
    assert checks.oracle_dedup(docs, obs) == []

    # one survivor dropped, one non-representative kept
    dropped = _perfect_dedup(docs, emb)
    dropped.survivors.pop()
    assert _check_dedup(docs, emb, dropped)
    kept = _perfect_dedup(docs, emb)
    kept.survivors.append(max(b for _, b in kept.lsh_pairs))
    assert _check_dedup(docs, emb, kept)

    # one LSH pair lost: the oracle catches it
    lost = _perfect_dedup(docs, emb)
    lost.lsh_pairs = lost.lsh_pairs[1:]
    assert checks.oracle_dedup(docs, lost)

    # a planted embedding copy missed
    missed = _perfect_dedup(docs, emb)
    missed.vector_pairs = [p for p in missed.vector_pairs if p[1] < 1_000_000]
    assert _check_dedup(docs, emb, missed)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class _FakeContext:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass


def test_end_to_end_metrics_match_benchmark_json():
    metrics = run._end_to_end_metrics(setup_s=1.0, walls=[2.0], rows=10)
    assert {k: v["unit"] for k, v in metrics.items()} == _declared("end_to_end")


def test_per_layer_metrics_match_benchmark_json():
    tracer = Tracer(_FakeContext(), run_id="t", enabled=True)
    for op, phases in (("sync", sync.PHASES), ("dedup", dedup.PHASES)):
        with tracer.span(op):
            for name in phases:
                with tracer.span(name):
                    pass
    counts = {
        "sync": [dict({b: 1 for b in sync.BUCKETS}, rows_in=1, rows_out=1, fuzzy_matched=1, rows_updated=1, report_rows=1)],
        "dedup": [dict(docs=1, lsh_pairs=1, survivors=1, vector_pairs=1)],
    }
    metrics = run._layer_metrics(tracer, counts, [1.0], 1.0, 1.0, [1.0, 1.0], 1.0, attempted=2, failed=0)
    assert {k: v["unit"] for k, v in metrics.items()} == _declared("per_layer")


def test_every_workload_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        assert [w["name"] for w in json.load(f)["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("raw,want", [("'123", 123), ("000123", 123), ("AB12C34", 1234), ("nan", None), ("xyz", 0)])
def test_clean_article_matches_the_reference_rules(raw, want):
    assert checks.clean_article(raw) == want
