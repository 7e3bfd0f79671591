"""Untimed output checks for one sync and for one dedup pass.

``expect`` derives, from the generated input tables alone and without
Spark, what a correct sync must produce; ``observe`` reads what the sync
wrote (workbook, merged base, base with inserted rows); ``check`` compares
the two and returns a list of failures (empty = correct).  ``oracle``
hash-matches the cascade buckets and the price MERGE against the
registry's DuckDB oracles over the same inputs.  ``check_dedup`` and
``oracle_dedup`` do the same for a dedup pass.
"""

from __future__ import annotations

import hashlib
import itertools
import re
import zipfile
from dataclasses import dataclass
from xml.etree import ElementTree as ET

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from mistocksync_spark.functions.pricing import MIN_PRICE_THRESHOLD, PRICE_EPSILON
from mistocksync_spark.operators.filters import VITYA_BALANCE_AVAILABLE
from mistocksync_spark.sinks.excel import SHEET_NAMES

REPORT_KEYS = (
    "summary",
    "matches",
    "price_changes",
    "new_items",
    "code_matches",
    "bracket_matches",
    "warnings",
    "price_updates",
)
# compare buckets written as report sheets of the same name
BUCKET_SHEETS = ("matches", "price_changes", "new_items", "code_matches", "bracket_matches")

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def read_workbook(path: str) -> dict[str, list[dict]]:
    """Sheet title → rows as header-keyed dicts (numbers, booleans and
    inline or shared strings; enough for the report writer's output)."""
    with zipfile.ZipFile(path) as z:
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = {r.get("Id"): r.get("Target") for r in rels}
        shared = []
        if "xl/sharedStrings.xml" in z.namelist():
            shared = ["".join(t.text or "" for t in si.iter(f"{_NS}t")) for si in ET.fromstring(z.read("xl/sharedStrings.xml"))]
        out = {}
        for sheet in ET.fromstring(z.read("xl/workbook.xml")).iter(f"{_NS}sheet"):
            root = ET.fromstring(z.read("xl/" + target[sheet.get(f"{_REL_NS}id")]))
            rows = []
            for row in root.iter(f"{_NS}row"):
                cells = {}
                for c in row.findall(f"{_NS}c"):
                    col = re.match(r"[A-Z]+", c.get("r")).group()
                    t, v = c.get("t"), c.find(f"{_NS}v")
                    if t == "inlineStr":
                        cells[col] = "".join(x.text or "" for x in c.iter(f"{_NS}t"))
                    elif v is None:
                        continue
                    elif t == "s":
                        cells[col] = shared[int(v.text)]
                    elif t == "b":
                        cells[col] = v.text == "1"
                    else:
                        f = float(v.text)
                        cells[col] = int(f) if re.fullmatch(r"-?\d+", v.text) else f
                rows.append(cells)
            header = rows[0] if rows else {}
            out[sheet.get("name")] = [{header[k]: r.get(k) for k in header} for r in rows[1:]]
        return out


def clean_article(raw) -> int | None:
    """The vitya article cleaner: strip, drop apostrophes and one leading
    ``000``, concatenate every digit run; no digits → 0."""
    if raw is None:
        return None
    s = str(raw).strip()
    if s == "" or s.lower() == "nan":
        return None
    s = s.replace("'", "")
    if s.startswith("000"):
        s = s[3:]
    digits = "".join(re.findall(r"\d+", s))
    return int(digits) if digits and len(digits) < 19 else 0


@dataclass
class Expected:
    filtered_rows: int
    articles: set[str]  # distinct cleaned articles of the filtered rows
    matches: set[str]
    new_items: set[str]
    updates: dict[int, float]  # base row_id → new price
    base_rows: int
    max_base_article: int


def expect(supplier: pa.Table, base: pa.Table) -> Expected:
    """``supplier`` carries the canonical feed column names."""
    last: dict[str, tuple[int, float | None]] = {}
    n = 0
    for r in supplier.select(["row_id", "article_raw", "price_usd", "balance"]).to_pylist():
        p = r["price_usd"]
        if p is None or not p > MIN_PRICE_THRESHOLD or r["balance"] not in VITYA_BALANCE_AVAILABLE:
            continue
        n += 1
        a = clean_article(r["article_raw"])
        if a is None:
            continue
        key = str(a)
        if key not in last or r["row_id"] > last[key][0]:
            last[key] = (r["row_id"], p)
    base_cols = base.select(["row_id", "article", "article_vitya", "price_vitya_usd"]).to_pydict()
    base_articles = {str(a) for a in base_cols["article_vitya"] if a is not None}
    updates = {}
    for row_id, a, old in zip(base_cols["row_id"], base_cols["article_vitya"], base_cols["price_vitya_usd"]):
        if a is None or old is None or str(a) not in last:
            continue
        new = last[str(a)][1]
        if abs(new - old) >= PRICE_EPSILON:
            updates[row_id] = new
    articles = set(last)
    return Expected(
        filtered_rows=n,
        articles=articles,
        matches=articles & base_articles,
        new_items=articles - base_articles,
        updates=updates,
        base_rows=base.num_rows,
        max_base_article=max(a for a in base_cols["article"] if a is not None),
    )


@dataclass
class Observed:
    sheets: dict[str, list[dict]]
    merged: pa.Table
    inserted: pa.Table
    bucket_rows: dict[str, int]


def observe(result) -> Observed:
    return Observed(
        sheets=read_workbook(result.report_path),
        merged=pq.read_table(result.merged_path),
        inserted=pq.read_table(result.inserted_path),
        bucket_rows=result.bucket_rows,
    )


def _keys(rows: list[dict], col: str) -> list[str]:
    return [str(r[col]) for r in rows]


def updated_rows(base: pa.Table, merged: pa.Table) -> dict[int, float]:
    """Base row_id → merged price, for every row whose price changed."""
    old = dict(zip(base.column("row_id").to_pylist(), base.column("price_vitya_usd").to_pylist()))
    return {
        r: p
        for r, p in zip(merged.column("row_id").to_pylist(), merged.column("price_vitya_usd").to_pylist())
        if old.get(r) != p
    }


def check(exp: Expected, obs: Observed, base: pa.Table) -> list[str]:
    fail = []
    titles = [SHEET_NAMES[k] for k in REPORT_KEYS]
    if list(obs.sheets) != titles:
        return [f"workbook sheets {list(obs.sheets)} != {titles}"]
    sheet = {k: obs.sheets[SHEET_NAMES[k]] for k in REPORT_KEYS}
    for key in BUCKET_SHEETS:
        if len(sheet[key]) != obs.bucket_rows[key]:
            fail.append(f"sheet {key}: {len(sheet[key])} rows, the compare bucket counted {obs.bucket_rows[key]}")

    m, n = _keys(sheet["matches"], "article"), _keys(sheet["new_items"], "article")
    ms, ns = set(m), set(n)
    if len(ms) != len(m) or len(ns) != len(n):
        fail.append("a supplier article appears twice in matches or new_items")
    if ms & ns:
        fail.append(f"{len(ms & ns)} articles in both matches and new_items")
    if ms | ns != exp.articles:
        fail.append(f"matches ∪ new_items has {len(ms | ns)} articles, the filtered list {len(exp.articles)}")
    if ms != exp.matches or ns != exp.new_items:
        fail.append(f"matches/new_items {len(ms)}/{len(ns)} != expected {len(exp.matches)}/{len(exp.new_items)}")

    bracket = set(_keys(sheet["bracket_matches"], "supplier_article"))
    code = set(_keys(sheet["code_matches"], "supplier_article"))
    if not bracket <= ns or not code <= ns:
        fail.append("a bracket or code match is not a new item")

    summary = sheet["summary"][0] if sheet["summary"] else {}
    if (summary.get("supplier_total"), summary.get("matches"), summary.get("new_items")) != (len(m) + len(n), len(m), len(n)):
        fail.append(f"summary row {summary} disagrees with the sheets")

    inserted = obs.inserted.filter(pc.is_null(obs.inserted.column("row_id")))
    residual = {str(a) for a in inserted.column("article_vitya").to_pylist()}
    if residual != ns - bracket - code or inserted.num_rows != len(residual):
        fail.append(f"inserted rows {inserted.num_rows} != new_items - bracket - code ({len(ns - bracket - code)})")
    if inserted.num_rows != obs.bucket_rows["new_items_for_base"]:
        fail.append("inserted rows != new_items_for_base count")
    numbers = sorted(inserted.column("article").to_pylist())
    first = exp.max_base_article + 1
    if numbers != list(range(first, first + len(numbers))):
        fail.append("new article numbers do not run from max(base)+1 without gaps")
    if obs.inserted.num_rows != exp.base_rows + inserted.num_rows:
        fail.append("base with inserts lost or gained base rows")

    if obs.merged.num_rows != exp.base_rows:
        fail.append(f"merged base has {obs.merged.num_rows} rows, base {exp.base_rows}")
    changed = updated_rows(base, obs.merged)
    if changed != exp.updates:
        fail.append(f"merge changed {len(changed)} prices, expected {len(exp.updates)} updates with |Δ| ≥ {PRICE_EPSILON}")
    if len(sheet["price_updates"]) != len(exp.updates):
        fail.append("price_updates sheet disagrees with the expected updates")
    return fail


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def oracle(supplier: pa.Table, base: pa.Table, obs: Observed) -> list[str]:
    """Hash-match the registry's DuckDB oracles for the cascade buckets and
    the price MERGE, evaluated over the same input tables.  The residual
    (``new_items_for_base``) follows from these and ``check``'s set
    identity, so its slower oracle is not run."""
    from mistocksync_spark.plans.queries import _CTES, ORACLES

    con = duckdb.connect()
    con.register("bench_supplier", supplier)
    con.register("bench_base", base)
    ctes = "WITH supplier_feed AS (SELECT * FROM bench_supplier), base_feed AS (SELECT * FROM bench_base)"

    def run(name: str, cols: str) -> list[tuple]:
        if not ORACLES[name].startswith(_CTES):
            raise ValueError(f"oracle {name!r} no longer starts with the feed CTEs")
        return con.execute(f"SELECT {cols} FROM ({ctes}{ORACLES[name][len(_CTES):]})").fetchall()

    sheet = {k: obs.sheets[SHEET_NAMES[k]] for k in REPORT_KEYS}
    code_cols = ("code", "supplier_article", "base_article", "matched_in")
    pairs = {
        "exact_article_match": (
            run("exact_article_match", "article, base_index"),
            [(r["article"], r["base_index"]) for r in sheet["matches"]],
        ),
        "bracket_code_match": (
            run("bracket_code_match", ", ".join(code_cols)),
            [tuple(r[c] for c in code_cols) for r in sheet["bracket_matches"]],
        ),
        "product_code_match": (
            run("product_code_match", ", ".join(code_cols)),
            [tuple(r[c] for c in code_cols) for r in sheet["code_matches"]],
        ),
        "price_merge": (
            [(r, p) for r, p, updated in run("price_merge", "row_id, price_vitya_usd, updated") if updated],
            list(updated_rows(base, obs.merged).items()),
        ),
    }
    return [
        f"{name}: spark {len(got)} rows / oracle {len(want)} rows, digests differ"
        for name, (want, got) in pairs.items()
        if _digest([tuple(str(v) for v in r) for r in want]) != _digest([tuple(str(v) for v in r) for r in got])
    ]


# -- corpus dedup ---------------------------------------------------------


def exact_groups(docs: pa.Table) -> set[tuple]:
    """(md5 of text, min doc_id, occurrences) of every text that occurs
    more than once."""
    groups: dict[str, list[int]] = {}
    for d, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        groups.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(d)
    return {(h, min(ids), len(ids)) for h, ids in groups.items() if len(ids) > 1}


def component_minima(pairs) -> dict[int, int]:
    """Node → the minimum node of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def cosines(emb: pa.Table, pairs) -> list[float]:
    ids = emb.column("vec_id").to_numpy()
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype("float64")
    row = {v: i for i, v in enumerate(ids.tolist())}
    a = vecs[[row[p[0]] for p in pairs]]
    b = vecs[[row[p[1]] for p in pairs]]
    return (np.einsum("ij,ij->i", a, b) / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1))).tolist()


def planted_vector_pairs(emb: pa.Table, copies: dict[int, tuple[int, float]]) -> set[tuple[int, int]]:
    """Every pair of a vector and its planted copies, and of two copies of
    the same vector: cosine 1, so the banded LSH always proposes them."""
    ids = set(emb.column("vec_id").to_pylist())
    out = set()
    for v in (i for i in ids if i < min(copies)):
        group = [v] + [v + off for off in copies if v + off in ids]
        out |= set(itertools.combinations(group, 2))
    return out


@dataclass
class ObservedDedup:
    exact_groups: set[tuple]
    lsh_pairs: list[tuple[int, int]]
    lsh_pair_count: int
    survivors: list[int]
    vector_pairs: list[tuple]  # (vec_a, vec_b, cos_sim)


def check_dedup(docs: pa.Table, emb: pa.Table, obs: ObservedDedup, copies, min_cosine: float) -> list[str]:
    fail = []
    want_groups = exact_groups(docs)
    if obs.exact_groups != want_groups:
        fail.append(f"exact_dedup found {len(obs.exact_groups)} duplicate groups, expected {len(want_groups)}")

    pairs = set(obs.lsh_pairs)
    if len(pairs) != len(obs.lsh_pairs) or len(pairs) != obs.lsh_pair_count or any(a >= b for a, b in pairs):
        fail.append("LSH candidate pairs are not distinct (a < b) pairs of the counted size")
    by_text: dict[str, list[int]] = {}
    for d, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        by_text.setdefault(t, []).append(d)
    identical = {p for ids in by_text.values() for p in itertools.combinations(sorted(ids), 2)}
    if not identical <= pairs:
        fail.append(f"{len(identical - pairs)} pairs of identical documents are not LSH candidates")

    minima = component_minima(pairs)
    dropped = {d for d, m in minima.items() if d != m}
    want = set(docs.column("doc_id").to_pylist()) - dropped
    if len(obs.survivors) != docs.num_rows - len(dropped) or set(obs.survivors) != want:
        fail.append(f"{len(obs.survivors)} survivors, expected docs - non-representatives = {len(want)}")

    vpairs = [(a, b) for a, b, _ in obs.vector_pairs]
    if len(set(vpairs)) != len(vpairs) or any(a >= b for a, b in vpairs):
        fail.append("vector near-duplicate pairs are not distinct (a < b) pairs")
    for (a, b, got), cos in zip(obs.vector_pairs, cosines(emb, vpairs)):
        if cos < min_cosine - 1e-6 or abs(got - cos) > 1e-5:
            fail.append(f"vector pair ({a}, {b}) reports cosine {got}, recomputed {cos:.6f}")
            break
    missed = planted_vector_pairs(emb, copies) - set(vpairs)
    if missed:
        fail.append(f"{len(missed)} planted embedding copies are not near-duplicate pairs")
    return fail


def dedup_oracles(docs: pa.Table) -> dict[str, list[tuple]]:
    """The registry's DuckDB oracles for exact dedup (duplicate groups
    only) and MinHash LSH candidate pairs, evaluated over ``docs``."""
    from mistocksync_spark.plans.queries import ORACLES, _docs_cte

    con = duckdb.connect()
    con.register("bench_docs", docs)
    prefix = _docs_cte()

    def run(name: str, where: str = "") -> list[tuple]:
        if not ORACLES[name].startswith(prefix):
            raise ValueError(f"oracle {name!r} no longer starts with the documents CTE")
        sql = "WITH docs AS (SELECT doc_id, text FROM bench_docs)" + ORACLES[name][len(prefix):]
        return con.execute(f"SELECT * FROM ({sql}) {where}").fetchall()

    return {"exact_dedup": run("exact_dedup", "WHERE occurrences > 1"), "minhash_lsh_pairs": run("minhash_lsh_pairs")}


def oracle_dedup(docs: pa.Table, obs: ObservedDedup) -> list[str]:
    """Hash-match the exact groups and the LSH candidate pairs against
    ``dedup_oracles`` over the same documents."""
    want = dedup_oracles(docs)
    got = {"exact_dedup": list(obs.exact_groups), "minhash_lsh_pairs": obs.lsh_pairs}
    return [
        f"{name}: spark {len(got[name])} rows / oracle {len(rows)} rows, digests differ"
        for name, rows in want.items()
        if _digest([tuple(str(v) for v in r) for r in rows]) != _digest([tuple(str(v) for v in r) for r in got[name]])
    ]
