"""Seeded input generator for the sync-lifecycle benchmark.

Every input the program reads is written here from ``--seed``; the program
only ever sees the files.  The same seed gives byte-identical files and a
different seed gives different files.

- Catalog: a TPC-H-shaped ``part`` table (the vocabulary of
  ``tools/gen_scaledata.py``) with seeded names and list prices.
- Base: the catalog pushed through the registry's ``BASE_FEED_SQL`` (the
  master-table shape every cascade oracle is written against), as parquet.
- Supplier price lists: a seeded sample of catalog keys plus seeded
  unknown articles, with seeded price moves, pushed through
  ``SUPPLIER_FEED_SQL`` and written with the vitya price-list headers —
  CSV through pyarrow, ``.xlsx`` through the small writer below.
- Corpus: ``documents``-shaped word salad over the scale ladder's
  vocabulary with planted exact and one-word near duplicates, pushed
  through the registry's ``DOCS_AUG_SQL`` (tail near-duplicates and exact
  copies), as parquet.
- Embeddings: Gaussian clusters in 64 dimensions plus exact and positively
  scaled copies (the shape ``feeds.emb_aug`` plants), as parquet.
"""

from __future__ import annotations

import zipfile
from xml.sax.saxutils import escape

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from mistocksync_spark.plans.feeds import BASE_FEED_SQL, DOCS_AUG_SQL, SUPPLIER_FEED_SQL
from tools.gen_scaledata import ADJ, NOUN, VOCAB

# Vitya price-list headers (configs/vitya_config.json): the reader's column
# mapping turns them into the canonical feed names.  ``article_raw`` and
# ``balance1`` are unmapped and pass through; ``Unnamed: 8`` is an ignored
# column the reader drops.
SUPPLIER_HEADERS = {
    "row_id": "row_id",
    "article_num": "курс",
    "article_raw": "article_raw",
    "name": "Unnamed: 1",
    "color": "Unnamed: 2",
    "price_usd": "Unnamed: 3",
    "balance": "Unnamed: 6",
    "balance1": "balance1",
}
IGNORED_HEADER = "Unnamed: 8"

# Seeded supplier price moves on top of the feed's own per-key markup.
PRICE_MOVES = np.array([1.0, 1.0, 1.0, 1.0, 1.02, 0.98, 1.1, 0.9, 1.3, 0.75])

_ZIP_DATE = (1980, 1, 1, 0, 0, 0)


def _names(rng: np.random.Generator, n: int) -> list[str]:
    a = rng.integers(0, len(ADJ), n)
    b = rng.integers(0, len(NOUN), n)
    return [f"{ADJ[i]} {NOUN[j]}" for i, j in zip(a, b)]


def catalog(rng: np.random.Generator, n_part: int) -> pa.Table:
    """``part``-shaped catalog: the only columns the feeds read."""
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": _names(rng, n_part),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
        }
    )


def base_table(part: pa.Table) -> pa.Table:
    con = duckdb.connect()
    con.register("part", part)
    return con.execute(f"SELECT * FROM ({BASE_FEED_SQL}) ORDER BY row_id").arrow()


def supplier_feed(
    rng: np.random.Generator, part: pa.Table, n_rows: int, unknown_share: float = 0.1
) -> pa.Table:
    """A price list of ``n_rows`` rows in file order, with the canonical
    feed column names: distinct catalog keys plus ``unknown_share`` keys
    the catalog has never seen, each with a seeded price move.  ``row_id``
    is the position in the list."""
    n_part = part.num_rows
    n_unknown = int(n_rows * unknown_share)
    known = rng.choice(n_part, n_rows - n_unknown, replace=False)
    unknown = n_part + rng.choice(4 * n_part, n_unknown, replace=False)
    keys = np.concatenate([known, unknown]).astype("int64")
    rng.shuffle(keys)
    list_price = np.asarray(part.column("p_retailprice"))
    price = np.where(
        keys < n_part, list_price[np.minimum(keys, n_part - 1)], 900.0 + rng.integers(0, 1000, n_rows) / 10.0
    )
    price = np.round(price * PRICE_MOVES[rng.integers(0, len(PRICE_MOVES), n_rows)], 1)
    names = np.asarray(part.column("p_name").to_pylist() + _names(rng, 4 * n_part), dtype=object)
    sub = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(names[keys].tolist(), pa.string()),
            "p_retailprice": price,
            "pos": pa.array(np.arange(n_rows, dtype="int64")),
        }
    )
    con = duckdb.connect()
    con.register("part", sub)
    return con.execute(
        f"SELECT f.* REPLACE (p.pos AS row_id) FROM ({SUPPLIER_FEED_SQL}) f "
        "JOIN part p ON f.row_id = p.p_partkey ORDER BY p.pos"
    ).arrow()


def price_list(feed: pa.Table) -> pa.Table:
    """The feed under the vitya price-list headers, plus an ignored column."""
    cols = {SUPPLIER_HEADERS[c]: feed.column(c) for c in SUPPLIER_HEADERS}
    cols[IGNORED_HEADER] = pa.array(["x"] * feed.num_rows)
    return pa.table(cols)


def write_csv(feed: pa.Table, path: str) -> None:
    pacsv.write_csv(price_list(feed), path)


def _cell(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(value)}</t></is></c>'


def _col_letter(i: int) -> str:
    out = ""
    while i > 0:
        i, rem = divmod(i - 1, 26)
        out = chr(65 + rem) + out
    return out


def write_xlsx(feed: pa.Table, path: str) -> None:
    """The price list as a one-sheet workbook: header row plus one row per
    list row, inline strings, no styles.  Fixed zip timestamps keep the
    bytes a function of the seed alone; the report writer in
    ``sinks.excel`` stamps the current time, and the inputs should not
    depend on the code under test anyway."""
    table = price_list(feed)
    letters = [_col_letter(i + 1) for i in range(table.num_columns)]
    rows = [list(table.column_names)] + [list(r.values()) for r in table.to_pylist()]
    body = "".join(
        f'<row r="{r}">' + "".join(_cell(f"{c}{r}", v) for c, v in zip(letters, row)) + "</row>"
        for r, row in enumerate(rows, start=1)
    )
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="prices" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{body}</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w") as z:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_DATE)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text)


def corpus(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """``(doc_id, text)``: ``n_docs`` documents of 10–100 words drawn from
    the scale ladder's closed vocabulary, ``n_docs // 500`` of them
    overwritten by an exact copy and as many by a one-word mutation of
    another document, then augmented by ``DOCS_AUG_SQL``."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n_docs)]
    for _ in range(max(4, n_docs // 500)):
        src, dst = rng.integers(0, n_docs, 2)
        texts[dst] = texts[src]
        src, dst = rng.integers(0, n_docs, 2)
        words = texts[src].split()
        words[rng.integers(0, len(words))] = str(vocab[rng.integers(0, len(vocab))])
        texts[dst] = " ".join(words)
    documents = pa.table({"doc_id": pa.array(np.arange(n_docs, dtype="int64")), "text": texts})
    con = duckdb.connect()
    con.register("documents", documents)
    return con.execute(f"SELECT * FROM ({DOCS_AUG_SQL}) ORDER BY doc_id").arrow()


# planted embedding copies: id offset → (every k-th vector, scale)
EMBEDDING_COPIES = {1_000_000: (20, 1.0), 2_000_000: (30, 2.0)}


def embeddings(rng: np.random.Generator, n_vectors: int, dim: int = 64, n_clusters: int = 10) -> pa.Table:
    """``(vec_id, embedding)``: ``n_vectors`` float32 vectors around
    ``n_clusters`` Gaussian centres, plus the copies in
    ``EMBEDDING_COPIES`` (cosine 1 with their source)."""
    centres = rng.normal(0.0, 0.15, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n_vectors)
    vecs = (centres[label] + rng.normal(0.0, 0.08, (n_vectors, dim))).clip(-0.577, 0.577).astype("float32")
    ids = np.arange(n_vectors, dtype="int64")
    all_ids, all_vecs = [ids], [vecs]
    for offset, (every, scale) in EMBEDDING_COPIES.items():
        src = ids[ids % every == 0]
        all_ids.append(src + offset)
        all_vecs.append(vecs[src] * np.float32(scale))
    flat = np.concatenate(all_vecs).reshape(-1)
    return pa.table(
        {
            "vec_id": pa.array(np.concatenate(all_ids)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(flat, pa.float32()), dim).cast(
                pa.list_(pa.float32())
            ),
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")
