"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs (``digest`` hashes them), and the program under
test only ever sees what these functions write.

- ``corpus_tables``: the ``documents`` and ``embeddings`` tables the
  curation queries read, shaped like the repository's test data
  described in TESTDATA.md (same columns, types and value domains: 10-
  to 100-word documents over a 30-word vocabulary, ~5% of them
  near-duplicates ending in " dup"; unit-norm 64-d embeddings).
- ``crawl_day``: one business day of raw crawl rows in
  ``RAW_PRODUCT_SCHEMA``: Vietnamese price and sales-volume strings,
  duplicate crawl rows, null-id and unparseable-price rows, price
  drift, and new products every day.
- ``trends_csv`` / ``keyword_mapping``: the wide Google-Trends CSV
  (with ``<1`` cells) and the category → keyword mapping.
- ``ingest_plan``: documents split into batches, with earlier documents
  planted again as exact or near duplicates.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)


def _rng(*parts: int) -> np.random.Generator:
    return np.random.default_rng([int(p) & 0xFFFFFFFF for p in parts])


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    return [" ".join(rng.choice(WORDS, k)) for k in lens]


def documents(n: int, seed: int) -> pa.Table:
    """``n`` documents; ~5% are a copy of an earlier one plus " dup"."""
    rng = _rng(seed, 7)
    texts = _doc_texts(rng, n)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = int(rng.integers(0, n))
        if src != i and not texts[src].endswith(" dup"):
            texts[i] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(n: int, seed: int) -> pa.Table:
    """``n`` unit-norm 64-d float32 vectors around 10 labelled centres."""
    rng = _rng(seed, 9)
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[labels] + rng.normal(0.0, 0.6, (n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def corpus_tables(n: int, seed: int) -> dict[str, pa.Table]:
    """The tables the curation queries read, laid out like TESTDATA.md."""
    return {"documents": documents(n, seed), "embeddings": embeddings(n, seed)}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------ crawl days

N_CATEGORIES = 40
ROOT_CATEGORY = 1815
KEYWORDS = [f"kw{i:02d}" for i in range(20)]  # one per mapped category
INVALID_ID_BASE = 90_000_000  # ids of rows whose price never parses


def category_ids() -> list[int]:
    return [2000 + 37 * i for i in range(N_CATEGORIES)]


def keyword_mapping() -> pa.Table:
    """Half of the categories map to an active trends keyword."""
    cats = category_ids()[: len(KEYWORDS)]
    return pa.table(
        {
            "tiki_category_id": pa.array(cats, pa.int64()),
            "trend_keyword": KEYWORDS,
            "is_active": [True] * len(cats),
        }
    )


def trends_csv(ds: str, seed: int, window_days: int = 30) -> str:
    """The wide CSV a trends fetch returns for ``ds``: one row per day of
    the trailing window, one column per keyword, ``<1`` for tiny scores."""
    rng = _rng(seed, 3, dt.date.fromisoformat(ds).toordinal())
    end = dt.date.fromisoformat(ds)
    lines = ["date," + ",".join(KEYWORDS) + ",isPartial"]
    for back in range(window_days - 1, -1, -1):
        day = end - dt.timedelta(days=back)
        scores = rng.integers(0, 101, len(KEYWORDS))
        cells = ["<1" if s < 3 else str(s) for s in scores]
        lines.append(f"{day.isoformat()}," + ",".join(cells) + f",{'True' if back == 0 else 'False'}")
    return "\n".join(lines) + "\n"


# RAW_PRODUCT_SCHEMA as an Arrow schema, in the same column order.
RAW_ARROW_SCHEMA = pa.schema(
    [
        ("product_id", pa.int64()), ("sku", pa.string()), ("name", pa.string()),
        ("url_key", pa.string()), ("product_url", pa.string()), ("brand", pa.string()),
        ("price", pa.string()), ("original_price", pa.string()), ("discount_rate", pa.string()),
        ("rating", pa.float64()), ("review_count", pa.string()), ("quantity_sold", pa.string()),
        ("thumbnail_url", pa.string()), ("seller", pa.string()), ("seller_id", pa.int64()),
        ("seller_logo", pa.string()), ("warehouse_id", pa.int64()), ("badges", pa.list_(pa.string())),
        ("inventory_status", pa.string()), ("category_id", pa.int64()), ("category_name", pa.string()),
        ("root_category_id", pa.int64()), ("category_depth", pa.int64()), ("category_path", pa.string()),
        ("_extracted_at", pa.string()), ("_source_page", pa.int64()), ("_category_url", pa.string()),
        ("_category_name", pa.string()), ("_root_category_id", pa.int64()),
    ]
)


def _vnd(price: int, dotted: bool) -> str:
    return f"{price:,} ₫".replace(",", ".") if dotted else str(price)


def _volume(n: int) -> str:
    return f"Đã bán {n / 1000:.1f}k" if n >= 1000 else f"Đã bán {n}"


def crawl_day(seed: int, day: int, ds: str, base_products: int) -> tuple[pa.Table, set[int]]:
    """Raw crawl rows for business day ``day`` (0-based) dated ``ds``.

    The catalog holds ``base_products`` products plus 2% new ones per
    day; every catalog product is crawled once, ~5% of them twice (a
    later crawl of the same product), plus ~1% rows with a null id and
    ~1% rows whose price never parses.  Returns the rows and the set of
    product ids that must survive the snapshot transform.
    """
    growth = max(1, base_products // 50)
    n_cat = base_products + growth * (day + 1)
    cat_rng = _rng(seed, 11)
    total = base_products + growth * 64  # stable per-product attributes
    base_price = cat_rng.integers(10, 50_000, total) * 1000
    category = cat_rng.integers(0, N_CATEGORIES, total)
    brand = cat_rng.integers(0, 200, total)
    rng = _rng(seed, 13, day)

    ids = np.arange(1, n_cat + 1)
    drift = 1.0 + rng.normal(0.0, 0.03, n_cat)
    price = np.maximum(1000, (base_price[:n_cat] * drift / 1000).astype(np.int64) * 1000)
    dup = np.flatnonzero(rng.random(n_cat) < 0.05)
    n_null = max(1, n_cat // 100)
    n_bad = max(1, n_cat // 100)

    rows_id = np.concatenate([ids, ids[dup], np.full(n_null, -1), INVALID_ID_BASE + day * 1_000_000 + np.arange(n_bad)])
    rows_price = np.concatenate([price, price[dup], price[:n_null], np.zeros(n_bad, np.int64)])
    n = len(rows_id)
    second = np.zeros(n, bool)
    second[n_cat : n_cat + len(dup)] = True
    secs = rng.integers(0, 36_000, n) + np.where(second, 40_000, 0)
    dotted = rng.random(n) < 0.5
    sold = rng.integers(0, 20_000, n)
    day0 = dt.datetime.fromisoformat(ds)

    pid = rows_id.tolist()
    key = np.where((rows_id > 0) & (rows_id < INVALID_ID_BASE), rows_id, 0)
    cat = np.asarray(category_ids())[np.where(key > 0, category[key - 1], 0)].tolist()
    brands = np.where(key > 0, brand[key - 1], 0).tolist()
    prices = rows_price.tolist()
    dots = dotted.tolist()
    sold_l = sold.tolist()
    stamps = [(day0 + dt.timedelta(seconds=s)).strftime("%Y-%m-%dT%H:%M:%SZ") for s in secs.tolist()]
    cols = {
        "product_id": [p if p >= 0 else None for p in pid],
        "sku": [f"SKU{p}" for p in pid],
        "name": [f"San pham {p}" for p in pid],
        "url_key": [f"san-pham-{p}" for p in pid],
        "product_url": [f"https://tiki.vn/san-pham-{p}/p{p}" for p in pid],
        "brand": [f"Brand {b}" for b in brands],
        "price": ["Liên hệ" if p == 0 else _vnd(p, d) for p, d in zip(prices, dots)],
        "original_price": [None if p == 0 else _vnd(p + p // 10, d) for p, d in zip(prices, dots)],
        "discount_rate": ["-9%"] * n,
        "rating": [round(3.0 + (p % 20) / 10.0, 1) for p in pid],
        "review_count": [str(v // 10) for v in sold_l],
        "quantity_sold": [_volume(v) for v in sold_l],
        "thumbnail_url": [f"https://img.tiki.vn/{p}.jpg" for p in pid],
        "seller": [f"Shop {p % 97}" for p in pid],
        "seller_id": [p % 97 for p in pid],
        "seller_logo": [None] * n,
        "warehouse_id": [1] * n,
        "badges": [["tiki_now"] if p % 3 == 0 else [] for p in pid],
        "inventory_status": ["available"] * n,
        "category_id": [c if i % 2 else None for i, c in enumerate(cat)],
        "category_name": [f"Danh muc {c}" for c in cat],
        "root_category_id": [None] * n,
        "category_depth": [None] * n,
        "category_path": [f"{ROOT_CATEGORY} > {c}" for c in cat],
        "_extracted_at": stamps,
        "_source_page": [1 + i % 5 for i in range(n)],
        "_category_url": [f"https://tiki.vn/danh-muc/c{c}" for c in cat],
        "_category_name": [f"Danh muc {c}" for c in cat],
        "_root_category_id": [ROOT_CATEGORY] * n,
    }
    order = rng.permutation(n)
    table = pa.table(cols, schema=RAW_ARROW_SCHEMA).take(order)
    return table, set(ids.tolist())


# ---------------------------------------------------------- ingest chain

def ingest_plan(docs: pa.Table, n_batches: int, seed: int) -> list[pa.Table]:
    """Split ``docs`` into ``n_batches`` batches in a seeded order, and
    plant into each later batch a few earlier documents again: as exact
    copies (new doc_id, same text) and as near copies (one word changed).
    """
    rng = _rng(seed, 5)
    n = docs.num_rows
    order = rng.permutation(n)
    texts = docs.column("text").to_pylist()
    parts = np.array_split(order, n_batches)
    next_id = n
    batches = []
    for b, idx in enumerate(parts):
        ids = docs.column("doc_id").to_numpy()[idx].tolist()
        body = [texts[i] for i in idx]
        if b:
            seen = np.concatenate(parts[:b])
            for j, src in enumerate(rng.choice(seen, max(2, len(idx) // 20), replace=False)):
                words = texts[src].split()
                if j % 2:
                    words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
                ids.append(next_id)
                body.append(" ".join(words))
                next_id += 1
        batches.append(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": body}))
    return batches


def digest(*items) -> str:
    """sha256 over tables (their IPC bytes) and plain values."""
    h = hashlib.sha256()
    for item in items:
        if isinstance(item, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, item.schema) as w:
                w.write_table(item)
            h.update(sink.getvalue().to_pybytes())
        else:
            h.update(repr(item).encode())
    return h.hexdigest()
