"""Seeded input generators. Everything here is a pure function of
``numpy.random.Generator`` state: the same seed gives the same files.

Three input families:

* ``warehouse_csvs``: the reference CSV layout (``schemas.CSV_SCHEMAS``)
  with planted null keys, exact duplicate rows and Cancelled/Returned
  orders — the input of ``pipeline.run_pipeline``.
* ``tpch_tables`` / ``ingest_batch``: TPC-H-shaped parquet tables with
  the column types of the engine's reference testdata, plus the daily
  write batches of the ingest workload.
* ``corpus``: a document corpus with planted exact duplicates,
  near-duplicates, eval-set overlaps and quality failures, its held-out
  eval set and an extension batch.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# ------------------------------------------------------------- helpers


def zipf_choice(rng, n: int, size: int, perm: np.ndarray | None = None,
                s: float = 0.8) -> np.ndarray:
    """``size`` draws from 1..n with P(rank k) ∝ k^-s; ranks map to keys
    through ``perm`` (a seeded permutation when not given), so popular
    keys are spread over the key range."""
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    ranks = rng.choice(n, size=size, p=w / w.sum())
    if perm is None:
        perm = rng.permutation(n)
    return perm[ranks] + 1


def cents(rng, lo: float, hi: float, size: int) -> np.ndarray:
    """Money as whole cents: every value is exact at two decimals, so
    the program's DECIMAL(18,2) casts and DuckDB's agree bit for bit."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=size)


def money_str(c: np.ndarray) -> list[str]:
    return [f"{v // 100}.{v % 100:02d}" for v in c.tolist()]


def write_parquet_dir(table: pa.Table, path: str, n_files: int = 1) -> None:
    """A table as a directory of ``n_files`` parquet files, the layout
    Spark writes and appends into."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


# ------------------------------------------------ warehouse CSV layout

WAREHOUSE_SIZES = {
    # name: (categories, products, customers, orders, items)
    "tiny": (12, 60, 300, 1_000, 3_000),
    "full": (30, 1_000, 3_000, 6_000, 18_000),
}

STATUSES = ("Pending", "Processing", "Shipped", "In Transit",
            "Delivered", "Cancelled", "Returned")
STATUS_P = (0.08, 0.08, 0.17, 0.10, 0.42, 0.09, 0.06)
PAYMENTS = ("Credit Card", "PayPal", "Apple Pay", "Google Pay",
            "Gift Card", "Bank Transfer")


def _ts_strings(rng, start: dt.datetime, days: int, size: int) -> list[str]:
    secs = rng.integers(0, days * 86_400, size=size)
    return [
        (start + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S")
        for s in secs
    ]


def _plant(columns: dict[str, list], key_cols: list[str], rng,
           n_null: int, n_dup: int, next_id: int, id_col: str) -> dict:
    """Append ``n_dup`` exact copies of random rows and ``n_null`` rows
    with one key column blanked (fresh ids, referenced by nothing)."""
    n = len(columns[id_col])
    for i in rng.integers(0, n, size=n_dup).tolist():
        for c in columns:
            columns[c].append(columns[c][i])
    for k in range(n_null):
        src = int(rng.integers(0, n))
        for c in columns:
            columns[c].append(columns[c][src])
        columns[id_col][-1] = str(next_id + k)
        blank = key_cols[k % len(key_cols)]
        columns[blank][-1] = None
    return columns


def _write_csv(columns: dict[str, list], path: str, rng) -> None:
    n = len(next(iter(columns.values())))
    order = rng.permutation(n)
    table = pa.table({c: pa.array([v[i] for i in order], pa.string())
                      for c, v in columns.items()})
    pacsv.write_csv(
        table, path, pacsv.WriteOptions(quoting_style="needed")
    )


def warehouse_csvs(rng, out_dir: str, size: str) -> dict[str, int]:
    """Write the five reference CSVs; returns the clean row counts."""
    n_cat, n_prod, n_cust, n_ord, n_item = WAREHOUSE_SIZES[size]
    os.makedirs(out_dir, exist_ok=True)
    start = dt.datetime(2021, 1, 1)

    cat_ids = list(range(1, n_cat + 1))
    roots = max(1, n_cat // 5)
    cats = {
        "category_id": [str(i) for i in cat_ids],
        "name": [f"category {i}" for i in cat_ids],
        "description": [f"things of kind {i}" for i in cat_ids],
        "parent_id": [None if i <= roots else str(int(rng.integers(1, roots + 1)))
                      for i in cat_ids],
        "created_at": _ts_strings(rng, start, 30, n_cat),
    }

    price_c = cents(rng, 1, 500, n_prod)
    prods = {
        "product_id": [str(i) for i in range(1, n_prod + 1)],
        "name": [f"product {i}" for i in range(1, n_prod + 1)],
        "description": [f"a fine product number {i}" for i in range(1, n_prod + 1)],
        "price": money_str(price_c),
        "cost": money_str(price_c // 2),
        "category_id": [str(v) for v in rng.integers(1, n_cat + 1, n_prod).tolist()],
        "sku": [f"SKU-{i:07d}" for i in range(1, n_prod + 1)],
        "inventory_count": [str(v) for v in rng.integers(0, 1000, n_prod).tolist()],
        "weight": money_str(cents(rng, 0.1, 40, n_prod)),
        "created_at": _ts_strings(rng, start, 365, n_prod),
        "is_active": ["true" if v else "false"
                      for v in (rng.random(n_prod) < 0.9).tolist()],
    }

    custs = {
        "customer_id": [str(i) for i in range(1, n_cust + 1)],
        "email": [f"user{i}@example.com" for i in range(1, n_cust + 1)],
        "first_name": [f"First{i % 97}" for i in range(1, n_cust + 1)],
        "last_name": [f"Last{i % 89}" for i in range(1, n_cust + 1)],
        "street_address": [f"{i} Main Street" for i in range(1, n_cust + 1)],
        "city": [f"City{i % 50}" for i in range(1, n_cust + 1)],
        "state": [f"S{i % 40}" for i in range(1, n_cust + 1)],
        "zip_code": [f"{10000 + i % 9000}" for i in range(1, n_cust + 1)],
        "country": ["US"] * n_cust,
        "phone": [f"555-{i:07d}" for i in range(1, n_cust + 1)],
        "registration_date": _ts_strings(rng, start, 365, n_cust),
        "last_login": _ts_strings(rng, start, 1800, n_cust),
    }

    status = rng.choice(len(STATUSES), size=n_ord, p=STATUS_P)
    ord_ts = _ts_strings(rng, start, 1826, n_ord)
    orders = {
        "order_id": [str(i) for i in range(1, n_ord + 1)],
        "customer_id": [str(v) for v in zipf_choice(rng, n_cust, n_ord).tolist()],
        "order_date": ord_ts,
        "status": [STATUSES[s] for s in status.tolist()],
        "payment_method": [PAYMENTS[p] for p in rng.integers(0, 6, n_ord).tolist()],
        "shipping_address": [f"{i} Ship Road" for i in range(1, n_ord + 1)],
        "shipping_city": [f"City{i % 50}" for i in range(1, n_ord + 1)],
        "shipping_state": [f"S{i % 40}" for i in range(1, n_ord + 1)],
        "shipping_zip": [f"{20000 + i % 9000}" for i in range(1, n_ord + 1)],
        "shipping_country": ["US"] * n_ord,
        "processing_date": [t if s >= 1 else None
                            for t, s in zip(ord_ts, status.tolist())],
        "shipping_date": [None] * n_ord,
        "delivery_date": [None] * n_ord,
        "total_amount": money_str(cents(rng, 5, 2000, n_ord)),
    }

    item_prod = rng.integers(1, n_prod + 1, n_item)
    items = {
        "order_item_id": [str(i) for i in range(1, n_item + 1)],
        "order_id": [str(v) for v in rng.integers(1, n_ord + 1, n_item).tolist()],
        "product_id": [str(v) for v in item_prod.tolist()],
        "quantity": [str(v) for v in rng.integers(1, 6, n_item).tolist()],
        "price": [money_str(price_c[p - 1:p])[0] for p in item_prod.tolist()],
        "discount": money_str(cents(rng, 0, 5, n_item)),
        # deliberately wrong: the pipeline must recompute it (quirk Q6)
        "total": money_str(cents(rng, 0, 99, n_item)),
    }

    def share(n: int) -> int:
        return max(2, n // 100)  # 1 %, at least 2

    # NULL keys in every table; exact duplicate rows in customers only:
    # the pipeline feeds its derived tables the other tables before
    # de-duplication (so it would count duplicates twice), and writes
    # orders with a plain partitioned write that keeps them
    _plant(cats, ["category_id", "name"], rng, share(n_cat), 0,
           n_cat + 1, "category_id")
    _plant(prods, ["product_id", "name", "price"], rng, share(n_prod), 0,
           n_prod + 1, "product_id")
    _plant(custs, ["customer_id", "email"], rng, share(n_cust), share(n_cust),
           n_cust + 1, "customer_id")
    _plant(orders, ["order_id", "customer_id", "order_date"], rng,
           share(n_ord), 0, n_ord + 1, "order_id")
    _plant(items, ["order_item_id", "order_id", "product_id"], rng,
           share(n_item), 0, n_item + 1, "order_item_id")

    for name, cols in (("product_categories", cats), ("products", prods),
                       ("customers", custs), ("orders", orders),
                       ("order_items", items)):
        _write_csv(cols, os.path.join(out_dir, f"{name}.csv"), rng)
    return {"orders": n_ord, "order_items": n_item}


# ------------------------------------------------- TPC-H-shaped tables

TPCH_SIZES = {
    # name: (orders, parts, customers)
    "tiny": (2_000, 200, 300),
    "full": (20_000, 1_000, 2_000),
}
DAY0 = dt.date(1992, 1, 1)
N_DAYS = 2_405  # 1992-01-01 .. 1998-08-02, the TPC-H order window
BRANDS = tuple(f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6))
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
TS = pa.timestamp("us")


def _dates(day_offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(DAY0.isoformat(), "us")
    return pa.array(base + day_offsets.astype("timedelta64[D]"), TS)


def _orders_table(rng, keys: np.ndarray, cust: np.ndarray,
                  days: np.ndarray) -> pa.Table:
    n = len(keys)
    status = rng.choice(3, size=n, p=(0.48, 0.48, 0.04))
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[status]),
        "o_totalprice": pa.array(cents(rng, 900, 500_000, n) / 100.0),
        "o_orderdate": _dates(days),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def _lineitem_table(rng, okeys: np.ndarray, odays: np.ndarray,
                    n_parts: int, retail_c: np.ndarray) -> pa.Table:
    per = rng.integers(1, 8, size=len(okeys))
    lk = np.repeat(okeys, per)
    ld = np.repeat(odays, per)
    starts = np.cumsum(per) - per
    line = np.arange(len(lk)) - np.repeat(starts, per) + 1
    n = len(lk)
    part = rng.integers(1, n_parts + 1, n)
    qty = rng.integers(1, 51, n)
    return pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
        "l_linenumber": pa.array(line, pa.int32()),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": pa.array(qty * retail_c[part - 1] / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _dates(ld + rng.integers(1, 122, n)),
    })


@dataclass
class Tpch:
    tables: dict[str, pa.Table]
    n_parts: int
    n_customers: int
    retail_c: np.ndarray
    cust_perm: np.ndarray  # popularity rank -> customer index
    next_orderkey: int
    next_day: int  # first day offset after the generated window


def tpch_tables(rng, size: str) -> Tpch:
    n_ord, n_parts, n_cust = TPCH_SIZES[size]
    retail_c = cents(rng, 900, 2_000, n_parts)
    cust_perm = rng.permutation(n_cust)
    okeys = np.arange(1, n_ord + 1)
    days = rng.integers(0, N_DAYS, n_ord)
    orders = _orders_table(
        rng, okeys, zipf_choice(rng, n_cust, n_ord, cust_perm), days)
    lineitem = _lineitem_table(rng, okeys, days, n_parts, retail_c)
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, n_parts + 1), pa.int64()),
        "p_name": pa.array([f"part {i} {('ivory', 'olive', 'navy', 'rose')[i % 4]}"
                            for i in range(1, n_parts + 1)]),
        "p_brand": pa.array(np.array(BRANDS)[rng.integers(0, 25, n_parts)]),
        "p_type": pa.array([f"TYPE {i % 150}" for i in range(n_parts)]),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": pa.array(retail_c / 100.0),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(cents(rng, -999, 9_999, n_cust) / 100.0),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)]),
    })
    return Tpch(
        {"orders": orders, "lineitem": lineitem, "part": part,
         "customer": customer},
        n_parts, n_cust, retail_c, cust_perm, n_ord + 1, N_DAYS,
    )


def write_tpch(t: Tpch, sf_dir: str) -> None:
    """Each table as ``<sf_dir>/<name>.parquet/``; the facts in four
    files so a scan has more than one split."""
    for name, table in t.tables.items():
        n_files = 4 if name in ("orders", "lineitem") else 1
        write_parquet_dir(table, os.path.join(sf_dir, f"{name}.parquet"), n_files)


@dataclass
class Batch:
    day: int  # day offset from DAY0
    orders: pa.Table  # new orders, all dated ``day``
    lineitem: pa.Table  # their line items
    status_changes: pa.Table  # earlier orders, full rows, new status
    as_of: str = field(init=False)

    def __post_init__(self) -> None:
        self.as_of = (DAY0 + dt.timedelta(days=self.day)).isoformat()


def ingest_batch(rng, t: Tpch, current_orders: pa.Table, n_new: int,
                 n_changes: int) -> Batch:
    """The next day's batch: ``n_new`` orders dated the day after the
    last one, their items, and status changes of ``n_changes`` earlier
    orders (open orders fulfilled, fulfilled orders reopened)."""
    day = t.next_day
    keys = np.arange(t.next_orderkey, t.next_orderkey + n_new)
    days = np.full(n_new, day)
    orders = _orders_table(
        rng, keys, zipf_choice(rng, t.n_customers, n_new, t.cust_perm), days)
    items = _lineitem_table(rng, keys, days, t.n_parts, t.retail_c)
    pick = rng.choice(current_orders.num_rows, size=n_changes, replace=False)
    changed = current_orders.take(pa.array(np.sort(pick)))
    flipped = np.where(
        np.array(changed.column("o_orderstatus").to_pylist()) == "F", "O", "F"
    )
    changed = changed.set_column(
        changed.schema.get_field_index("o_orderstatus"), "o_orderstatus",
        pa.array(flipped),
    )
    t.next_day += 1
    t.next_orderkey += n_new
    return Batch(day, orders, items, changed)


# ------------------------------------------------------------- corpus

CORPUS_SIZES = {
    # name: (base docs, extension docs, eval docs)
    "tiny": (300, 60, 20),
    "full": (600, 120, 50),
}
# function words, most frequent first, drawn with P(k-th) ∝ 1/k as in
# English text ("the" alone is ~6% of the words of a document)
STOPWORDS = ("the", "of", "and", "to", "a", "in", "is", "that", "for",
             "it", "with", "as", "on", "was", "by")
_STOP_P = 1.0 / np.arange(1, len(STOPWORDS) + 1)
_STOP_P /= _STOP_P.sum()
# share of each planted kind, relative to the fresh documents
PLANT_SHARES = {"exact": 0.05, "near": 0.05, "contaminated": 0.03,
                "low_quality": 0.02}


@dataclass
class Corpus:
    base: pa.Table  # doc_id, text, source
    batch: pa.Table  # the extension, ids above every base id
    eval: pa.Table  # doc_id, text — the held-out set
    kinds: dict[int, str]  # doc_id -> planted kind, absent = fresh
    near_pairs: list[tuple[int, int]]  # (original, near-duplicate)


def _vocab(rng, n: int = 4_000) -> np.ndarray:
    syll = np.array(["ka", "lo", "mi", "ren", "tu", "sa", "vo", "pel",
                     "dri", "ost", "an", "ju", "bex", "qua", "nim", "tor"])
    words = {"".join(syll[rng.integers(0, len(syll), rng.integers(2, 4))])
             for _ in range(n * 2)}
    return np.array(sorted(words - set(STOPWORDS)))[:n]


def _text(rng, vocab: np.ndarray, n_words: int) -> list[str]:
    words = vocab[rng.integers(0, len(vocab), n_words)]
    stops = rng.random(n_words) < 0.25
    words[stops] = np.array(STOPWORDS)[
        rng.choice(len(STOPWORDS), size=int(stops.sum()), p=_STOP_P)]
    return words.tolist()


def _docs(rng, vocab, start_id: int, n_fresh: int, pool: list[str],
          eval_texts: list[str], kinds: dict, near_pairs: list,
          pool_ids: list[int]) -> tuple[list[int], list[str]]:
    """``n_fresh`` fresh documents followed by the planted kinds, with
    ids counting up from ``start_id`` — every plant's id is above its
    original's, so a min-id keep policy keeps the original."""
    ids, texts = [], []

    def add(text: str, kind: str | None) -> int:
        did = start_id + len(ids)
        ids.append(did)
        texts.append(text)
        if kind:
            kinds[did] = kind
        return did

    for _ in range(n_fresh):
        add(" ".join(_text(rng, vocab, int(rng.integers(120, 200)))), None)
    src_ids, src_texts = pool_ids + ids, pool + texts
    n = {k: max(2, int(round(v * n_fresh))) for k, v in PLANT_SHARES.items()}
    for _ in range(n["exact"]):
        i = int(rng.integers(0, len(src_ids)))
        add(src_texts[i], "exact")
    for _ in range(n["near"]):
        i = int(rng.integers(0, len(src_ids)))
        words = src_texts[i].split(" ")
        for pos in rng.choice(len(words), size=2, replace=False).tolist():
            words[pos] = vocab[int(rng.integers(0, len(vocab)))]
        near_pairs.append((src_ids[i], add(" ".join(words), "near")))
    for _ in range(n["contaminated"]):
        ev = eval_texts[int(rng.integers(0, len(eval_texts)))].split(" ")
        lo = int(rng.integers(0, len(ev) - 20))
        words = _text(rng, vocab, 120)
        at = int(rng.integers(0, len(words)))
        add(" ".join(words[:at] + ev[lo:lo + 20] + words[at:]), "contaminated")
    for _ in range(n["low_quality"]):
        add(" ".join(_text(rng, vocab, 3)), "low_quality")
    return ids, texts


def corpus(rng, size: str) -> Corpus:
    n_base, n_ext, n_eval = CORPUS_SIZES[size]
    vocab = _vocab(rng)
    eval_texts = [" ".join(_text(rng, vocab, 60)) for _ in range(n_eval)]
    kinds: dict[int, str] = {}
    near: list[tuple[int, int]] = []
    b_ids, b_texts = _docs(rng, vocab, 1, n_base, [], eval_texts, kinds, near, [])
    # batch plants copy fresh documents only, from either side
    e_ids, e_texts = _docs(rng, vocab, b_ids[-1] + 1, n_ext,
                           b_texts[:n_base], eval_texts, kinds, near,
                           b_ids[:n_base])
    sources = np.array(["web", "books", "code"])

    def table(ids, texts):
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "source": pa.array(sources[rng.integers(0, 3, len(ids))]),
        })

    return Corpus(
        table(b_ids, b_texts), table(e_ids, e_texts),
        pa.table({"doc_id": pa.array(range(1, n_eval + 1), pa.int64()),
                  "text": pa.array(eval_texts)}),
        kinds, near,
    )
