"""Correctness checks, each computed apart from the program: DuckDB SQL
written here over the same generated files, a Python calendar, and the
benchmark's own model of the planted corpus.

Every check returns a list of error strings (empty = correct), so the
corruption tests can run the same functions on damaged copies.

Money is compared in whole cents: every generated price, discount and
quantity is exact at two decimals, so an integer-cents sum is the exact
answer the program's DECIMAL arithmetic must reproduce.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import pyarrow as pa
import pyarrow.dataset as pads

# ----------------------------------------------------------- helpers

# (a EXCEPT ALL b) ∪ (b EXCEPT ALL a): rows only one side has, with
# multiplicity — a dropped, duplicated or altered row all count
_DIFF = """
    SELECT count(*) FROM (
        (SELECT * FROM ({a}) EXCEPT ALL SELECT * FROM ({b}))
        UNION ALL
        (SELECT * FROM ({b}) EXCEPT ALL SELECT * FROM ({a}))
    )
"""


def diff_rows(con, a: str, b: str) -> int:
    return con.execute(_DIFF.format(a=a, b=b)).fetchone()[0]


def parquet_scan(path: str) -> str:
    """A DuckDB scan of a Spark-written table directory (partitioned or
    not); checksum and marker files are skipped by the glob."""
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning=true, "
            f"union_by_name=true)")


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # a cent is 0.01; doubles of these magnitudes are exact far
        # below that
        return math.isclose(a, b, rel_tol=0.0, abs_tol=1e-6)
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


# ------------------------------------------------ warehouse (etl_backfill)

# The reference DDL's column types, as DuckDB types.
CSV_TYPES = {
    "product_categories": {
        "category_id": "INTEGER", "name": "VARCHAR", "description": "VARCHAR",
        "parent_id": "INTEGER", "created_at": "TIMESTAMP",
    },
    "products": {
        "product_id": "INTEGER", "name": "VARCHAR", "description": "VARCHAR",
        "price": "DECIMAL(10,2)", "cost": "DECIMAL(10,2)",
        "category_id": "INTEGER", "sku": "VARCHAR", "inventory_count": "INTEGER",
        "weight": "DECIMAL(8,2)", "created_at": "TIMESTAMP", "is_active": "BOOLEAN",
    },
    "customers": {
        "customer_id": "INTEGER", "email": "VARCHAR", "first_name": "VARCHAR",
        "last_name": "VARCHAR", "street_address": "VARCHAR", "city": "VARCHAR",
        "state": "VARCHAR", "zip_code": "VARCHAR", "country": "VARCHAR",
        "phone": "VARCHAR", "registration_date": "TIMESTAMP",
        "last_login": "TIMESTAMP",
    },
    "orders": {
        "order_id": "INTEGER", "customer_id": "INTEGER", "order_date": "TIMESTAMP",
        "status": "VARCHAR", "payment_method": "VARCHAR",
        "shipping_address": "VARCHAR", "shipping_city": "VARCHAR",
        "shipping_state": "VARCHAR", "shipping_zip": "VARCHAR",
        "shipping_country": "VARCHAR", "processing_date": "TIMESTAMP",
        "shipping_date": "TIMESTAMP", "delivery_date": "TIMESTAMP",
        "total_amount": "DECIMAL(12,2)",
    },
    "order_items": {
        "order_item_id": "INTEGER", "order_id": "INTEGER", "product_id": "INTEGER",
        "quantity": "INTEGER", "price": "DECIMAL(10,2)",
        "discount": "DECIMAL(10,2)", "total": "DECIMAL(10,2)",
    },
}
# key columns whose NULL drops a row (the reference's dropna subsets)
KEYS = {
    "product_categories": ("category_id", "name"),
    "products": ("product_id", "name", "price"),
    "customers": ("customer_id", "email"),
    "orders": ("order_id", "customer_id", "order_date"),
    "order_items": ("order_item_id", "order_id", "product_id"),
}
IDEMPOTENT_TABLES = ("product_categories", "products", "customers", "order_items")
WAREHOUSE_TABLES = (
    "dim_time", "product_categories", "products", "orders", "customers",
    "order_items", "daily_sales_aggregation", "product_sales_summary",
)


def warehouse_expected(con, csv_dir: str) -> None:
    """Register ``x_<table>``: each input table as the warehouse should
    hold it, from the CSVs alone."""
    for name, types in CSV_TYPES.items():
        cols = ", ".join(f"'{c}': '{t}'" for c, t in types.items())
        keep = " AND ".join(f"{k} IS NOT NULL" for k in KEYS[name])
        con.execute(f"""
            CREATE OR REPLACE TABLE raw_{name} AS
            SELECT DISTINCT * FROM read_csv('{csv_dir}/{name}.csv',
                header=true, columns={{{cols}}})
            WHERE {keep}""")
    con.execute("CREATE OR REPLACE VIEW x_product_categories AS "
                "SELECT * FROM raw_product_categories")
    con.execute("CREATE OR REPLACE VIEW x_products AS SELECT * FROM raw_products")
    con.execute("CREATE OR REPLACE VIEW x_orders AS SELECT * FROM raw_orders")
    # the stored total is wrong on purpose: the warehouse holds
    # price * quantity - discount, in cents here
    con.execute("""
        CREATE OR REPLACE VIEW x_order_items AS
        SELECT * EXCLUDE (total),
               CAST(round(price * 100) AS BIGINT) * quantity
                 - CAST(round(discount * 100) AS BIGINT) AS total_cents
        FROM raw_order_items""")
    # lifetime value sums every order of the customer, any status
    con.execute("""
        CREATE OR REPLACE VIEW x_customers AS
        SELECT c.*, coalesce(lv.cents, 0) AS lifetime_cents
        FROM raw_customers c LEFT JOIN (
            SELECT customer_id,
                   sum(CAST(round(total_amount * 100) AS BIGINT)) AS cents
            FROM raw_orders GROUP BY customer_id) lv USING (customer_id)""")
    # the daily rollup: every loaded item, whatever its order's status
    con.execute("""
        CREATE OR REPLACE VIEW x_daily_sales_aggregation AS
        SELECT CAST(o.order_date AS DATE) AS date, i.product_id, p.category_id,
               sum(i.quantity) AS units, sum(i.total_cents) AS rev_cents,
               count(DISTINCT i.order_id) AS order_count
        FROM x_order_items i
        LEFT JOIN x_orders o USING (order_id)
        LEFT JOIN x_products p USING (product_id)
        GROUP BY ALL""")
    # the product summary: only orders not Cancelled/Returned
    con.execute("""
        CREATE OR REPLACE VIEW x_product_sales_summary AS
        SELECT p.product_id, p.name AS product_name, c.name AS category_name,
               sum(i.quantity) AS units, sum(i.total_cents) AS rev_cents,
               count(DISTINCT i.order_id) AS order_count,
               count(DISTINCT o.customer_id) AS unique_customers,
               max(o.order_date) AS last_order_date
        FROM x_products p
        LEFT JOIN x_product_categories c USING (category_id)
        JOIN x_order_items i USING (product_id)
        JOIN x_orders o USING (order_id)
        WHERE o.status NOT IN ('Cancelled', 'Returned')
        GROUP BY ALL""")


def dim_time_rows(start: dt.date, end: dt.date) -> pa.Table:
    """The reference calendar from Python's own calendar: Mon=1..Sun=7,
    ISO weeks, English month names, no holidays."""
    days = [start + dt.timedelta(days=i) for i in range((end - start).days + 1)]
    return pa.table({
        "date": days,
        "day_of_week": [d.isoweekday() for d in days],
        "day_of_month": [d.day for d in days],
        "day_of_year": [d.timetuple().tm_yday for d in days],
        "week_of_year": [d.isocalendar()[1] for d in days],
        "month": [d.month for d in days],
        "month_name": [d.strftime("%B") for d in days],
        "quarter": [(d.month - 1) // 3 + 1 for d in days],
        "year": [d.year for d in days],
        "is_weekend": [d.isoweekday() >= 6 for d in days],
        "is_holiday": [False] * len(days),
    })


def _canon(name: str, rel: str, extra: str = "") -> str:
    """Project a warehouse table or its expectation onto comparable
    columns: money as whole cents, integers as BIGINT; ``extra`` appends
    columns."""
    if name == "product_categories":
        return (f"SELECT category_id::BIGINT, name, description, "
                f"parent_id::BIGINT, created_at FROM {rel}")
    if name == "products":
        return (f"SELECT product_id::BIGINT, name, description, "
                f"round(price * 100)::BIGINT, round(cost * 100)::BIGINT, "
                f"category_id::BIGINT, sku, inventory_count::BIGINT, "
                f"round(weight * 100)::BIGINT, created_at, is_active FROM {rel}")
    if name == "orders":
        return (f"SELECT order_id::BIGINT, customer_id::BIGINT, order_date, status, "
                f"payment_method, shipping_address, shipping_city, shipping_state, "
                f"shipping_zip, shipping_country, processing_date, shipping_date, "
                f"delivery_date, round(total_amount * 100)::BIGINT{extra} FROM {rel}")
    raise KeyError(name)


def check_warehouse(con, csv_dir: str, wh: str) -> list[str]:
    """Every warehouse table equals its expectation from the CSVs, and
    the two derived revenue totals reconcile with the item totals."""
    warehouse_expected(con, csv_dir)
    con.register("dim_time_x", dim_time_rows(dt.date(2021, 1, 1),
                                             dt.date(2025, 12, 31)))
    cents = "round({} * 100)::BIGINT"
    pairs = {
        "dim_time": (
            f"SELECT date, day_of_week::BIGINT, day_of_month::BIGINT, "
            f"day_of_year::BIGINT, week_of_year::BIGINT, month::BIGINT, "
            f"month_name, quarter::BIGINT, year::BIGINT, is_weekend, is_holiday "
            f"FROM {parquet_scan(f'{wh}/dim_time')}",
            "SELECT date, day_of_week::BIGINT, day_of_month::BIGINT, "
            "day_of_year::BIGINT, week_of_year::BIGINT, month::BIGINT, "
            "month_name, quarter::BIGINT, year::BIGINT, is_weekend, is_holiday "
            "FROM dim_time_x",
        ),
        "product_categories": (
            _canon("product_categories", parquet_scan(f"{wh}/product_categories")),
            _canon("product_categories", "x_product_categories"),
        ),
        "products": (
            _canon("products", parquet_scan(f"{wh}/products")),
            _canon("products", "x_products"),
        ),
        "orders": (
            # the partition column: the order's year
            _canon("orders", parquet_scan(f"{wh}/orders"), ", order_year::BIGINT"),
            _canon("orders", "x_orders", ", year(order_date)::BIGINT"),
        ),
        "customers": (
            "SELECT customer_id::BIGINT, email, first_name, last_name, "
            "street_address, city, state, zip_code, country, phone, "
            "registration_date, last_login, "
            f"{cents.format('lifetime_value')} "
            f"FROM {parquet_scan(f'{wh}/customers')}",
            "SELECT customer_id::BIGINT, email, first_name, last_name, "
            "street_address, city, state, zip_code, country, phone, "
            "registration_date, last_login, lifetime_cents::BIGINT "
            "FROM x_customers",
        ),
        "order_items": (
            "SELECT order_item_id::BIGINT, order_id::BIGINT, product_id::BIGINT, "
            f"quantity::BIGINT, {cents.format('price')}, "
            f"{cents.format('discount')}, {cents.format('total')} "
            f"FROM {parquet_scan(f'{wh}/order_items')}",
            "SELECT order_item_id::BIGINT, order_id::BIGINT, product_id::BIGINT, "
            "quantity::BIGINT, round(price * 100)::BIGINT, "
            "round(discount * 100)::BIGINT, total_cents::BIGINT FROM x_order_items",
        ),
        "daily_sales_aggregation": (
            "SELECT date, product_id::BIGINT, category_id::BIGINT, "
            f"{cents.format('units_sold')}, {cents.format('revenue')}, "
            "order_count::BIGINT, round(avg_unit_price, 6), month::VARCHAR "
            f"FROM {parquet_scan(f'{wh}/daily_sales_aggregation')}",
            "SELECT date, product_id::BIGINT, category_id::BIGINT, "
            "(units * 100)::BIGINT, rev_cents::BIGINT, order_count::BIGINT, "
            "round(coalesce((rev_cents / 100.0)::DOUBLE / units::DOUBLE, 0), 6), "
            "strftime(date, '%Y-%m') FROM x_daily_sales_aggregation",
        ),
        "product_sales_summary": (
            "SELECT product_id::BIGINT, product_name, category_name, "
            f"{cents.format('total_quantity_sold')}, "
            f"{cents.format('total_revenue')}, order_count::BIGINT, "
            "unique_customers::BIGINT, last_order_date "
            f"FROM {parquet_scan(f'{wh}/product_sales_summary')}",
            "SELECT product_id::BIGINT, product_name, category_name, "
            "(units * 100)::BIGINT, rev_cents::BIGINT, order_count::BIGINT, "
            "unique_customers::BIGINT, last_order_date "
            "FROM x_product_sales_summary",
        ),
    }
    errors = []
    for name, (actual, expected) in pairs.items():
        n = diff_rows(con, actual, expected)
        if n:
            errors.append(f"warehouse {name}: {n} rows differ from DuckDB")
    # revenue reconciliation, in cents
    daily, summary = (
        con.execute(
            f"SELECT sum(round({col} * 100))::BIGINT FROM "
            f"{parquet_scan(f'{wh}/{tbl}')}"
        ).fetchone()[0]
        for tbl, col in (("daily_sales_aggregation", "revenue"),
                         ("product_sales_summary", "total_revenue"))
    )
    items, excluded = con.execute("""
        SELECT sum(total_cents),
               sum(total_cents) FILTER (WHERE o.status IN ('Cancelled', 'Returned'))
        FROM x_order_items i JOIN x_orders o USING (order_id)""").fetchone()
    if daily != items:
        errors.append(f"daily revenue {daily} != item totals {items} (cents)")
    if summary != items - excluded:
        errors.append(
            f"summary revenue {summary} != item totals {items} minus "
            f"Cancelled/Returned {excluded} (cents)")
    return errors


def warehouse_counts(con, wh: str) -> dict[str, int]:
    return {
        t: con.execute(f"SELECT count(*) FROM {parquet_scan(f'{wh}/{t}')}").fetchone()[0]
        for t in WAREHOUSE_TABLES
    }


def expected_loaded(con) -> dict[str, int]:
    """Rows the first load must append to each idempotent table."""
    return {
        t: con.execute(f"SELECT count(*) FROM x_{t}").fetchone()[0]
        for t in IDEMPOTENT_TABLES
    }


# ------------------------------------------------ analytics API answers

PRODUCT_SALES_SORT = {"order_date": "o_orderdate", "total_amount": "o_totalprice"}
TOP_SELLING_SORT = ("total_units_sold", "total_revenue", "order_count")
BUCKETS = ("day", "week", "month")

# one line item's total, in cents: price * quantity - discount
ITEM_CENTS = ("(round(l_extendedprice * 100)::BIGINT * round(l_quantity)::BIGINT"
               " - round(l_discount * 100)::BIGINT)")


def _dir(value: str, default: str) -> str:
    return value.upper() if value.upper() in ("ASC", "DESC") else default


def query_sql(name: str, p: dict) -> str:
    """The DuckDB answer of one analytics query over views ``orders``,
    ``lineitem`` and ``part``; parameters outside the allowlists fall
    back to the reference's defaults."""
    if name == "product_sales":
        col = PRODUCT_SALES_SORT.get(p["sort_by"], "o_orderdate")
        cat = f"AND p_brand = '{p['category']}'" if p.get("category") else ""
        return f"""
            SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus, p_name,
                   l_quantity::INTEGER, {ITEM_CENTS} / 100.0, l_linenumber
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                        JOIN part ON l_partkey = p_partkey
            WHERE o_orderstatus <> 'F'
              AND o_orderdate BETWEEN TIMESTAMP '{p['start_date']}'
                                  AND TIMESTAMP '{p['end_date']}' {cat}
            ORDER BY {col} {_dir(p['sort_dir'], 'ASC')}, o_orderkey, l_linenumber
            LIMIT {p['limit']} OFFSET {p['offset']}"""
    if name == "customer_purchase_history":
        col = PRODUCT_SALES_SORT.get(p["sort_by"], "o_orderdate")
        window = "".join(
            f" AND o_orderdate {op} TIMESTAMP '{p[k]}'"
            for k, op in (("start_date", ">="), ("end_date", "<="))
            if p.get(k))
        return f"""
            SELECT o_orderkey, o_orderdate, o_orderstatus, o_orderpriority,
                   o_totalprice
            FROM orders
            WHERE o_custkey = {p['customer_id']} AND o_orderstatus <> 'F'{window}
            ORDER BY {col} {_dir(p['sort_dir'], 'DESC')}, o_orderkey
            LIMIT {p['limit']} OFFSET {p['offset']}"""
    if name == "top_selling_by_category":
        col = p["sort_by"] if p["sort_by"] in TOP_SELLING_SORT else "total_units_sold"
        where = "".join(
            f" AND o_orderdate {op} TIMESTAMP '{p[k]}'"
            for k, op in (("start_date", ">="), ("end_date", "<="))
            if p.get(k))
        if p.get("category"):
            where += f" AND p_brand = '{p['category']}'"
        return f"""
            SELECT p_partkey AS product_id, p_name, p_brand,
                   sum(l_quantity) AS total_units_sold,
                   sum({ITEM_CENTS}) / 100.0 AS total_revenue,
                   count(DISTINCT o_orderkey) AS order_count
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                        JOIN part ON l_partkey = p_partkey
            WHERE o_orderstatus <> 'F'{where}
            GROUP BY ALL
            ORDER BY {col} {_dir(p['sort_dir'], 'DESC')}, product_id
            LIMIT {p['limit']}"""
    if name == "sales_trends":
        bucket = p["interval"] if p["interval"] in BUCKETS else "day"
        return f"""
            SELECT date_trunc('{bucket}', o_orderdate::DATE)::DATE AS period,
                   sum({ITEM_CENTS}) / 100.0
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderstatus <> 'F'
              AND o_orderdate::DATE BETWEEN DATE '{p['start_date']}'
                                        AND DATE '{p['end_date']}'
            GROUP BY ALL ORDER BY period"""
    raise KeyError(name)


def api_views(con, sf_dir: str) -> None:
    for t in ("orders", "lineitem", "part"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"{parquet_scan(f'{sf_dir}/{t}.parquet')}")


def check_answer(con, name: str, params: dict, rows: list[tuple]) -> str | None:
    """None when ``rows`` (the program's answer, in order) equals
    DuckDB's answer over the views registered by :func:`api_views`."""
    want = con.execute(query_sql(name, params)).fetchall()
    if same_rows(rows, want):
        return None
    return (f"{name}{json.dumps(params, sort_keys=True)}: got {len(rows)} "
            f"rows, DuckDB {len(want)}; first difference "
            f"{next(((g, w) for g, w in zip(rows, want) if not same_rows([g], [w])), None)}")


# -------------------------------------------- daily ingest final state


def check_tables_equal(con, path: str, model: pa.Table, what: str) -> str | None:
    con.register("model_tbl", model)
    cols = ", ".join(model.column_names)
    n = diff_rows(con, f"SELECT {cols} FROM {parquet_scan(path)}",
                  f"SELECT {cols} FROM model_tbl")
    con.unregister("model_tbl")
    return f"{what}: {n} rows differ from the model" if n else None


def check_rollup(con, path: str, orders: pa.Table, lineitem: pa.Table,
                 part: pa.Table, days: list[str]) -> str | None:
    """The rollup holds, for each refreshed day, every item of that
    day's orders (any status) grouped by product and brand."""
    con.register("m_orders", orders)
    con.register("m_lineitem", lineitem)
    con.register("m_part", part)
    day_list = ", ".join(f"DATE '{d}'" for d in days)
    n = diff_rows(
        con,
        f"SELECT date, product_id::BIGINT, category_id, "
        f"round(units_sold * 100)::BIGINT, round(revenue * 100)::BIGINT, "
        f"order_count::BIGINT FROM {parquet_scan(path)}",
        f"""SELECT o_orderdate::DATE, l_partkey, p_brand,
                   (sum(l_quantity) * 100)::BIGINT, sum({ITEM_CENTS}),
                   count(DISTINCT o_orderkey)
            FROM m_lineitem JOIN m_orders ON l_orderkey = o_orderkey
                            JOIN m_part ON l_partkey = p_partkey
            WHERE o_orderdate::DATE IN ({day_list})
            GROUP BY ALL""",
    )
    for t in ("m_orders", "m_lineitem", "m_part"):
        con.unregister(t)
    return f"daily rollup: {n} rows differ from the model" if n else None


# ------------------------------------------------------ corpus build


def ngrams(words: list[str], n: int) -> set[tuple[str, ...]]:
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


def read_kept(out_path: str) -> tuple[pa.Table, dict]:
    """The kept documents, read back with pyarrow, and the manifest."""
    with open(os.path.join(out_path, "manifest.json")) as fh:
        manifest = json.load(fh)
    data = pads.dataset(os.path.join(out_path, manifest["data_dir"]),
                        format="parquet", partitioning="hive",
                        exclude_invalid_files=True)
    return data.to_table(columns=["doc_id", "text"]), manifest


# A planted near-duplicate (two words substituted, 3-shingle Jaccard
# ~0.9) escapes MinHash/LSH (8 bands of 4) with probability ~1e-4; a run
# has ~36 of them, so a recall floor of 1.0 would fail ~1 run in 300 on
# correct code. 0.90 tolerates three misses.
NEAR_DUP_RECALL = 0.90


def check_corpus(out_path: str, eval_texts: list[str], kinds: dict[int, str],
                 fresh_ids: set[int], near_pairs: list[tuple[int, int]],
                 ngram: int = 13) -> list[str]:
    """The training set at ``out_path`` against the planted corpus."""
    kept, manifest = read_kept(out_path)
    ids = kept.column("doc_id").to_pylist()
    texts = kept.column("text").to_pylist()
    errors = []
    if manifest["rows"] != len(ids):
        errors.append(f"manifest rows {manifest['rows']} != {len(ids)} read back")
    if len(set(texts)) != len(texts):
        errors.append(f"{len(texts) - len(set(texts))} kept documents repeat "
                      "another's text")
    bench = set()
    for t in eval_texts:
        bench |= ngrams(t.split(), ngram)
    leaked = sum(1 for t in texts if ngrams(t.split(), ngram) & bench)
    if leaked:
        errors.append(f"{leaked} kept documents share a {ngram}-gram with "
                      "the eval set")
    kept_ids = set(ids)
    for kind in ("exact", "contaminated", "low_quality"):
        planted = {d for d, k in kinds.items() if k == kind} & kept_ids
        if planted:
            errors.append(f"{len(planted)} planted {kind} documents kept")
    lost = fresh_ids - kept_ids
    if lost:
        errors.append(f"{len(lost)} fresh documents dropped, e.g. "
                      f"{sorted(lost)[:5]}")
    if near_pairs:
        removed = sum(1 for a, b in near_pairs
                      if not (a in kept_ids and b in kept_ids))
        recall = removed / len(near_pairs)
        if recall < NEAR_DUP_RECALL:
            errors.append(f"near-duplicate recall {recall:.3f} < "
                          f"{NEAR_DUP_RECALL}")
    return errors
