"""Every correctness check of the benchmark passes on a real output of
the program and fails on a deliberately corrupted copy of it.

Each test runs one workload at the tiny size (a few seconds of Spark
work), then damages a copy of what it produced:

* etl_backfill: a warehouse row dropped; a revenue value off by a cent
* daily_ingest: answers taken from the tables as they stood before a
  batch; a query's revenue off by a cent
* corpus_build: two kept documents with the same text

Run from the repository root: ``python -m pytest perfbench/tests``.
"""

from __future__ import annotations

import glob
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import checks, workloads
from perfbench.harness import Bench


@pytest.fixture
def run_tiny(tmp_path):
    """Run a workload at the tiny size; the run's files stay until the
    test ends."""
    benches = []

    def run(name: str):
        b = Bench(name, seed=7, seconds=0, trace=False, size="tiny",
                  root=str(tmp_path))
        benches.append(b)
        res = workloads.WORKLOADS[name](b)
        assert b.errors == [], b.errors
        return b, res

    yield run
    for b in benches:
        b.close()


def _rewrite_first_file(table_dir: str, change) -> None:
    """Apply ``change`` (a pyarrow Table -> Table) to the first data file
    of a Spark-written table directory."""
    path = sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"),
                            recursive=True))[0]
    pq.write_table(change(pq.read_table(path)), path)


def _add_cent(table: pa.Table, column: str) -> pa.Table:
    idx = table.schema.get_field_index(column)
    values = table.column(column).to_pylist()
    values[0] = values[0] + type(values[0])("0.01")
    return table.set_column(idx, column, pa.array(values, table.schema.field(idx).type))


def test_etl_checks_catch_corruption(run_tiny, tmp_path):
    _b, res = run_tiny("etl_backfill")
    csv_dir, wh = res.artifacts["csv_dir"], res.artifacts["warehouse"]
    con = duckdb.connect()
    assert checks.check_warehouse(con, csv_dir, wh) == []

    dropped = str(tmp_path / "dropped")
    shutil.copytree(wh, dropped)
    _rewrite_first_file(os.path.join(dropped, "order_items"),
                        lambda t: t.slice(1))
    errors = checks.check_warehouse(con, csv_dir, dropped)
    assert any("warehouse order_items: 1 rows differ" in e for e in errors), errors

    cent = str(tmp_path / "cent")
    shutil.copytree(wh, cent)
    _rewrite_first_file(os.path.join(cent, "daily_sales_aggregation"),
                        lambda t: _add_cent(t, "revenue"))
    errors = checks.check_warehouse(con, csv_dir, cent)
    assert any("warehouse daily_sales_aggregation: 2 rows differ" in e
               for e in errors), errors
    assert any(e.startswith("daily revenue") for e in errors), errors


def test_daily_ingest_checks_catch_stale_and_wrong_answers(run_tiny, tmp_path):
    b, res = run_tiny("daily_ingest")
    sf_dir, con = res.artifacts["sf_dir"], res.artifacts["con"]
    batch, model = res.artifacts["batches"][-1], res.artifacts["model"]
    pristine = b.path("pristine")  # the tables before any batch
    checks.api_views(con, sf_dir)

    # the day the last batch added, asked of the tables before it
    day = {"interval": "day", "start_date": batch.as_of, "end_date": batch.as_of}
    want = workloads.day_total_cents(con, model, batch.as_of)
    now, _, _ = workloads.run_query(b, sf_dir, "sales_trends", day)
    assert workloads.check_visible(now, batch.as_of, want) is None
    stale, _, _ = workloads.run_query(b, pristine, "sales_trends", day)
    assert workloads.check_visible(stale, batch.as_of, want) is not None

    # a monthly trend over the whole history, before and after: the
    # status changes and new orders of the batches move its totals
    months = {"interval": "month", "start_date": "1992-01-01",
              "end_date": batch.as_of}
    now, _, _ = workloads.run_query(b, sf_dir, "sales_trends", months)
    assert checks.check_answer(con, "sales_trends", months, now) is None
    stale, _, _ = workloads.run_query(b, pristine, "sales_trends", months)
    assert checks.check_answer(con, "sales_trends", months, stale) is not None

    # revenue off by one cent
    top = {"category": None, "start_date": None, "end_date": None,
           "sort_by": "total_revenue", "sort_dir": "DESC", "limit": 25}
    rows, _, _ = workloads.run_query(b, sf_dir, "top_selling_by_category", top)
    assert checks.check_answer(con, "top_selling_by_category", top, rows) is None
    first = list(rows[0])
    first[4] = round(first[4] + 0.01, 2)
    wrong = [tuple(first)] + rows[1:]
    assert checks.check_answer(con, "top_selling_by_category", top, wrong) is not None

    # the final tables against the model, with one row dropped
    dropped = str(tmp_path / "orders")
    shutil.copytree(os.path.join(sf_dir, "orders.parquet"), dropped)
    _rewrite_first_file(dropped, lambda t: t.slice(1))
    assert checks.check_tables_equal(con, dropped, model["orders"], "orders")


def test_corpus_checks_catch_repeated_text(run_tiny, tmp_path):
    _b, res = run_tiny("corpus_build")
    c, fresh = res.artifacts["corpus"], res.artifacts["fresh"]
    args = (c.eval.column("text").to_pylist(), c.kinds, fresh, c.near_pairs)
    assert checks.check_corpus(res.artifacts["out"], *args) == []

    copy = str(tmp_path / "train")
    shutil.copytree(res.artifacts["out"], copy)
    kept, manifest = checks.read_kept(copy)
    shard = sorted(glob.glob(os.path.join(copy, manifest["data_dir"], "shard=*")))[0]
    part = sorted(glob.glob(os.path.join(shard, "*.parquet")))[0]
    rows = pq.read_table(part)
    twin = rows.slice(0, 1)
    twin = twin.set_column(
        twin.schema.get_field_index("doc_id"), "doc_id",
        pc.add(twin.column("doc_id"), 10_000_000))
    pq.write_table(twin, os.path.join(shard, "part-twin.parquet"))
    errors = checks.check_corpus(copy, *args)
    assert any("repeat another's text" in e for e in errors), errors
