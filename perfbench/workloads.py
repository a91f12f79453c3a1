"""The four workloads. Each takes a started-up `Bench`, measures whole
rounds of its operations until ``seconds`` have passed, checks every
output, and returns a `Result`.

Operations of two kinds are timed per workload (README "End-to-end
metrics"): the *primary* and the *secondary* operation.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etl_workflow_spark import catalog, pipeline, queries
from etl_workflow_spark.operators import corpus as corpus_ops
from etl_workflow_spark.operators import etl as etl_ops
from etl_workflow_spark.sources import readers, writers
from etl_workflow_spark.streaming import incremental

from pyspark.sql import functions as F

from . import checks, inputs
from .harness import Bench, dir_stats


@dataclass
class Result:
    primary_ms: list[float] = field(default_factory=list)
    secondary_ms: list[float] = field(default_factory=list)
    measured_s: float = 0.0  # the time ops_per_s divides by
    stored_bytes: int = 0
    stored_files: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    artifacts: dict = field(default_factory=dict)  # for the tests

    @property
    def ops(self) -> int:
        return len(self.primary_ms) + len(self.secondary_ms)


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


class Stopwatch:
    """The measured part of a run. Rounds start while less than
    ``seconds`` have passed, so every run measures at least one whole
    round; creating it ends the set-up."""

    def __init__(self, b: Bench) -> None:
        self.b = b
        b.setup_end = time.time()
        self.t0 = b.measure_start = time.perf_counter()
        self.rounds = 0

    def more(self) -> bool:
        """Whether to start another round (always the first)."""
        self.rounds += 1
        return self.rounds == 1 or time.perf_counter() - self.t0 < self.b.seconds

    def stop(self) -> None:
        self.b.measure_end = time.perf_counter()


def _job_group(b: Bench, group: str) -> None:
    """Tag the calling thread's Spark jobs (traced runs only), so the
    stage counters can be split by operation kind."""
    if b.trace:
        b.spark.sparkContext.setJobGroup(group, group)


def instrument(b: Bench) -> None:
    """Spans around the layers the program calls internally (traced
    runs only): the writers and readers under ``run_pipeline``, the ETL
    operators, and the catalog's table listing under each query."""
    t = b.tracer
    for name in ("idempotent_append", "write_partitioned",
                 "overwrite_partitions", "overwrite", "merge_into"):
        t.wrap(writers, name, f"writers.{name}")
    t.wrap(readers, "read_csv", "readers.read_csv")
    for name in ("clean_nulls", "recompute_item_total", "with_lifetime_value",
                 "daily_sales_aggregation", "product_sales_summary"):
        t.wrap(etl_ops, name, "operators.etl")
    t.wrap(pipeline, "dim_time_frame", "operators.dimtime")
    t.wrap(queries, "table", "catalog.table")
    # the stages materialize_training_set composes (names as imported
    # into the corpus module); dedup executes eagerly, the others are
    # lazy and run inside the build's final write
    t.wrap(corpus_ops, "decontaminate", "operators.text.decontaminate")
    t.wrap(corpus_ops, "dedup_corpus", "operators.dedup.dedup_corpus")
    t.wrap(corpus_ops, "deterministic_shuffle",
           "operators.sampling.deterministic_shuffle")


# =============================================================== etl


def etl_backfill(b: Bench) -> Result:
    """``run_pipeline`` from raw CSVs into an empty warehouse (primary),
    then the same input again (secondary: the idempotent no-op path)."""
    rng = np.random.default_rng(b.seed)
    csv_dir = b.path("csv")
    inputs.warehouse_csvs(rng, csv_dir, b.size)
    spark = b.start_spark()
    con = duckdb.connect()
    checks.warehouse_expected(con, csv_dir)
    want_loaded = checks.expected_loaded(con)
    # warm-up: one load of a tiny input of another seed. It costs about
    # what the JVM's first compiles add to a cold load, and the timed
    # loads then measure the pipeline rather than those compiles.
    warm = b.path("warm-csv")
    inputs.warehouse_csvs(np.random.default_rng(b.seed + 1), warm, "tiny")
    _job_group(b, "other")
    pipeline.run_pipeline(spark, warm, b.path("warm-wh"))
    res = Result()
    watch = Stopwatch(b)
    wh = ""
    while watch.more():
        if wh:
            shutil.rmtree(wh)
        wh = b.path(f"wh-{len(res.primary_ms)}")
        _job_group(b, "primary")
        t0 = time.perf_counter()
        with b.tracer.span("pipeline.run_pipeline"):
            loaded = pipeline.run_pipeline(spark, csv_dir, wh)
        res.primary_ms.append(_ms(t0))
        if not res.stored_bytes:
            res.stored_bytes, res.stored_files = dir_stats(wh)
        before = checks.warehouse_counts(con, wh)
        _job_group(b, "secondary")
        t0 = time.perf_counter()
        with b.tracer.span("pipeline.run_pipeline"):
            again = pipeline.run_pipeline(spark, csv_dir, wh)
        res.secondary_ms.append(_ms(t0))
        after = checks.warehouse_counts(con, wh)
        b.check(before == after, f"re-run changed row counts {before} -> {after}")
        got = {t: loaded.rows_loaded[t] for t in checks.IDEMPOTENT_TABLES}
        b.check(got == want_loaded, f"rows_loaded {got} != {want_loaded}")
        again_got = {t: again.rows_loaded[t] for t in checks.IDEMPOTENT_TABLES}
        b.check(not any(again_got.values()),
                f"re-run appended rows: {again_got}")
    watch.stop()
    res.measured_s = (sum(res.primary_ms) + sum(res.secondary_ms)) / 1000.0
    for err in checks.check_warehouse(con, csv_dir, wh):
        b.check(False, err)
    res.artifacts = {"csv_dir": csv_dir, "warehouse": wh}
    return res


# ======================================================= query mix

LOOKUPS = ("product_sales", "customer_purchase_history")


def _day(offset: int) -> str:
    return (inputs.DAY0 + dt.timedelta(days=int(offset))).isoformat()


class QueryMix:
    """Seeded rounds of analytics calls. Every round has the same make-up
    — which query, which options on, and the range each value is drawn
    from — so runs differ only in the values: Zipf-skewed customers,
    date windows from a week to the whole history, brand filters,
    sort keys and directions off the allowlists (the fallback path),
    shallow and deep offsets, and day/week/month buckets in turn."""

    def __init__(self, rng, t: inputs.Tpch) -> None:
        self.rng = rng
        self.t = t
        self.rounds_made = 0

    def _window(self, lo: int, hi: int) -> tuple[str, str]:
        """A window of lo..hi days ending on a day with data."""
        last = self.t.next_day - 1
        span = int(self.rng.integers(lo, min(hi, last) + 1))
        end = int(self.rng.integers(span, last + 1))
        return _day(end - span), _day(end)

    def _customer(self) -> int:
        return int(inputs.zipf_choice(
            self.rng, self.t.n_customers, 1, self.t.cust_perm)[0])

    def _brand(self) -> str:
        return inputs.BRANDS[int(self.rng.integers(0, len(inputs.BRANDS)))]

    def round(self) -> list[tuple[str, dict]]:
        """One round of ROUND calls, in a seeded order."""
        r, k = self.rng, self.rounds_made
        self.rounds_made += 1
        week, month, year, ever = 7, 31, 366, inputs.N_DAYS
        history = "customer_purchase_history"
        calls = [
            (history, {"customer_id": self._customer(), "start_date": None,
                       "end_date": None, "sort_by": "order_date",
                       "sort_dir": "DESC", "limit": 10, "offset": 0}),
            (history, dict(zip(("start_date", "end_date"), self._window(week, year)),
                           customer_id=self._customer(), sort_by="total_amount",
                           sort_dir="ASC", limit=10, offset=0)),
            # off the allowlists: falls back to order_date DESC
            (history, {"customer_id": self._customer(), "start_date": None,
                       "end_date": None, "sort_by": "c_name",
                       "sort_dir": "sideways", "limit": 10,
                       "offset": int(r.integers(10, 40))}),
            (history, {"customer_id": self._customer(), "start_date": None,
                       "end_date": None, "sort_by": "total_amount",
                       "sort_dir": "DESC", "limit": 10, "offset": 0}),
            (history, dict(zip(("start_date", "end_date"), self._window(week, month)),
                           customer_id=self._customer(), sort_by="order_date",
                           sort_dir="ASC", limit=10, offset=0)),
            (history, dict(zip(("start_date", "end_date"), self._window(year, ever)),
                           customer_id=self._customer(), sort_by="order_date",
                           sort_dir="DESC", limit=10, offset=int(r.integers(1, 10)))),
            # narrow and unfiltered, and wide, filtered, off-allowlist
            # sort and deep offset, in turn
            ("product_sales", dict(zip(("start_date", "end_date"),
                                       self._window(week, month)),
                                   category=None, sort_by="order_date",
                                   sort_dir="ASC", limit=50, offset=0)
             if k % 2 == 0 else dict(zip(("start_date", "end_date"),
                                         self._window(year, ever)),
                                     category=self._brand(), sort_by="price",
                                     sort_dir="DESC", limit=50,
                                     offset=int(r.integers(100, 1000)))),
            # no filter, and filtered with an off-allowlist sort, in turn
            ("top_selling_by_category", {
                "category": None, "start_date": None, "end_date": None,
                "sort_by": "total_units_sold", "sort_dir": "DESC", "limit": 25}
             if k % 2 == 0 else dict(
                zip(("start_date", "end_date"), self._window(month, year)),
                category=self._brand(), sort_by="revenue", sort_dir="ASC",
                limit=25)),
            ("sales_trends", dict(
                zip(("start_date", "end_date"), self._window(month, year)),
                interval=("day", "week", "month", "quarter")[k % 4])),
        ]
        return [calls[i] for i in r.permutation(len(calls))]

    def rounds(self):
        while True:
            yield from self.round()


# calls of each query in a round (QueryMix.round). Point lookups are
# more than half of the calls, as in API traffic, so the median query of
# a run falls inside one query's latencies, not between two queries'.
MIX = {"customer_purchase_history": 6, "product_sales": 1,
       "top_selling_by_category": 1, "sales_trends": 1}
ROUND = sum(MIX.values())


def run_query(b: Bench, sf_dir: str, name: str, p: dict) -> tuple[list, float, float]:
    """One analytics call: (rows, build ms, execute ms)."""
    fn = getattr(queries, name)
    with b.tracer.span(f"queries.{name}"):
        t0 = time.perf_counter()
        with b.tracer.span(f"queries.{name}.build"):
            df = fn(b.spark, sf_dir, **p)
        t1 = time.perf_counter()
        with b.tracer.span(f"queries.{name}.execute"):
            rows = [tuple(r) for r in df.collect()]
        t2 = time.perf_counter()
    return rows, (t1 - t0) * 1000.0, (t2 - t1) * 1000.0


def clients() -> int:
    """Closed-loop client threads: half the cores (at least one), so
    the Spark tasks of concurrent queries still have cores to run on."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


@dataclass
class Answer:
    name: str
    params: dict
    rows: list
    build_ms: float
    execute_ms: float


def read_loop(b: Bench, sf_dir: str, calls, kind_of,
              deadline: Stopwatch | None) -> tuple[list[Answer], float]:
    """Run ``calls`` (an iterator of whole rounds) in order from
    ``clients()`` closed-loop threads — each sends its next call only
    when its previous one has returned. With a ``deadline`` no new
    round starts once it has expired. ``kind_of(name)`` names the job
    group of a query. Returns the answers and the loop's wall time."""
    lock = threading.Lock()
    answers: list[Answer] = []
    failures: list[BaseException] = []
    taken = 0

    def client() -> None:
        nonlocal taken
        try:
            while True:
                with lock:
                    if taken % ROUND == 0 and deadline and not deadline.more():
                        return
                    call = next(calls, None)
                    taken += 1
                if call is None:
                    return
                name, p = call
                _job_group(b, kind_of(name))
                rows, bms, ems = run_query(b, sf_dir, name, p)
                with lock:
                    answers.append(Answer(name, p, rows, bms, ems))
        except BaseException as e:  # re-raised on the main thread
            failures.append(e)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients())]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.perf_counter() - t0
    if failures:
        raise failures[0]
    return answers, wall


def verify_answers(b: Bench, con, answers: list[Answer]) -> None:
    for a in answers:
        err = checks.check_answer(con, a.name, a.params, a.rows)
        b.check(err is None, err)


def _query_layer(res: Result, answers: list[Answer]) -> None:
    for name in MIX:
        picked = [a for a in answers if a.name == name]
        for part in ("build_ms", "execute_ms"):
            vals = [getattr(a, part) for a in picked]
            res.layer[f"queries.{name}.{part}"] = (
                float(np.median(vals)) if vals else 0.0)
    res.layer["queries.rows_returned"] = sum(len(a.rows) for a in answers)


def _warm_queries(b: Bench, sf_dir: str, mix: QueryMix) -> None:
    """One call of each query before timing: a server answers many
    queries per start, so its steady state is what users see."""
    _job_group(b, "other")
    first = {}
    for name, p in mix.round():
        first.setdefault(name, p)
    for name, p in first.items():
        run_query(b, sf_dir, name, p)


# =========================================================== api reads


def api_reads(b: Bench) -> Result:
    """Read-only closed loop over the four analytics queries. Primary:
    the lookups; secondary: the aggregates."""
    rng = np.random.default_rng(b.seed)
    t = inputs.tpch_tables(rng, b.size)
    sf_dir = b.path("sf")
    inputs.write_tpch(t, sf_dir)
    b.start_spark()
    _warm_queries(b, sf_dir, QueryMix(np.random.default_rng(b.seed + 1), t))
    mix = QueryMix(rng, t)
    watch = Stopwatch(b)
    answers, wall = read_loop(
        b, sf_dir, mix.rounds(),
        lambda name: "primary" if name in LOOKUPS else "secondary", watch)
    watch.stop()
    res = Result(measured_s=wall)
    for a in answers:
        lat = a.build_ms + a.execute_ms
        (res.primary_ms if a.name in LOOKUPS else res.secondary_ms).append(lat)
    res.stored_bytes, res.stored_files = dir_stats(sf_dir)
    _query_layer(res, answers)
    con = duckdb.connect()
    checks.api_views(con, sf_dir)
    verify_answers(b, con, answers)
    res.artifacts = {"sf_dir": sf_dir, "answers": answers}
    return res


# ======================================================== daily ingest

INGEST = {
    # size: (orders per batch, status changes per batch, batches per round)
    "tiny": (50, 20, 2),
    "full": (400, 200, 1),
}


def _write_batch(batch: inputs.Batch, d: str) -> int:
    """The batch as parquet files the program reads; returns its bytes."""
    os.makedirs(d, exist_ok=True)
    total = 0
    for name, table in (("orders", batch.orders), ("lineitem", batch.lineitem),
                        ("changes", batch.status_changes)):
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def _apply(model: dict[str, pa.Table], batch: inputs.Batch) -> None:
    """The benchmark's own model of the expected tables after a batch."""
    orders = model["orders"]
    changed = set(batch.status_changes.column("o_orderkey").to_pylist())
    keep = pa.array([k not in changed for k in orders.column("o_orderkey").to_pylist()])
    model["orders"] = pa.concat_tables(
        [orders.filter(keep), batch.status_changes, batch.orders])
    model["lineitem"] = pa.concat_tables([model["lineitem"], batch.lineitem])


def append_batch(b: Bench, sf_dir: str, batch_dir: str) -> tuple[int, int]:
    """Append a batch's orders and items; returns the rows appended."""
    spark = b.spark
    with b.tracer.span("batch.append"):
        return (
            writers.idempotent_append(
                spark, spark.read.parquet(f"{batch_dir}/orders.parquet"),
                f"{sf_dir}/orders.parquet", ["o_orderkey"]),
            writers.idempotent_append(
                spark, spark.read.parquet(f"{batch_dir}/lineitem.parquet"),
                f"{sf_dir}/lineitem.parquet", ["l_orderkey", "l_linenumber"]),
        )


def commit_batch(b: Bench, sf_dir: str, rollup: str, batch_dir: str,
                 batch: inputs.Batch) -> None:
    """Apply one daily batch through the write path: append the day's
    orders and items, merge the status changes, refresh the day's rollup
    slice."""
    spark = b.spark
    append_batch(b, sf_dir, batch_dir)
    with b.tracer.span("batch.merge"):
        writers.merge_into(
            spark, f"{sf_dir}/orders.parquet",
            spark.read.parquet(f"{batch_dir}/changes.parquet"), ["o_orderkey"])
    with b.tracer.span("incremental.refresh"):
        items = etl_ops.recompute_item_total(
            catalog.table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                "l_discount"),
            price="l_extendedprice", quantity="l_quantity",
            discount="l_discount", out="total",
        ).select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("product_id"),
            F.col("l_quantity").alias("quantity"), "total")
        orders = catalog.table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderdate").alias("order_date"))
        part = catalog.table(spark, sf_dir, "part").select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_brand").alias("category_id"))
        day = incremental.incremental_daily_slice(items, orders, part, batch.as_of)
        writers.overwrite_partitions(spark, day, rollup, partition_col="date")


def day_total_cents(con, model: dict[str, pa.Table], as_of: str) -> int | None:
    """The model's sales on ``as_of``: orders not in status F."""
    con.register("m_orders", model["orders"])
    con.register("m_lineitem", model["lineitem"])
    total = con.execute(f"""
        SELECT sum({checks.ITEM_CENTS}) FROM m_lineitem
        JOIN m_orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus <> 'F' AND o_orderdate::DATE = DATE '{as_of}'
    """).fetchone()[0]
    con.unregister("m_orders")
    con.unregister("m_lineitem")
    return total


def check_visible(rows: list[tuple], as_of: str, want_cents: int | None) -> str | None:
    """A day-bucket ``sales_trends`` answer for ``as_of`` must show the
    day's sales as the model has them."""
    want = [] if want_cents is None else [(dt.date.fromisoformat(as_of),
                                           want_cents / 100.0)]
    if checks.same_rows(rows, want):
        return None
    return f"sales on {as_of}: query saw {rows}, model has {want}"


def daily_ingest(b: Bench) -> Result:
    """Reads and daily write batches alternating in one loop. Primary:
    the queries; secondary: one batch commit. Each round restores the
    generated tables and replays the same batches."""
    n_new, n_changes, n_batches = INGEST[b.size]
    rng = np.random.default_rng(b.seed)
    t = inputs.tpch_tables(rng, b.size)
    pristine = b.path("pristine")
    inputs.write_tpch(t, pristine)
    base_model = {"orders": t.tables["orders"], "lineitem": t.tables["lineitem"]}
    model = dict(base_model)
    batches, batch_dirs, batch_bytes = [], [], []
    for k in range(n_batches):
        batch = inputs.ingest_batch(rng, t, model["orders"], n_new, n_changes)
        _apply(model, batch)
        batches.append(batch)
        batch_dirs.append(b.path("batches", str(k)))
        batch_bytes.append(_write_batch(batch, batch_dirs[-1]))
    final_model = model
    spark = b.start_spark()
    mix = QueryMix(rng, t)  # windows reach the last batch's day
    sf_dir, rollup = b.path("sf"), b.path("rollup")
    shutil.copytree(pristine, sf_dir)
    _warm_queries(b, sf_dir, QueryMix(np.random.default_rng(b.seed + 1), t))
    con = duckdb.connect()
    res = Result()
    answers: list[Answer] = []
    read_wall = 0.0

    def reads() -> None:
        nonlocal read_wall
        got, wall = read_loop(b, sf_dir, iter(mix.round()),
                              lambda name: "primary", None)
        read_wall += wall
        res.primary_ms.extend(a.build_ms + a.execute_ms for a in got)
        checks.api_views(con, sf_dir)
        verify_answers(b, con, got)
        answers.extend(got)

    watch = Stopwatch(b)
    while watch.more():
        # a round: the generated tables, then reads before every batch
        # and once more after the last
        shutil.rmtree(sf_dir)
        shutil.rmtree(rollup, ignore_errors=True)
        shutil.copytree(pristine, sf_dir)
        model = dict(base_model)
        for batch, batch_dir in zip(batches, batch_dirs):
            reads()
            _job_group(b, "secondary")
            t0 = time.perf_counter()
            with b.tracer.span("batch.commit"):
                commit_batch(b, sf_dir, rollup, batch_dir, batch)
            res.secondary_ms.append(_ms(t0))
            _apply(model, batch)
            # the next query must see the batch
            _job_group(b, "other")
            rows, _, _ = run_query(b, sf_dir, "sales_trends", {
                "interval": "day", "start_date": batch.as_of,
                "end_date": batch.as_of})
            err = check_visible(rows, batch.as_of,
                                day_total_cents(con, model, batch.as_of))
            b.check(err is None, err)
        reads()
        if not res.stored_bytes:
            res.stored_bytes, res.stored_files = dir_stats(sf_dir)
            res.stored_bytes += dir_stats(rollup)[0]
    watch.stop()
    res.measured_s = read_wall + sum(res.secondary_ms) / 1000.0
    if b.costly_checks:
        # a redelivered batch appends nothing
        _job_group(b, "other")
        redo = append_batch(b, sf_dir, batch_dirs[-1])
        b.check(redo == (0, 0), f"redelivered batch appended {redo} rows")
    for path, table in (("orders", final_model["orders"]),
                        ("lineitem", final_model["lineitem"])):
        err = checks.check_tables_equal(
            con, f"{sf_dir}/{path}.parquet", table, f"final {path}")
        b.check(err is None, err)
    err = checks.check_rollup(
        con, rollup, final_model["orders"], final_model["lineitem"],
        t.tables["part"], [x.as_of for x in batches])
    b.check(err is None, err)
    _query_layer(res, answers)
    res.layer["batches"] = len(res.secondary_ms)
    res.layer["batch_bytes"] = float(np.mean(batch_bytes))
    res.artifacts = {"sf_dir": sf_dir, "batches": batches, "con": con,
                     "model": final_model}
    return res


# ======================================================== corpus build


def corpus_build(b: Bench) -> Result:
    """``materialize_training_set`` over the seeded corpus (primary),
    then ``extend_training_set`` with the new batch (secondary), then
    the same extension again, which must append nothing."""
    rng = np.random.default_rng(b.seed)
    c = inputs.corpus(rng, b.size)
    src = b.path("corpus")
    for name, table in (("base", c.base), ("batch", c.batch), ("eval", c.eval)):
        inputs.write_parquet_dir(table, os.path.join(src, name))
    spark = b.start_spark()


    # no warm-up: a corpus build is a batch job in a fresh session, so
    # the first build is measured as that job sees it
    base, batch, ev = (spark.read.parquet(os.path.join(src, n))
                       for n in ("base", "batch", "eval"))
    res = Result()
    watch = Stopwatch(b)
    out = ""
    while watch.more():
        if out:
            shutil.rmtree(out)
        out = b.path(f"train-{len(res.primary_ms)}")
        _job_group(b, "primary")
        t0 = time.perf_counter()
        with b.tracer.span("corpus.materialize_training_set"):
            corpus_ops.materialize_training_set(spark, base, out, benchmark=ev)
        res.primary_ms.append(_ms(t0))
        _job_group(b, "secondary")
        t0 = time.perf_counter()
        with b.tracer.span("corpus.extend_training_set"):
            m2 = corpus_ops.extend_training_set(spark, batch, out, benchmark=ev)
        res.secondary_ms.append(_ms(t0))
    watch.stop()
    res.measured_s = (sum(res.primary_ms) + sum(res.secondary_ms)) / 1000.0
    res.stored_bytes, res.stored_files = dir_stats(out)
    fresh = (set(c.base.column("doc_id").to_pylist())
             | set(c.batch.column("doc_id").to_pylist())) - set(c.kinds)
    for err in checks.check_corpus(out, c.eval.column("text").to_pylist(),
                                   c.kinds, fresh, c.near_pairs):
        b.check(False, err)
    res.layer["corpus.kept_rows"] = m2["rows"]
    res.layer["corpus.appended_rows"] = m2["appended_rows"]
    if b.costly_checks:
        _job_group(b, "other")
        again = corpus_ops.extend_training_set(
            spark, batch, out, benchmark=ev, allow_interleaved_ids=True)
        b.check(again["appended_rows"] == 0,
                f"re-running the extension appended {again['appended_rows']} rows")
    if b.trace:
        # the per-stage survivor curve costs a count per stage, so it
        # comes from one extra audited build
        curve = corpus_ops.materialize_training_set(
            spark, base, b.path("audit-train"), benchmark=ev, audit=True,
        )["stage_rows"]
        res.layer["corpus.drop.quality"] = curve["input"] - curve["quality"]
        res.layer["corpus.drop.decontaminated"] = (
            curve["quality"] - curve["decontaminated"])
        res.layer["corpus.drop.deduped"] = curve["decontaminated"] - curve["deduped"]
    res.artifacts = {"out": out, "corpus": c, "fresh": fresh}
    return res


WORKLOADS = {
    "etl_backfill": etl_backfill,
    "api_reads": api_reads,
    "daily_ingest": daily_ingest,
    "corpus_build": corpus_build,
}
