"""Run one workload of the benchmark and print its result as the last
line of standard output.

    python3 perfbench/run.py --workload api_reads --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and Spark's stage counters and prints the per-layer
metrics (and writes the spans to ``perfbench/out/traces/``). ``--size
tiny`` shrinks every input so a run takes seconds. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

E2E = (
    ("setup_s", "s"),
    ("primary_p50_ms", "ms"),
    ("secondary_p50_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("stored_mb", "MB"),
)
QUERIES = ("product_sales", "customer_purchase_history",
           "top_selling_by_category", "sales_trends")
SPARK = {"jobs": "count", "stages": "count", "tasks": "count",
         "input_mb": "MB", "shuffle_write_mb": "MB", "output_mb": "MB",
         "spill_mb": "MB", "gc_s": "s", "executor_run_s": "s"}
LAYER = (
    ("session.get_spark_s", "s"),
    ("pipeline.run_pipeline_s", "s"),
    ("pipeline.self_s", "s"),
    ("readers.read_csv_ms", "ms"),
    ("operators.etl_ms", "ms"),
    ("operators.dimtime_ms", "ms"),
    ("writers.idempotent_append_s", "s"),
    ("writers.write_partitioned_s", "s"),
    ("writers.overwrite_partitions_s", "s"),
    ("writers.overwrite_s", "s"),
    *((f"queries.{q}.{part}_ms", "ms") for q in QUERIES
      for part in ("build", "execute")),
    ("catalog.table_ms", "ms"),
    ("queries.rows_scanned_per_row_returned", "ratio"),
    ("writers.idempotent_append_ms", "ms"),
    ("writers.merge_into_ms", "ms"),
    ("incremental.refresh_ms", "ms"),
    ("writers.bytes_written_per_batch_byte", "ratio"),
    ("warehouse.files", "count"),
    *((f"spark.{k}.{kind}", SPARK[k]) for kind in ("primary", "secondary")
      for k in SPARK),
    ("corpus.decontaminate_ms", "ms"),
    ("corpus.dedup_ms", "ms"),
    ("corpus.shuffle_ms", "ms"),
    ("corpus.build_self_ms", "ms"),
    ("corpus.kept_rows", "count"),
    ("corpus.appended_rows", "count"),
    ("corpus.drop.quality", "count"),
    ("corpus.drop.decontaminated", "count"),
    ("corpus.drop.deduped", "count"),
    ("process.peak_rss_mb", "MB"),
    ("trace.spans", "count"),
)


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def layer_metrics(b, res, counters: dict, rss: float) -> dict[str, float]:
    """The per-layer numbers of a traced run; 0 where the workload does
    not exercise the layer."""
    t = b.tracer
    lo, hi = b.measure_start, b.measure_end
    out = dict.fromkeys((name for name, _ in LAYER), 0.0)

    def total(name: str, self_time: bool = False) -> tuple[int, float]:
        calls, dur, own = t.totals(name, lo, hi)
        return calls, own if self_time else dur

    out["session.get_spark_s"] = t.totals("session.get_spark")[1]
    runs, dur = total("pipeline.run_pipeline")
    if runs:
        out["pipeline.run_pipeline_s"] = dur / runs
        out["pipeline.self_s"] = total("pipeline.run_pipeline", True)[1] / runs
        out["readers.read_csv_ms"] = total("readers.read_csv")[1] * 1e3 / runs
        out["operators.etl_ms"] = total("operators.etl")[1] * 1e3 / runs
        out["operators.dimtime_ms"] = total("operators.dimtime")[1] * 1e3 / runs
        for w in ("idempotent_append", "write_partitioned",
                  "overwrite_partitions", "overwrite"):
            out[f"writers.{w}_s"] = total(f"writers.{w}")[1] / runs
    builds, _ = total("corpus.materialize_training_set")
    if builds:
        for key, span in (("corpus.decontaminate_ms", "operators.text.decontaminate"),
                          ("corpus.dedup_ms", "operators.dedup.dedup_corpus"),
                          ("corpus.shuffle_ms",
                           "operators.sampling.deterministic_shuffle")):
            out[key] = t.totals(span, lo, hi, "corpus.materialize_training_set")[1] * 1e3 / builds
        out["corpus.build_self_ms"] = total(
            "corpus.materialize_training_set", True)[1] * 1e3 / builds
    calls, dur = total("catalog.table")
    if calls:
        out["catalog.table_ms"] = dur * 1e3 / calls
    batches = res.layer.get("batches", 0)
    if batches:
        for key, span in (("writers.idempotent_append_ms", "batch.append"),
                          ("writers.merge_into_ms", "batch.merge"),
                          ("incremental.refresh_ms", "incremental.refresh")):
            out[key] = total(span)[1] * 1e3 / batches
        written = counters.get("secondary", {}).get("output_mb", 0.0)
        out["writers.bytes_written_per_batch_byte"] = (
            written * 1024 * 1024 / (res.layer["batch_bytes"] * batches))
    out["warehouse.files"] = res.stored_files
    kinds = {"primary": len(res.primary_ms), "secondary": len(res.secondary_ms)}
    for kind, n in kinds.items():
        for k in SPARK:
            value = counters.get(kind, {}).get(k, 0.0)
            out[f"spark.{k}.{kind}"] = value / n if n else 0.0
    returned = res.layer.get("queries.rows_returned", 0)
    if returned:
        query_kinds = ("primary",) if b.workload == "daily_ingest" else kinds
        scanned = sum(counters.get(k, {}).get("input_rows", 0.0)
                      for k in query_kinds)
        out["queries.rows_scanned_per_row_returned"] = scanned / returned
    out.update((k, v) for k, v in res.layer.items() if k in out)
    out["trace.spans"] = len(t.spans)
    out["process.peak_rss_mb"] = rss
    return out


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("etl_backfill", "api_reads", "daily_ingest",
                             "corpus_build"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("tiny", "full"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads

    b = harness.Bench(args.workload, args.seed, args.seconds,
                      bool(args.trace), args.size, OUT)

    try:
        if b.trace:
            workloads.instrument(b)
        res = workloads.WORKLOADS[args.workload](b)
        rss = harness.peak_rss_mb(os.getpid())
        counters = harness.spark_counters(b.spark) if b.trace else {}
    finally:
        b.close()

    metrics = {
        "setup_s": b.setup_end - t_proc,
        "primary_p50_ms": harness.median(res.primary_ms),
        "secondary_p50_ms": harness.median(res.secondary_ms),
        "ops_per_s": res.ops / res.measured_s,
        "stored_mb": res.stored_bytes / harness.MB,
    }
    units = dict(E2E)
    if b.trace:
        # the traced run's own end-to-end figures, against the untraced
        # runs' medians, give the tracing overhead
        print(f"traced end-to-end: {json.dumps(metrics)}", file=sys.stderr)
        metrics = layer_metrics(b, res, counters, rss)
        units = dict(LAYER)
        traces = os.path.join(OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        b.tracer.dump(os.path.join(traces, f"{b.tracer.run_id}.jsonl"))
    for err in b.errors:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": not b.errors,
        "attempted": res.ops,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
