"""Run plumbing shared by the workloads: the Spark session, spans,
Spark's stage counters, process-tree memory and a few statistics.

Nothing here starts a process or thread at import time; `Bench` owns
everything a run creates and `Bench.close` releases it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024


# ---------------------------------------------------------------- stats


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` — Spark's
    checksum and marker files are bookkeeping, not table bytes."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    id: int
    run_id: str


class Tracer:
    """In-memory spans with a per-thread parent stack.

    Disabled tracers record nothing and cost one attribute check; the
    end-to-end metrics come only from untraced runs."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            sp = Span(name, time.perf_counter(), float("nan"),
                      stack[-1] if stack else None, sid, self.run_id)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr`` — how the
        benchmark reaches layers that the program calls internally."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_end = 0.0, sp.start
            for ch in sorted(children.get(sp.id, ()), key=lambda c: c.start):
                lo, hi = max(ch.start, cur_end), min(ch.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[sp.id] = (sp.end - sp.start) - covered
        return out

    def totals(self, name: str, lo: float = -math.inf, hi: float = math.inf,
               parent: str | None = None) -> tuple[int, float, float]:
        """(calls, total seconds, total self seconds) of the spans
        ``name`` that started within [lo, hi), optionally only those
        whose parent span is named ``parent``."""
        selfs = self.self_times()
        picked = [sp for sp in self.spans
                  if sp.name == name and lo <= sp.start < hi
                  and (parent is None or (sp.parent is not None
                                          and self.spans[sp.parent].name == parent))]
        return (
            len(picked),
            sum(sp.end - sp.start for sp in picked),
            sum(selfs[sp.id] for sp in picked),
        )

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for sp in self.spans:
                row = dict(sp.__dict__)
                row["self"] = selfs[sp.id]
                fh.write(json.dumps(row) + "\n")


# ------------------------------------------------------ spark counters


STAGE_FIELDS = (
    ("input_mb", "inputBytes", MB),
    ("input_rows", "inputRecords", 1),
    ("shuffle_write_mb", "shuffleWriteBytes", MB),
    ("output_mb", "outputBytes", MB),
    ("spill_mb", "diskBytesSpilled", MB),
    ("gc_s", "jvmGcTime", 1000),
    ("executor_run_s", "executorRunTime", 1000),
    ("tasks", "numTasks", 1),
)


def spark_counters(spark) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and the summed stage counters of
    Spark's own status store (the store behind the web UI, kept even
    with the UI off). Call once, at the end of a traced run."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        group = grp.get() if grp.isDefined() else "other"
        acc = out.setdefault(group, {"jobs": 0, "stages": 0})
        acc["jobs"] += 1
        sids = job.stageIds()
        for j in range(sids.size()):
            group_of_stage[sids.apply(j)] = group
    jvm = sc._jvm
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), None
    )
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.status().toString() == "SKIPPED":
            continue
        group = group_of_stage.get(st.stageId(), "other")
        acc = out.setdefault(group, {"jobs": 0, "stages": 0})
        acc["stages"] += 1
        for key, getter, scale in STAGE_FIELDS:
            acc[key] = acc.get(key, 0.0) + getattr(st, getter)() / scale
    return out


# --------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    """Children forked by any thread of ``pid``."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            continue
    return out


def _alive(pid: int) -> bool:
    """Still running; an exited process that its new parent has not
    reaped yet (a zombie) has ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of each live process's peak resident set (VmHWM) over the
    tree rooted at ``pid``: this Python process, the JVM and the Python
    workers it forked."""
    total_kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------- bench


@dataclass
class Bench:
    """One run: its directories, session, tracer and results."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    size: str
    root: str
    tracer: Tracer = field(init=False)
    spark: object = None
    work: str = ""
    errors: list[str] = field(default_factory=list)
    setup_end: float = 0.0  # wall clock when the first timed op starts
    measure_start: float = 0.0  # perf_counter bounds of the measured loop
    measure_end: float = 0.0

    def __post_init__(self) -> None:
        run_id = f"{self.workload}-s{self.seed}-p{os.getpid()}"
        self.tracer = Tracer(self.trace, run_id)
        self.work = os.path.join(self.root, "work", run_id)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    @property
    def costly_checks(self) -> bool:
        """Checks that cost a whole extra write (re-delivering a batch,
        re-running an extension) run in traced and tiny runs only: timed
        runs of the full size skip them to fit the benchmark's time
        budget."""
        return self.trace or self.size == "tiny"

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        """The program's own session factory, on every core this
        process may run on, with every scratch file of Spark, the JVM
        and Python inside the run's directory."""
        from etl_workflow_spark import session

        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            "TMPDIR": tmp,
            # every JVM, spark-submit's launcher too: no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "TZ": "UTC",
        })
        # a bounded heap: the machine's memory is shared
        os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
        time.tzset()
        tempfile.tempdir = None  # re-read TMPDIR
        conf = {"spark.sql.warehouse.dir": self.path("spark-warehouse")}
        if self.trace:
            # the status store must still hold every job of the run
            # when the counters are read at its end
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "10",
            })
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark(
                f"perfbench-{self.workload}", extra_conf=conf
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def check(self, ok: bool, message: str | None) -> None:
        if not ok:
            self.errors.append(message)

    def close(self) -> None:
        """Stop Spark, wait for the JVM and every process it forked,
        then drop the run's scratch data."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            tree = process_tree(proc.pid) if proc is not None else []
            self.spark.stop()
            gateway.shutdown()
            # the next session in this process must launch a new JVM
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            deadline = time.monotonic() + 60
            while any(_alive(p) for p in tree[1:]):
                if time.monotonic() > deadline:
                    raise RuntimeError("Spark workers outlived the JVM")
                time.sleep(0.05)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
