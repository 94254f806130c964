"""Shared machinery of the benchmark: Spark sessions, the closed-loop
timer, process-tree memory sampling, Spark event-log parsing and the
in-process span tracer.

Everything here drives camelot_spark from the outside; nothing in the
program is changed or configured beyond what a user's session would set.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time

ARROW_BATCH = 1000          # spark.sql.execution.arrow.maxRecordsPerBatch
DRIVER_MEMORY = "2g"        # fits a 15 GB host next to other tenants
SETUP_REPS = 2              # setup_s is the median of this many cold set-ups


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark process: its scratch directory under the checkout,
    the current Spark session and the JVM it runs in."""

    def __init__(self, root: str):
        self.root = root
        self.work = os.path.join(root, ".perfbench")
        self.cores = nproc()
        self.spark = None
        self._old_sessions = []   # keeps ids unique for ensure_shipped
        for sub in ("tmp", "spark-local", "eventlog", "data", "out"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        # every scratch file of the run (package zips, Spark shuffle and
        # block files, the JVM's temp files) stays inside the checkout
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        import tempfile
        tempfile.tempdir = tmp

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def env_record(self) -> dict:
        return {"master": f"local[{self.cores}]", "cores": self.cores,
                "arrow_batch": ARROW_BATCH, "aqe": True,
                "shuffle_partitions": self.cores,
                "driver_memory": DRIVER_MEMORY}

    def start_session(self, event_log: bool = False):
        """Start a SparkSession in a new JVM: any running session is
        stopped and its JVM ended first, so every start is cold (JVM
        launch, HotSpot JIT, Spark codegen, fresh Python workers)."""
        from pyspark.sql import SparkSession

        self.close()
        b = (SparkSession.builder.master(f"local[{self.cores}]")
             .appName("perfbench")
             .config("spark.driver.memory", DRIVER_MEMORY)
             # initial heap = max heap: the JVM never resizes its heap,
             # so its resident memory depends on the work, not on when
             # the collector decided to grow. No perf-data file: HotSpot
             # would write it under /tmp whatever java.io.tmpdir says.
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={self.path('tmp')} -Xms{DRIVER_MEMORY} "
                     "-XX:-UsePerfData")
             .config("spark.local.dir", self.path("spark-local"))
             .config("spark.sql.warehouse.dir", self.path("warehouse"))
             .config("spark.sql.shuffle.partitions", str(self.cores))
             .config("spark.default.parallelism", str(self.cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                     str(ARROW_BATCH))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", "true" if event_log else "false")
             .config("spark.eventLog.dir", "file://" + self.path("eventlog"))
             .config("spark.eventLog.compress", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, warm, event_log: bool = False) -> list[float]:
        """Set up SETUP_REPS times, each from a new JVM: session start,
        package ship (``pipeline.ensure_shipped``) and the workload's
        warm-up job. Returns the wall time of each; the session of the
        last one stays up for the timed jobs."""
        import pyspark.sql  # noqa: F401  (Python imports stay out of the first rep)
        from camelot_spark import pipeline

        walls = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = self.start_session(event_log=event_log)
            pipeline.ensure_shipped(spark)
            warm(spark)
            walls.append(time.perf_counter() - t0)
        return walls

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for both to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            # ensure_shipped keys sessions by id(): keep the old object
            # alive so a new session never reuses its id
            self._old_sessions.append(self.spark)
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()   # the JVM exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def closed_loop(job, seconds: float, min_jobs: int = 1) -> list[float]:
    """Run ``job`` back to back until ``seconds`` have passed and at
    least ``min_jobs`` have completed; one job at a time (a closed loop
    with one client). Returns each job's wall seconds."""
    walls = []
    t_end = time.perf_counter() + seconds
    while len(walls) < min_jobs or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        job()
        walls.append(time.perf_counter() - t0)
    return walls


# --- memory -----------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        r = s.rindex(")")
        comm = s[s.index("(") + 1:r]
        ppid = int(s[r + 2:].split()[1])
        out[int(d)] = (ppid, comm)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Samples the resident memory of the JVM and of the Python worker
    processes below it (read from /proc) every ``interval`` seconds
    while running; keeps the peaks."""

    def __init__(self, jvm_pid: int | None, interval: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_workers = 0
        self.peak_jvm = 0
        self.peak_total = 0     # peak of the JVM + workers sum, per sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        if self.jvm_pid is None:
            return
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        workers = 0
        stack = list(children.get(self.jvm_pid, []))
        while stack:
            pid = stack.pop()
            stack.extend(children.get(pid, []))
            if table[pid][1].startswith("python"):
                workers += _rss_bytes(pid)
        jvm = _rss_bytes(self.jvm_pid)
        self.peak_workers = max(self.peak_workers, workers)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_total = max(self.peak_total, workers + jvm)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# --- Spark event log ----------------------------------------------------


def read_event_log(directory: str, prefix: str) -> dict:
    """Task, GC and shuffle figures from the event logs in
    ``directory``, over the jobs whose description (set by the
    benchmark with ``setJobDescription``) starts with ``prefix``.
    Shuffle bytes and stage counts are keyed by description."""
    # stage ids restart with every SparkContext: key stages by (log, id)
    stage_desc: dict[tuple, str] = {}
    stage_ok: set[tuple] = set()
    tasks = []   # (stage key, run_ms, gc_ms, shuffle_write_bytes)
    # Spark 4 writes one directory per application (rolling event log)
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(directory)
                   for f in fs if f.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault((path, sid), desc)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Failure Reason" not in info:
                        stage_ok.add((path, info["Stage ID"]))
                elif kind == "SparkListenerTaskEnd":
                    key = (path, ev["Stage ID"])
                    if not stage_desc.get(key, "").startswith(prefix):
                        continue
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append((key, m.get("Executor Run Time", 0),
                                  m.get("JVM GC Time", 0),
                                  sw.get("Shuffle Bytes Written", 0)))
    run_total = sum(t[1] for t in tasks)
    by_stage: dict[tuple, list[int]] = {}
    shuffle_by_desc: dict[str, int] = {}
    for key, run_ms, _, sw in tasks:
        by_stage.setdefault(key, []).append(run_ms)
        d = stage_desc[key]
        shuffle_by_desc[d] = shuffle_by_desc.get(d, 0) + sw
    stages_by_desc: dict[str, int] = {}
    for key in stage_ok:
        d = stage_desc.get(key, "")
        if d.startswith(prefix):
            stages_by_desc[d] = stages_by_desc.get(d, 0) + 1
    # straggler ratio over the heaviest stage: the one holding the
    # kernel (extraction) or the largest operator (curation)
    straggler = 0.0
    if by_stage:
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        straggler = max(heavy) / med if med > 0 else 0.0
    return {
        "tasks": len(tasks),
        "task_straggler_ratio": straggler,
        "gc_frac": (sum(t[2] for t in tasks) / run_total) if run_total else 0.0,
        "shuffle_bytes_by_desc": shuffle_by_desc,
        "stages_by_desc": stages_by_desc,
    }


# --- in-process span tracer --------------------------------------------


class Tracer:
    """Spans (name, id, start, end, parent) recorded in memory around
    calls into the program's module-level functions.

    ``wrap(module, attr, name)`` replaces ``module.attr`` with a timing
    wrapper; ``restore()`` puts every original back. A span's parent is
    the span open when it started, so self time (duration minus
    children) never counts a nested call twice."""

    def __init__(self):
        self.spans: list[list] = []   # [name, id, start, end, parent]
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.current_id = ""

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self.patch(module, attr, traced)

    def patch(self, module, attr: str, fn) -> None:
        """Replace ``module.attr`` with ``fn`` until ``restore()``."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def tagged(self, docs):
        """Yield (doc_id, ...) items, making each doc_id the id of the
        spans recorded while the consumer works on that item."""
        for item in docs:
            self.current_id = item[0]
            yield item

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append([name, self.current_id, time.perf_counter_ns(), 0,
                           self._stack[-1] if self._stack else -1])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][3] = time.perf_counter_ns()

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def self_times_ns(self) -> dict[str, int]:
        child = [0] * len(self.spans)
        for name, _, s, e, parent in self.spans:
            if parent >= 0:
                child[parent] += e - s
        out: dict[str, int] = {}
        for i, (name, _, s, e, _) in enumerate(self.spans):
            out[name] = out.get(name, 0) + (e - s) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "id", "start_ns", "end_ns", "parent"],
                       "spans": self.spans}, f)
