"""Measurement plumbing shared by the workloads: the Spark session, job
counting, process-tree memory sampling and the in-memory span tracer."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

#: task slots: every CPU this process may run on, never more
SLOTS = len(os.sched_getaffinity(0))
#: fixed, pre-touched JVM heap (-Xms = -Xmx): the JVM's resident memory does
#: not grow with the heap pages GC happens to touch during a run
HEAP = "2g"


def configure_env(root: str, work: str) -> None:
    """Point every temporary file of Spark, the JVM and the Python workers
    into ``work`` and make the engine and this directory importable by the
    workers.  Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [root, os.path.dirname(os.path.abspath(__file__))]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # single-threaded BLAS in every worker, as in bench.py
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    import tempfile

    tempfile.tempdir = tmp


def make_session(work: str):
    """``local[SLOTS]`` session with ``bench.py``'s Arrow batch and file-split
    settings, a fixed heap and no console progress bar."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(SLOTS * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024))
        .config("spark.sql.files.openCostInBytes", "0")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the Spark context, then the JVM, and wait until it has exited
    (Spark's own exit hook would let it outlive this process)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def noop(df) -> None:
    """Materialize every row without collecting it into this process."""
    df.write.format("noop").mode("overwrite").save()


class JobCounter:
    """Counts the Spark jobs a block of code starts, through a job
    group set around it (``statusTracker`` keeps the group's job ids)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def __call__(self, fn, *args, **kw):
        """(result, jobs started) of ``fn(*args, **kw)``."""
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, group)
        try:
            out = fn(*args, **kw)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(self.sc.statusTracker().getJobIdsForGroup(group))


def _pss_kb(pid: int) -> int | None:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it.  A child the JVM forks to run a
    command maps the JVM's whole heap until it execs; summed as RSS, that
    briefly doubles the JVM."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _tree(root_pid: int) -> dict[int, tuple[int, int]]:
    """pid -> (proportional set KiB, CPU ticks) of ``root_pid`` and its
    descendants."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command, from field 3 (state):
        # ppid is field 4, utime/stime 14/15
        fields = stat[stat.rindex(b")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = int(fields[11]) + int(fields[12])
    tree, stack = {}, [root_pid]
    while stack:
        pid = stack.pop()
        pss = _pss_kb(pid) if pid in cpu else None
        if pss is not None:
            tree[pid] = (pss, cpu[pid])
        stack.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Peak resident memory (summed proportional set sizes) of the part of
    this process tree that runs during a call: this process, the JVM, and
    every Python worker or daemon that uses CPU after ``reset``.  Idle
    pooled workers are left out: Spark keeps a varying number of them
    between calls."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._cpu0: dict[int, int] = {}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self.active.wait(self.period) and not self._stop.is_set():
                total = sum(
                    kb
                    for p, (kb, cpu) in _tree(pid).items()
                    if p == pid or cpu > self._cpu0.get(p, -1)
                )
                self.peak_kb = max(self.peak_kb, total)
                time.sleep(self.period)

    def reset(self) -> None:
        """Start a new call: forget the peak, note each process's CPU time."""
        self._cpu0 = {p: cpu for p, (_, cpu) in _tree(os.getpid()).items()}
        self.peak_kb = 0

    def close(self) -> None:
        self._stop.set()
        self.active.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as JSON
    lines by ``dump``.  Times come from ``time.perf_counter``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def table(self) -> list[tuple[str, int, float, float]]:
        """(name, count, total s, self s) per span name; a span's self time
        is its duration minus the time its direct children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        rows: dict[str, list] = {}
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            r = rows.setdefault(s["name"], [0, 0.0, 0.0])
            r[0] += 1
            r[1] += dur
            r[2] += dur - child_time.get(i, 0.0)
        return [(k, *v) for k, v in rows.items()]


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.index = len(t.spans)
        t.spans.append(
            {
                "name": self.name,
                "start": time.perf_counter(),
                "end": None,
                "parent": t._open[-1] if t._open else None,
                "run_id": t.run_id,
            }
        )
        t._open.append(self.index)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.index]["end"] = time.perf_counter()
        t._open.pop()
        return False

    @property
    def seconds(self) -> float:
        s = self.tracer.spans[self.index]
        return s["end"] - s["start"]


def median(xs) -> float:
    return statistics.median(xs)
