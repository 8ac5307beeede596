"""Shared machinery: Spark session lifecycle, host probe, worker memory
sampler, span tracer with Spark job labels, and the fixture cache.

Everything the benchmark writes stays under the checkout: fixtures and
Spark scratch in ``.perfbench_cache/``, span and result files in
``.perfbench_out/``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
import zlib
from contextlib import contextmanager
from time import perf_counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
NPROC = len(os.sched_getaffinity(0))
FIXTURES_KEPT = 36  # fixture sets kept on disk (12 seeds of both workloads); older ones are evicted


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# Host probe
# ---------------------------------------------------------------------------


def calib_probe() -> float:
    """The fixed single-thread numpy probe of ``bench.py`` q0 (no Spark, no
    I/O), with one pass of its loop instead of three: seconds it takes on
    this host right now."""
    import numpy as np

    t0 = perf_counter()
    rng = np.random.default_rng(4242)
    a = rng.integers(0, 1 << 20, size=1 << 23).astype(np.int64)
    b = np.sort(a)
    np.diff(b).clip(0).cumsum()
    (a * 2654435761 % 4294967291).sum()
    return perf_counter() - t0


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat: on a
    virtual machine, steal is the time the host ran something else while
    this machine had work to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time stolen between two :func:`host_ticks` readings."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


# ---------------------------------------------------------------------------
# Python worker memory
# ---------------------------------------------------------------------------


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, cpu ticks) for every visible process; the ticks
    count the process's own user+system time and that of its reaped
    children."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        lpar, rpar = stat.find("("), stat.rfind(")")
        fields = stat[rpar + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(name)] = (int(fields[1]), stat[lpar + 1 : rpar], ticks)
    return table


def _tree(table: dict, pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, row in table.items():
        children.setdefault(row[0], []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def descendants(pid: int) -> list[int]:
    return _tree(_proc_table(), pid)


def _compiler_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of JVM ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime stime
        except OSError:
            pass
    return total


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process and every descendant (the
    driver, the JVM and the Python workers), as (work, jit): ``jit`` is the
    JVM's JIT compiler threads, ``work`` everything else.  The compiler
    threads never exit (``-XX:-UseDynamicNumberOfCompilerThreads``), so
    their time stays attributable.  On a virtual machine neither counts
    time the host stole."""
    table = _proc_table()
    procs = [os.getpid(), *_tree(table, os.getpid())]
    total = sum(table[p][2] for p in procs)
    jit = sum(_compiler_ticks(p) for p in procs if table[p][1] == "java")
    return (total - jit) / _TICK, jit / _TICK


def python_workers() -> list[int]:
    """The Python processes Spark started (the worker daemon and its forked
    workers): every python descendant of this driver process."""
    table = _proc_table()
    return [p for p in _tree(table, os.getpid()) if table[p][1].startswith("python")]


def python_workers_rss() -> int:
    """Summed resident bytes of :func:`python_workers`."""
    total = 0
    for p in python_workers():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Polls :func:`python_workers_rss` on a thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, python_workers_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, iteration id) around calls
    into the engine, plus Spark job labels.

    Every span sets the Spark job group and description to
    ``<workload>/<name>``, so stage metrics and ``statusTracker`` attribute
    the jobs a call launches to that call.  With ``record=False`` the labels
    are still set but no span is kept (the untraced, end-to-end mode).
    """

    def __init__(self, spark, workload: str, record: bool):
        self.spark = spark
        self.workload = workload
        self.record = record
        self.spans: list[dict] = []
        self.iteration: str | None = None
        self._stack: list[int] = []

    def label(self, name: str) -> str:
        return f"{self.workload}/{name}"

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        label = self.label(name)
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(label, label)
        idx = None
        if self.record:
            idx = len(self.spans)
            self.spans.append(
                {
                    "name": name,
                    "iteration": self.iteration,
                    "parent": self._stack[-1] if self._stack else None,
                    "start": perf_counter(),
                    "end": None,
                }
            )
            self._stack.append(idx)
        try:
            yield label
        finally:
            if idx is not None:
                self.spans[idx]["end"] = perf_counter()
                self._stack.pop()
            if prev:
                sc.setJobGroup(prev, prev)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children never overlap in this closed-loop driver)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_time[i]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def scratch_dir() -> str:
    path = os.path.join(CACHE_DIR, "tmp")
    os.makedirs(path, exist_ok=True)
    return path


def prepare_environment() -> None:
    """Ship the package to Spark's Python workers (they inherit
    ``PYTHONPATH`` from the JVM, which inherits it from this process) and
    keep every temporary file of Python, the JVM and Spark in the checkout.
    Must run before the first SparkSession starts."""
    tmp = scratch_dir()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (the spark-submit launcher too): no
    # hsperfdata files under /tmp, temporary files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    import tempfile

    tempfile.tempdir = tmp


def start_session(ui: bool):
    from pyspark.sql import SparkSession

    tmp = scratch_dir()
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{NPROC}]")
        .config("spark.sql.shuffle.partitions", str(NPROC))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, the JVM and anything else this process started,
    and wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # listed before the JVM goes: Python workers it leaves behind are
    # re-parented away from this process and would no longer be found
    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = sorted(set(descendants(os.getpid())) | {p for p in started if _running(p)})
        if not left:
            return
        for p in left:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------
# Fixtures
# ---------------------------------------------------------------------------

_MANIFEST = "_perfbench_manifest.json"


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _file_digests(path: str) -> dict[str, list[int]]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            if name == _MANIFEST or name.endswith(".crc"):
                continue
            full = os.path.join(dirpath, name)
            crc = 0
            with open(full, "rb") as f:
                while chunk := f.read(1 << 20):
                    crc = zlib.crc32(chunk, crc)
            out[os.path.relpath(full, path)] = [os.path.getsize(full), crc]
    return out


class FixtureCache:
    """Generated inputs on disk, keyed by (kind, seed, size).

    A fixture directory holds the generated tables and a manifest with the
    size and crc32 of every file plus the facts computed at generation
    (row counts, checksums).  Reuse re-checks every file against the
    manifest and regenerates on any difference; the newest
    ``FIXTURES_KEPT`` fixture sets are kept.
    """

    def __init__(self, root: str = os.path.join(CACHE_DIR, "fixtures")):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get(self, key: str, build) -> tuple[str, dict, bool]:
        """-> (dir, facts, reused).  ``build(dir)`` writes the tables into
        ``dir`` and returns the facts dict."""
        path = os.path.join(self.root, key)
        man = os.path.join(path, _MANIFEST)
        if os.path.exists(man):
            with open(man) as f:
                saved = json.load(f)
            if saved["files"] == _file_digests(path):
                os.utime(path)
                return path, saved["facts"], True
        shutil.rmtree(path, ignore_errors=True)
        facts = build(path)
        with open(man, "w") as f:
            json.dump({"facts": facts, "files": _file_digests(path)}, f)
        self._evict()
        return path, facts, False

    def _evict(self) -> None:
        sets = sorted(
            (os.path.getmtime(os.path.join(self.root, d)), d) for d in os.listdir(self.root)
        )
        for _, d in sets[:-FIXTURES_KEPT]:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
