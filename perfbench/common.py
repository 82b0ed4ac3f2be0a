"""Shared pieces of the benchmark: sample statistics, the traced-run
recorder, the Spark session it drives, memory and run-record probes.

Nothing here imports the engine at module load, so the statistics and the
recorder can be tested without Spark.
"""

from __future__ import annotations

import json
import os
import platform
import resource
import shutil
import statistics
import sys
import tempfile
import threading
import time
import urllib.request
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(os.getcwd(), ".perfbench_work")  # cleared every run
OUT = os.path.join(os.getcwd(), "perfbench_out")  # run records, traces

# Tail percentiles tried from the highest down; the reported tail is the
# highest one with at least TAIL_BEYOND samples above it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10
TAIL_MIN_SAMPLES = 40


# ------------------------------------------------------------ statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that has at least
    ten samples beyond it (nearest-rank), or None under 40 samples, where
    any "tail" would be a handful of points."""
    n = len(values)
    if n < TAIL_MIN_SAMPLES:
        return None
    s = sorted(values)
    for p in TAIL_PERCENTILES:
        tenths = round(p * 10)  # exact integer nearest-rank: ceil(p% of n)
        idx = max(-(-tenths * n // 1000) - 1, 0)
        if n - 1 - idx >= TAIL_BEYOND:
            return p, float(s[idx])
    return None


def summarize(values) -> dict:
    """Median, tail and count of a timing list (ms)."""
    out = {"n": len(values)}
    if values:
        out["p50"] = median(values)
        t = tail(values)
        if t is not None:
            out["tail_pct"], out["tail"] = t
    return out


# ------------------------------------------------------------ tracing


class Tracer:
    """Spans and counts recorded at the layer boundaries the benchmark
    calls into.  Spans live in memory and are written once, at the end.
    A disabled tracer records nothing and costs one attribute check."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []  # name, start, end, parent (index)
        self.counts: dict[str, float] = {}
        self._local = threading.local()  # open spans, per thread
        self._local.stack = []
        self._main_stack = self._local.stack  # the creating thread's
        self._wrapped: list[tuple] = []

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        """Innermost open span of this thread; a thread the engine started
        itself has none, so its spans hang under the creating thread's."""
        stack = self._stack or self._main_stack
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": self._parent(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def total(self, name: str) -> float:
        """Summed duration (s) of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def n_spans(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover (their union: children opened
        from the engine's own threads can overlap)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(i, [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def wrap(self, module, attr: str, name: str, counter: str | None = None) -> None:
        """Replace ``module.attr`` by a spanned (and optionally counted)
        wrapper.  The engine resolves these names at call time, so the
        wrapper sees every call without any change inside the package."""
        if not self.enabled:
            return
        inner = getattr(module, attr)
        tracer = self

        def wrapped(*a, **kw):
            if counter:
                tracer.count(counter)
            with tracer.span(name):
                return inner(*a, **kw)

        self._wrapped.append((module, attr, inner))
        setattr(module, attr, wrapped)

    def mark(self) -> int:
        return len(self._wrapped)

    def unwrap_since(self, mark: int) -> None:
        """Put back the functions wrapped after ``mark``, newest first."""
        while len(self._wrapped) > mark:
            module, attr, inner = self._wrapped.pop()
            setattr(module, attr, inner)

    def unwrap_all(self) -> None:
        """Put every wrapped function back, newest first."""
        self.unwrap_since(0)


# ------------------------------------------------------------ Spark


def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"cores": cores, "ram_gb": round(ram / 2**30, 2)}


def prepare_dirs() -> None:
    """Empty the work dir and point every temp file of this process, its
    Spark JVM and the Python workers inside it."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")  # wins over the conf
    # every JVM, the launcher's too: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_spark(trace: bool):
    """The program's own session factory with deployment settings sized
    to this machine: one task thread per core, as many shuffle partitions,
    and a 1g driver heap, which holds these corpora many times over and
    keeps the heap's growth, and so peak memory, from varying with GC
    timing.  Only the traced run turns on the status REST API (for
    shuffle bytes)."""
    from holi_search_engine_spark.session import get_spark

    m = machine()
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = get_spark(
        "perfbench", cores=m["cores"], shuffle_partitions=m["cores"], extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched (which exits on
    EOF on its stdin), and wait until that process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


class SparkProbe:
    """Job and shuffle accounting from outside the program.  Jobs are
    numbered in submission order, so the jobs an operation issued are the
    ids that appeared while it ran — including jobs submitted from the
    engine's own worker threads, which do not inherit a job group.
    Needs the status REST API; only the traced run has it."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def last_job(self) -> int:
        jobs = self._get("jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_since(self, after: int) -> list[dict]:
        return [j for j in self._get("jobs") if j["jobId"] > after]

    def shuffle_write_mb(self, jobs: list[dict]) -> float:
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = self._get("stages")
        total = sum(
            s.get("shuffleWriteBytes", 0) for s in stages if s["stageId"] in stage_ids
        )
        return total / 2**20

    @contextmanager
    def group(self, tracer: Tracer, name: str, counter: str):
        """Tag the calling thread's jobs with ``name`` and add the number
        of jobs issued meanwhile to ``counter``; shuffle bytes go to
        ``counter + '.shuffle_mb'``."""
        sc = self.spark.sparkContext
        before = self.last_job()
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            with tracer.span("trace.probe"):
                self._settle()
                jobs = self.jobs_since(before)
                tracer.count(counter, len(jobs))
                tracer.count(counter + ".shuffle_mb", self.shuffle_write_mb(jobs))

    def _settle(self) -> None:
        # the status store is fed by a listener bus; let it catch up with
        # jobs that just ended before counting them
        time.sleep(0.2)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its Spark JVM."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
    jvm = 0.0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return own + jvm


def run_record(spark, workload: str, seed: int, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        **machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": str(spark._jvm.java.lang.System.getProperty("java.version")),  # noqa: SLF001
        "argv": sys.argv[1:],
        "unix_time": time.time(),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )
