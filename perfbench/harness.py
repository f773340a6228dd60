"""Spark session, isolation, tracing and process helpers for the benchmark.

Host settings are pinned here so every run measures the same engine
configuration: ``local[<nproc>]``, ``SHUFFLE_PARTITIONS`` shuffle
partitions and a ``DRIVER_HEAP`` driver heap (the whole engine runs in the
driver JVM in local mode). Spark's event log is always on; it is the
source of every engine counter.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SHUFFLE_PARTITIONS = 8
DRIVER_HEAP = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def jvm_peaks(spark, reset: bool = False) -> dict[str, float]:
    """Peak used MB of the driver JVM's heap and non-heap memory pools,
    each the sum of its pools' peaks since the last reset; with
    ``reset``, start over."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    out = {"heap": 0.0, "nonheap": 0.0}
    for pool in mf.getMemoryPoolMXBeans():
        if reset:
            pool.resetPeakUsage()
        else:
            kind = "heap" if pool.getType().name() == "HEAP" else "nonheap"
            out[kind] += pool.getPeakUsage().getUsed() / 2**20
    return out


class Session:
    """Starts and stops SparkSessions with the pinned host settings.

    All scratch state (Spark local dirs, event logs, inputs) lives under
    ``work``."""

    def __init__(self, work: str):
        self.work = work
        self.events = os.path.join(work, "events")
        self.tmp = os.path.join(work, "tmp")
        for d in (self.events, self.tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        # Python workers import the engine from the checkout
        root = os.getcwd()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = None

    def start(self):
        from dedupe_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{nproc()}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(self.events),
                "spark.eventLog.compress": "false",
                "spark.local.dir": self.tmp,
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -Xms{DRIVER_HEAP}"
                ),
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def host(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": nproc(),
            "ram_mb": round(mem_total_mb()),
            "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_heap": DRIVER_HEAP,
        }

    def stop(self) -> str:
        """Stop the SparkContext; returns its event-log path."""
        from eventlog import app_log

        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return app_log(self.events, app_id)

    def shutdown(self) -> None:
        """Stop Spark and the driver JVM and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def isolate(self) -> None:
        """Drop every cached DataFrame and persisted RDD (including
        local-checkpoint blocks) so a run cannot reuse the previous run's
        data, then check that nothing is left."""
        spark = self.spark
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rdd in jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        cm = spark._jsparkSession.sharedState().cacheManager()
        if not cm.isEmpty() or not jsc.getPersistentRDDs().isEmpty():
            raise RuntimeError("cached data survived isolation")


@contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs started inside with ``group``; restores the
    enclosing group on exit."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
        sc.setLocalProperty("spark.job.description", outer)


@dataclass
class Span:
    name: str
    group: str
    start: float = 0.0
    end: float = 0.0
    counts: dict = field(default_factory=dict)  # including build_s

    @property
    def self_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Flat spans around the layer calls of one traced run.

    Each span tags its Spark jobs with the job group ``<run>:<layer>``.
    The span handle's ``build`` runs the layer's public call (which
    should only build a plan) under ``<run>:<layer>:build``, so any job
    the call starts while building shows up separately in the event log.
    Spans are kept in memory and read after the run."""

    def __init__(self, spark, run: str):
        self.spark, self.run = spark, run
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, f"{self.run}:{name}")
        self.spans.append(s)
        s.start = time.perf_counter()
        try:
            with job_group(self.spark, s.group):
                yield _SpanHandle(self.spark, s)
        finally:
            s.end = time.perf_counter()

    def total(self, name: str, key: str | None = None) -> float:
        """Sum over the spans called ``name`` of self time, or of count
        ``key``."""
        got = [s for s in self.spans if s.name == name]
        if key is None:
            return sum(s.self_s for s in got)
        return sum(s.counts.get(key, 0) for s in got)


class _SpanHandle:
    def __init__(self, spark, span: Span):
        self.spark, self.span = spark, span

    def build(self, fn, *args, **kwargs):
        """Call ``fn``, the layer's public call, timing it as ``build_s``."""
        t0 = time.perf_counter()
        with job_group(self.spark, self.span.group + ":build"):
            out = fn(*args, **kwargs)
        self.count(build_s=time.perf_counter() - t0)
        return out

    def count(self, **counts) -> None:
        for k, v in counts.items():
            self.span.counts[k] = self.span.counts.get(k, 0) + v


def materialize(df, **aggs):
    """Run ``df`` once into local-checkpoint blocks, observing ``aggs``
    (name → aggregate Column) on the way. Returns (checkpointed df,
    observed values)."""
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in aggs.items()]).localCheckpoint(
        eager=True
    )
    return out, obs.get


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
