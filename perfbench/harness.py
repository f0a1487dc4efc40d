"""Measurement plumbing shared by the workloads: Spark session start,
spans and shims for traced runs, percentiles, job counts and the host
record."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import platform
import shutil
import statistics
import time
from collections import defaultdict

from aetherium_trader_datapipeline_spark.session import get_spark


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# The JVM heap is fixed and touched when the JVM starts, so peak RSS does
# not hinge on when the collector grows the heap; it moves with the memory
# outside the heap and with the Python process's.
JVM_HEAP = "1g"


def start_spark(work: str):
    """A fresh SparkSession through the product's own factory.  A session
    left over from an earlier set-up is stopped first, so every set-up
    pays for a new SparkContext; only the first launches the JVM."""
    from pyspark.sql import SparkSession

    old = SparkSession.getActiveSession()
    if old is not None:
        old.stop()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": JVM_HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin, which makes the
    gateway exit, and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: int) -> float | None:
    """The q-th percentile, or None when fewer than ten samples lie beyond
    it (the benchmark reports only percentiles its sample supports)."""
    n = len(values)
    if n < 2 or n * (100 - q) / 100 < 10 or n * q / 100 < 10:
        return None
    return float(statistics.quantiles(values, n=100, method="inclusive")[q - 1])


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


# ---------------------------------------------------------------------------
# Memory, read from /proc (psutil is not available)
# ---------------------------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of this Python process and of its JVM,
    the process the gateway launched (``spark-submit`` execs into java)."""
    from pyspark import SparkContext

    return {
        "python": _hwm_kb(os.getpid()) / 1024.0,
        "jvm": _hwm_kb(SparkContext._gateway.proc.pid) / 1024.0,
    }


def host_record(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": nproc(),
        "master": sc.master,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def q01_ms(spark, fixture_dir: str) -> float:
    """Host calibrator: warm wall of registry key q01 (a full lineitem
    scan) on the generated fixture."""
    from aetherium_trader_datapipeline_spark.queries import REGISTRY

    q = REGISTRY["q01_scan_agg"]
    q.run(spark, fixture_dir).collect()
    t0 = time.perf_counter()
    q.run(spark, fixture_dir).collect()
    return (time.perf_counter() - t0) * 1000.0


# ---------------------------------------------------------------------------
# Job counts from Spark's status tracker
# ---------------------------------------------------------------------------


class JobCounter:
    """Counts the jobs Spark launches inside a block, by tagging the
    calling thread's jobs with a job group and asking the status tracker.
    Disabled (untraced runs), it makes no call into Spark and counts 0."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.n = 0

    @contextlib.contextmanager
    def group(self):
        box = [0]
        if not self.enabled:
            yield box
            return
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield box
        finally:
            self.sc._jsc.clearJobGroup()
            box[0] = self.for_group(gid)

    def for_group(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))


def scan_metrics(df) -> tuple[int, int, int]:
    """(files, bytes, rows) read by the file scans of ``df``'s last
    execution, from the executed plan's SQL metrics.  Adaptive plans are
    walked through their final plan and query stages."""
    files = size = rows = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            m = node.metrics()
            files += int(m.apply("numFiles").value())
            size += int(m.apply("filesSize").value())
            rows += int(m.apply("numOutputRows").value())
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return files, size, rows


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, layer, start, end, parent, op id).

    Disabled, ``span`` does nothing and ``shim`` installs nothing, so an
    untraced run times the program as it is.  Enabled, ``shim`` wraps a
    public function of a module (or a method of a class) in a span of the
    given layer; ``restore`` puts every original back.
    """

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = None
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - c0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def shim(self, owner, attr: str, layer: str) -> None:
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def self_ms_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part its children cover, summed
        per layer.  Spans of one thread nest, so children never overlap."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"] - child[s["id"]]) * 1000.0
        return dict(out)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
