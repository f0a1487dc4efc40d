"""Workload ``headline``: registry keys from ``headline_keys()``, warm,
over a generated fixture.

The ``queries*.py`` registry is most of the code and is rewritten by its
own changes; this workload touches no streaming and no store I/O, so a
change to the product path should not move it, and a change to the
registry should move only it.  A full warm pass of all 48 keys takes
longer than one run may, so the workload runs every sixth key in
registry order (8 keys), chosen by position, not by cost.

The warm-up pass is also the correctness check: each key's result is
compared with its DuckDB oracle through ``tests/oracle.py``'s comparator.
The timed passes then follow ``bench.py``'s protocol: clear the cache,
``run()`` and ``collect()``.
"""

from __future__ import annotations

import importlib.util
import os
import time
from collections import defaultdict

from aetherium_trader_datapipeline_spark import tables
from aetherium_trader_datapipeline_spark.queries import REGISTRY, headline_keys

from perfbench import data
from perfbench.harness import JobCounter, fresh_dir, median

STRIDE = 6


def _oracle_module():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def keys() -> list[str]:
    return headline_keys()[::STRIDE]


def install_shims(tracer) -> None:
    for k in keys():
        tracer.shim(REGISTRY[k], "run", "queries")


class Workload:
    min_steps = 2

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.keys = keys()
        self.walls = defaultdict(list)
        self.trace = defaultdict(int)
        self.eager = set()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.defects: list[str] = []

    def setup(self, spark) -> dict:
        t0 = time.perf_counter()
        self.fixture = fresh_dir(os.path.join(self.work, "fixture"))
        data.write_fixture(self.fixture, self.seed)
        t1 = time.perf_counter()
        tables.load_tables(spark, self.fixture)
        t2 = time.perf_counter()
        return {
            "headline.fixture_ms": (t1 - t0) * 1000.0,
            "tables.load_ms": (t2 - t1) * 1000.0,
        }

    def warm_up(self, spark) -> None:
        oracle = _oracle_module()
        for k in self.keys:
            q = REGISTRY[k]
            self.attempted += 1
            try:
                bad = oracle.compare(q.run(spark, self.fixture), q.oracle, self.fixture, key=k)
            except Exception as e:  # a key that raises is a failed operation
                self.failed += 1
                self.defects.append(f"{k}: {type(e).__name__}")
                continue
            self.problems.extend(bad[:3])

    def step(self, spark, i: int) -> None:
        jc = JobCounter(spark, self.tracer.enabled)
        for k in self.keys:
            spark.catalog.clearCache()
            self.attempted += 1
            with self.tracer.span("bench", f"headline.{k}"):
                t0 = time.perf_counter()
                with jc.group() as in_run:
                    df = REGISTRY[k].run(spark, self.fixture)
                with jc.group() as in_collect:
                    with self.tracer.span("queries", "queries.collect"):
                        t1 = time.perf_counter()
                        df.collect()
                        t2 = time.perf_counter()
            self.walls[k].append((t2 - t0) * 1000.0)
            if jc.enabled:
                self.trace["run_ms"] += (t1 - t0) * 1000.0
                self.trace["collect_ms"] += (t2 - t1) * 1000.0
                self.trace["jobs_in_run"] += in_run[0]
                self.trace["jobs"] += in_run[0] + in_collect[0]
                if in_run[0]:
                    self.eager.add(k)

    def check(self, spark) -> None:
        """Checked against the oracle during the warm-up pass."""

    def results(self):
        per_key = {k: median(self.walls[k]) for k in self.keys}
        passes = len(self.walls[self.keys[0]])
        report = {
            "headline_suite_s": (sum(per_key.values()) / 1000.0, "s"),
            "keys": (len(self.keys), "count"),
            "passes": (passes, "count"),
        }
        layers = {}
        if self.trace:
            layers = {
                "queries.run_ms_total": self.trace["run_ms"] / passes,
                "queries.collect_ms_total": self.trace["collect_ms"] / passes,
                "queries.jobs_in_run_total": self.trace["jobs_in_run"] / passes,
                "queries.jobs_total": self.trace["jobs"] / passes,
                "queries.eager_keys": len(self.eager),
            }
        walls = [w for k in self.keys for w in self.walls[k]]
        return {
            "op_p50_ms": median(walls),
            "op_count": len(walls),
            "samples_ms": dict(self.walls),
            "step_s": sum(per_key.values()) / 1000.0,
            "report": report,
            "layers": layers,
        }
