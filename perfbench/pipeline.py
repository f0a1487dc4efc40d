"""Workload ``pipeline``: the reference's operational loop, closed-loop.

One step drains the landed backlog through ``ingest_stream`` (validation,
quarantine, hourly-partitioned parquet) into a fresh store, one landed
file per micro-batch: each batch carries one symbol-day of about 1,440
ticks, near the reference's 1000-tick flush.  It then runs
``backfill_range`` over the seeded outage days.  A batch starts only after
the previous one commits, so the drain rate is the highest sustainable
ingest rate.

The stream's output is checked after each drain, untimed.  After the
timed steps each backfilled day is read back through
``spark.read.parquet``.  The store is written by the streaming sink, as
the product does, and backfill then writes into it:
the backfilled days are outside the sink's ``_spark_metadata`` log, so
readers do not see them, and re-writing the resume day deletes files the
log still lists.  Such a read-back is a failed operation.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.operators import backfill as backfill_ops
from aetherium_trader_datapipeline_spark.operators.validate import TICK_SCHEMA_DDL
from aetherium_trader_datapipeline_spark.plans import backfill_service
from aetherium_trader_datapipeline_spark.plans.control_table import ControlTable
from aetherium_trader_datapipeline_spark.sources.ticks import historical_ticks
from aetherium_trader_datapipeline_spark.streaming import ingest

from perfbench import data
from perfbench.harness import JobCounter, dir_bytes, fresh_dir, median, percentile
from perfbench.layers import CONTROL_METHODS

N_SYMBOLS = 2
N_DAYS = 3
BACKFILL_SYMBOLS = data.SYMBOLS[:1]
# per-layer name -> StreamingQueryProgress.durationMs key
DURATIONS = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
}


def install_shims(tracer) -> None:
    tracer.shim(ingest, "ingest_stream", "streaming.ingest")
    tracer.shim(backfill_service, "backfill_range", "plans.backfill_service")
    tracer.shim(backfill_service, "existing_dates", "operators.gaps")
    # backfill_service imported these by name: patch its references too
    tracer.shim(backfill_service, "ingest_batch", "streaming.ingest")
    tracer.shim(backfill_service, "plan_backfill_days", "operators.backfill")
    tracer.shim(backfill_ops, "detect_gaps", "operators.gaps")
    for m in CONTROL_METHODS:
        tracer.shim(ControlTable, m, "plans.control_table")


def _fetch_day(spark, symbol, d):
    return historical_ticks(spark, symbol, d, today=data.TODAY)


class Workload:
    min_steps = 2

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        rng = np.random.default_rng([seed, 1])
        # one outage day per backfilled symbol, never the first day
        self.outage = {s: int(rng.integers(1, N_DAYS)) for s in BACKFILL_SYMBOLS}
        self.stores: list[tuple[str, dict]] = []
        self.batches: list[dict] = []
        self.ingest_s = self.backfill_s = 0.0
        self.step_s: list[float] = []
        self.days_processed = self.days_planned = 0
        self.jobs = {"ingest": 0, "backfill": 0}
        self.source_rows = 0
        self.ticks = self.quarantined = self.files = self.store_bytes = 0
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.defects: list[str] = []

    def setup(self, spark) -> dict:
        t0 = time.perf_counter()
        self.landing = fresh_dir(os.path.join(self.work, "landing"))
        skip = frozenset(self.outage.items())
        self.expected = data.land_ticks(self.landing, self.seed, N_SYMBOLS, N_DAYS, skip)
        self.warm_landing = fresh_dir(os.path.join(self.work, "warm_landing"))
        data.land_ticks(self.warm_landing, self.seed + 1, 1, 2)
        return {"pipeline.landing_ms": (time.perf_counter() - t0) * 1000.0}

    def _ingest(self, spark, landing: str, root: str):
        src = (
            spark.readStream.schema(TICK_SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = ingest.ingest_stream(
            src,
            os.path.join(root, "store"),
            os.path.join(root, "checkpoint"),
            available_now=True,
            quarantine_dir=os.path.join(root, "quarantine"),
        )
        with self.tracer.span("streaming.ingest", "streaming.ingest.await"):
            q.awaitTermination()
            q.quarantine_query.awaitTermination()
        return q

    def _backfill(self, spark, root: str, symbols, n_days: int):
        control = ControlTable(os.path.join(root, "control"))
        start, end = str(data.day(0)), str(data.day(n_days - 1))
        reports = {}
        for sym in symbols:
            self.attempted += 1
            try:
                reports[sym] = backfill_service.backfill_range(
                    spark, control, _fetch_day, os.path.join(root, "store"), sym, start, end
                )
            except Exception as e:  # a failed operation is counted, not fatal
                self.failed += 1
                self.defects.append(f"backfill_range {sym}: {_cause(e)}")
        return reports

    def warm_up(self, spark) -> None:
        root = fresh_dir(os.path.join(self.work, "warm"))
        self._ingest(spark, self.warm_landing, root)
        self._backfill(spark, root, data.SYMBOLS[:1], 2)

    def step(self, spark, i: int) -> None:
        root = fresh_dir(os.path.join(self.work, f"round{i}"))
        jc = JobCounter(spark, self.tracer.enabled)
        t0 = time.perf_counter()
        q = self._ingest(spark, self.landing, root)
        t1 = time.perf_counter()
        # backfill deletes some of the stream's files, so the stream's
        # output is checked here, untimed
        with self.tracer.span("check", "pipeline.check_stream_output"):
            self._check_stream_output(root)
        t2 = time.perf_counter()
        with jc.group() as jobs:
            reports = self._backfill(spark, root, BACKFILL_SYMBOLS, N_DAYS)
        t3 = time.perf_counter()
        self.ingest_s += t1 - t0
        self.backfill_s += t3 - t2
        self.step_s.append(t1 - t0 + t3 - t2)
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        self.batches.extend(p.durationMs for p in progress)
        self.attempted += len(progress)
        self.days_processed += sum(r.days_processed for r in reports.values())
        # days the service took from its plan: done or failed, not skipped
        self.days_planned += sum(
            r.days_processed + len(r.failed_days) for r in reports.values()
        )
        self.stores.append((root, reports))
        if jc.enabled:
            self.jobs["backfill"] += jobs[0]
            self.jobs["ingest"] += jc.for_group(str(q.runId))
            self.jobs["ingest"] += jc.for_group(str(q.quarantine_query.runId))
            self.source_rows += sum(p.numInputRows for p in progress)
            self.source_rows += sum(
                p.numInputRows for p in q.quarantine_query.recentProgress
            )

    # -- checks ----------------------------------------------------------

    def check(self, spark) -> None:
        for root, reports in self.stores:
            self._check_backfill(spark, root, reports)

    def _check_stream_output(self, root: str) -> None:
        """Stored rows equal the valid landed ticks, quarantined rows equal
        the injected invalid ticks, and no (symbol, timestamp) repeats.
        Counted with DuckDB, independently of Spark."""
        store = os.path.join(root, "store")
        con = duckdb.connect()
        try:
            stored, distinct = con.execute(
                "SELECT count(*), count(DISTINCT (symbol, timestamp)) FROM "
                f"read_parquet('{store}/*/*/*/*.parquet')"
            ).fetchone()
            quarantined = con.execute(
                f"SELECT count(*) FROM read_parquet('{root}/quarantine/*/*/*/*.parquet')"
            ).fetchone()[0]
        finally:
            con.close()
        want = self.expected
        if stored != want["valid"]:
            self.problems.append(f"stored {stored} rows, landed {want['valid']} valid")
        if quarantined != want["invalid"]:
            self.problems.append(f"quarantined {quarantined}, injected {want['invalid']}")
        if distinct != stored:
            self.problems.append(f"{stored - distinct} duplicated (symbol, timestamp)")
        files, size = dir_bytes(store)
        self.ticks += stored
        self.quarantined += quarantined
        self.files += files
        self.store_bytes += size

    def _check_backfill(self, spark, root: str, reports) -> None:
        """Every backfilled day reads back with 1,440 ticks through the
        product's reader."""
        store = os.path.join(root, "store")
        for sym, rep in reports.items():
            days = {str(data.day(0)), str(data.day(self.outage[sym]))}
            self.attempted += len(days)
            if rep.failed_days:
                self.failed += len(rep.failed_days)
                self.defects.append(f"backfill {sym}: failed days {rep.failed_days}")
            for d in sorted(days - set(rep.failed_days)):
                try:
                    n = (
                        spark.read.parquet(store)
                        .where((F.col("symbol") == sym) & (F.col("date") == d))
                        .count()
                    )
                except Exception as e:
                    self.failed += 1
                    self.defects.append(f"read-back {sym} {d}: {_cause(e)}")
                    continue
                if n != data.MINUTES_PER_DAY:
                    self.failed += 1
                    self.defects.append(f"read-back {sym} {d}: {n} rows, expected 1440")

    # -- results -------------------------------------------------------------

    def results(self):
        walls = [b["triggerExecution"] for b in self.batches]
        report = {
            "ingest_ticks_per_s": (self.ticks / self.ingest_s, "1/s"),
            "ingest_batch_p50_ms": (median(walls), "ms"),
            "ingest_batch_p90_ms": (percentile(walls, 90), "ms"),
            "ingest_batches": (len(walls), "count"),
            "backfill_days_per_s": (self.days_processed / self.backfill_s, "1/s"),
            "store_bytes_per_tick": (self.store_bytes / self.ticks, "B"),
        }
        n = len(walls)
        steps = len(self.step_s)
        layers = {
            "streaming.ingest.batches": n,
            "streaming.ingest.jobs_per_batch": self.jobs["ingest"] / n,
            "streaming.ingest.files_written": self.files / steps,
            "streaming.ingest.ticks_per_file": self.ticks / self.files,
            "streaming.ingest.quarantined_rows": self.quarantined / steps,
            "streaming.ingest.source_rows_read_per_tick": self.source_rows
            / (self.ticks + self.quarantined),
            "plans.backfill_service.days_planned": self.days_planned / steps,
            "plans.backfill_service.days_processed": self.days_processed / steps,
            "plans.backfill_service.jobs_per_day": self.jobs["backfill"]
            / max(self.days_processed, 1),
        }
        for name, key in DURATIONS.items():
            layers[f"streaming.ingest.{name}_p50"] = median([b.get(key, 0) for b in self.batches])
        return {
            "op_p50_ms": median(walls),
            "op_count": n,
            "samples_ms": {"batch": walls},
            "step_s": median(self.step_s),
            "report": report,
            "layers": layers,
        }


def _cause(e: Exception) -> str:
    """The root cause of a Py4J error (e.g. the JVM's
    ``FileNotFoundException``), else the exception's class name."""
    causes = [ln.strip() for ln in str(e).splitlines() if ln.startswith("Caused by:")]
    return (causes[-1] if causes else type(e).__name__)[:200]
