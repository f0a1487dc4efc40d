"""Workload ``kbar_store``: read-only queries over a tick store that
``ingest_stream`` wrote during set-up.

It reads the layout ``pipeline`` writes (one file per symbol-hour), so a
layout change that helps one side and costs the other shows up.  One step
is one pass of the mix, with the (symbol, day) picks drawn from the seed:

- ``point``: minute bars for one symbol and one day (``operators.ohlcv``);
- ``range``: hourly bars for one symbol over every stored day;
- ``scan``: daily bars for all symbols;
- ``gap_scan``: ``existing_dates`` + ``detect_gaps`` for one symbol;
- ``verify``: ``operators.inspect.inspect_parquet`` over the store.

Every query opens the store with ``spark.read.parquet``, as a trader's
query would.  Bars are checked against DuckDB over the same files, gaps
against the seeded outage days, and the verify counts against the files
on disk.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import duckdb
import numpy as np
from pyspark.sql import functions as F

from aetherium_trader_datapipeline_spark.operators import gaps, inspect, ohlcv
from aetherium_trader_datapipeline_spark.operators.validate import TICK_SCHEMA_DDL
from aetherium_trader_datapipeline_spark.plans import backfill_service
from aetherium_trader_datapipeline_spark.streaming import ingest

from perfbench import data
from perfbench.harness import JobCounter, dir_bytes, fresh_dir, median, scan_metrics

N_SYMBOLS = 3
N_DAYS = 5
KINDS = ("point", "range", "scan", "gap_scan", "verify")
BUCKET = {"point": "minute", "range": "hour", "scan": "day"}


def install_shims(tracer) -> None:
    tracer.shim(ohlcv, "ohlcv", "operators.ohlcv")
    tracer.shim(backfill_service, "existing_dates", "operators.gaps")
    tracer.shim(gaps, "detect_gaps", "operators.gaps")
    tracer.shim(inspect, "inspect_parquet", "operators.inspect")


class Workload:
    min_steps = 2

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        rng = np.random.default_rng([seed, 2])
        # one seeded outage day per symbol, strictly inside the range so
        # gap detection has to find it
        self.outage = {s: int(rng.integers(1, N_DAYS - 1)) for s in data.SYMBOLS[:N_SYMBOLS]}
        self.picks = np.random.default_rng([seed, 3])
        self.walls = defaultdict(list)
        self.outputs: list[tuple[str, tuple, object]] = []
        self.trace = defaultdict(list)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.defects: list[str] = []

    def setup(self, spark) -> dict:
        """Land the ticks and drain them into the store with ``ingest_stream``."""
        root = fresh_dir(os.path.join(self.work, "build"))
        t0 = time.perf_counter()
        landing = os.path.join(root, "landing")
        self.expected = data.land_ticks(
            landing, self.seed, N_SYMBOLS, N_DAYS, frozenset(self.outage.items())
        )
        t1 = time.perf_counter()
        self.store = os.path.join(root, "store")
        src = spark.readStream.schema(TICK_SCHEMA_DDL).parquet(landing)
        q = ingest.ingest_stream(
            src, self.store, os.path.join(root, "checkpoint"), available_now=True
        )
        q.awaitTermination()
        t2 = time.perf_counter()
        return {
            "kbar_store.landing_ms": (t1 - t0) * 1000.0,
            "kbar_store.build_ms": (t2 - t1) * 1000.0,
        }

    # -- the query mix -----------------------------------------------------

    def _pick(self, kind: str) -> tuple:
        sym = data.SYMBOLS[int(self.picks.integers(0, N_SYMBOLS))]
        if kind == "point":
            present = [d for d in range(N_DAYS) if d != self.outage[sym]]
            return sym, str(data.day(int(self.picks.choice(present))))
        return (sym,) if kind in ("range", "gap_scan") else ()

    def _bars(self, spark, kind: str, pick: tuple, traced: bool):
        with self.tracer.span("spark.read", "spark.read.parquet"):
            t0 = time.perf_counter()
            df = spark.read.parquet(self.store)
            t1 = time.perf_counter()
        if kind == "point":
            df = df.where((F.col("symbol") == pick[0]) & (F.col("date") == pick[1]))
        elif kind == "range":
            df = df.where(F.col("symbol") == pick[0])
        bars = ohlcv.ohlcv(df, "timestamp", ["symbol"], "last_price", "last_size", BUCKET[kind])
        with self.tracer.span("operators.ohlcv", "operators.ohlcv.collect"):
            t2 = time.perf_counter()
            rows = bars.collect()
            t3 = time.perf_counter()
        if traced:
            self.trace["store_open_ms"].append((t1 - t0) * 1000.0)
            self.trace["collect_ms"].append((t3 - t2) * 1000.0)
            self.trace["rows_returned"].append(len(rows))
            self.last_bars = bars
        return rows

    def _query(self, spark, kind: str, pick: tuple, traced: bool = False):
        if kind in BUCKET:
            return self._bars(spark, kind, pick, traced)
        if kind == "gap_scan":
            present = backfill_service.existing_dates(spark, self.store, pick[0])
            found = gaps.detect_gaps(present, str(data.day(0)), str(data.day(N_DAYS - 1)))
            with self.tracer.span("operators.gaps", "operators.gaps.collect"):
                return found.collect()
        report = inspect.inspect_parquet(spark, self.store)
        if traced:
            self.trace["files_listed"].append(report["num_files"])
        return report

    def warm_up(self, spark) -> None:
        for kind in KINDS:
            self._query(spark, kind, self._pick(kind))

    def step(self, spark, i: int) -> None:
        jc = JobCounter(spark, self.tracer.enabled)
        for kind in KINDS:
            pick = self._pick(kind)
            self.attempted += 1
            with jc.group() as jobs:
                with self.tracer.span("bench", f"kbar.{kind}"):
                    t0 = time.perf_counter()
                    out = self._query(spark, kind, pick, jc.enabled)
                    self.walls[kind].append((time.perf_counter() - t0) * 1000.0)
            if jc.enabled:
                self.trace[f"jobs.{kind}"].append(jobs[0])
                if kind in BUCKET:
                    files, size, scanned = scan_metrics(self.last_bars)
                    self.trace["files"].append(files)
                    self.trace["bytes"].append(size)
                    self.trace["rows_scanned"].append(scanned)
            self.outputs.append((kind, pick, out))

    # -- checks ------------------------------------------------------------

    def check(self, spark) -> None:
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute(
            "CREATE VIEW ticks AS SELECT * FROM read_parquet("
            f"'{self.store}/*/*/*/*.parquet', hive_partitioning = true)"
        )
        files, _ = dir_bytes(self.store)
        try:
            for kind, pick, out in self.outputs:
                want = self._reference(con, kind, pick, files)
                got = self._canonical(kind, out)
                if got != want:
                    self.problems.append(
                        f"{kind} {pick}: {len(got)} results differ from the reference "
                        f"({len(want)})"
                    )
        finally:
            con.close()

    def _reference(self, con, kind: str, pick: tuple, files: int):
        if kind in BUCKET:
            where = ""
            if kind == "point":
                where = f"WHERE symbol = '{pick[0]}' AND date = DATE '{pick[1]}'"
            elif kind == "range":
                where = f"WHERE symbol = '{pick[0]}'"
            rows = con.execute(
                f"SELECT date_trunc('{BUCKET[kind]}', timestamp)::TIMESTAMP AS w, symbol, "
                "arg_min(last_price, timestamp), max(last_price), min(last_price), "
                "arg_max(last_price, timestamp), round(sum(last_size)::DOUBLE, 4) "
                f"FROM ticks {where} GROUP BY ALL"
            ).fetchall()
            return sorted(rows)
        if kind == "gap_scan":
            d = data.day(self.outage[pick[0]])
            return [(d, d, 1)]
        return (self.expected["valid"], files)

    @staticmethod
    def _canonical(kind: str, out):
        if kind in BUCKET:
            return sorted(
                (r.w.replace(tzinfo=None), r.symbol, r.open, r.high, r.low, r.close, r.vol)
                for r in out
            )
        if kind == "gap_scan":
            return [(r.gap_start, r.gap_end, r.days) for r in out]
        return (out["num_rows"], out["num_files"])

    # -- results -----------------------------------------------------------

    def results(self):
        p50 = {k: median(self.walls[k]) for k in KINDS}
        n = {k: len(self.walls[k]) for k in KINDS}
        report = {
            "kbar_point_p50_ms": (p50["point"], "ms"),
            "kbar_range_p50_ms": (p50["range"], "ms"),
            "kbar_scan_p50_ms": (p50["scan"], "ms"),
            "gap_scan_p50_ms": (p50["gap_scan"], "ms"),
            "verify_p50_ms": (p50["verify"], "ms"),
            "queries_per_kind": (min(n.values()), "count"),
        }
        t = self.trace
        bars = len(t["collect_ms"])
        layers = {}
        if bars:
            returned = sum(t["rows_returned"])
            layers = {
                "kbar.store_open_ms_p50": median(t["store_open_ms"]),
                "kbar.collect_ms_p50": median(t["collect_ms"]),
                "kbar.files_read_per_query": sum(t["files"]) / bars,
                "kbar.bytes_read_per_query": sum(t["bytes"]) / bars,
                "kbar.rows_scanned_per_row_returned": sum(t["rows_scanned"]) / returned,
                "kbar.jobs_per_query": sum(sum(t[f"jobs.{k}"]) for k in BUCKET) / bars,
                "inspect.files_listed": median(t["files_listed"]),
            }
        walls = [w for k in KINDS for w in self.walls[k]]
        return {
            "op_p50_ms": median(walls),
            "op_count": len(walls),
            "samples_ms": {k: self.walls[k] for k in KINDS},
            "step_s": sum(p50.values()) / 1000.0,
            "report": report,
            "layers": layers,
        }
