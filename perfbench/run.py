#!/usr/bin/env python3
"""Benchmark of the tick pipeline, the tick store's K-bar reads and the
headline registry queries.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 15 --trace 0

Workloads (one client, one operation at a time, generated inputs only):

- ``pipeline``: ingest a landed backlog with ``ingest_stream``, backfill
  the seeded outage days with ``backfill_range``, read the days back.
- ``kbar_store``: K-bar, gap-scan and verify queries over a store that
  ``ingest_stream`` wrote during set-up.
- ``headline``: every sixth ``headline_keys()`` key, warm, over a
  generated fixture.

Each run sets up ``SETUPS`` times (a new SparkSession each time; the
first also launches the JVM and is reported apart), warms up once, then repeats the workload's
step until ``--seconds`` have passed.  Outputs are checked outside the
timed steps.  Every end-to-end metric is reported by every workload:

- ``setup_s``: median wall of the warm set-ups (session start plus input
  preparation, such as writing the fixture or building the store);
- ``op_p50_ms``: median latency of one operation: a micro-batch
  (``pipeline``), one K-bar/gap/verify query (``kbar_store``), one
  registry key (``headline``);
- ``step_s``: median wall of one step: one drain plus backfill, one pass
  of the five-query mix (sum of the per-kind medians), one pass of the
  key subset (sum of the per-key medians);
- ``peak_rss_mb``: peak resident memory of the Python process plus its JVM.

With ``--trace 1`` the per-layer metrics are reported instead; spans are
written to ``.perfbench-work/<workload>/trace.jsonl``.  The lines before
the last one carry the host record and each workload's own metrics by
name and unit.  The last line is the result:
``{"correct", "attempted", "failed", "metrics"}``.  ``correct`` is false
when an operation counted as successful produced a wrong result; an
operation that raises or whose output fails its check counts in
``failed``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "aetherium_trader_datapipeline_spark"
# the first set-up also launches the JVM and runs cold; ``setup_s`` is the
# median of the others
SETUPS = 3
# each is a module of this package defining ``Workload`` and ``install_shims``
WORKLOADS = ("pipeline", "kbar_store", "headline")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the package too; they inherit this through the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the JVM's malloc arenas are capped as YARN caps them, which steadies
    # its peak RSS; the product's default shuffle partitions apply
    os.environ["MALLOC_ARENA_MAX"] = "4"
    # no JVM writes its hsperfdata file to /tmp: the run stays in its checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    # collected timestamps become naive datetimes in the local zone; the
    # stores and the checks are UTC
    os.environ["TZ"] = "UTC"
    time.tzset()

    from perfbench import data
    from perfbench.harness import (
        Tracer,
        fresh_dir,
        host_record,
        median,
        peak_rss_mb,
        q01_ms,
        start_spark,
        stop_spark,
    )

    work = fresh_dir(os.path.join(ROOT, ".perfbench-work", args.workload))
    os.environ["TMPDIR"] = fresh_dir(os.path.join(work, "tmp"))
    # spans and shims are switched on for the timed steps only
    tracer = Tracer()
    mod = importlib.import_module(f"perfbench.{args.workload}")
    wl = mod.Workload(args.seed, work, tracer)

    setup_s, setup_layers = [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_spark(work)
        t1 = time.perf_counter()
        layers = wl.setup(spark)
        setup_s.append(time.perf_counter() - t0)
        setup_layers.append({"session.start_ms": (t1 - t0) * 1000.0, **layers})

    phases = {"setup_s": sum(setup_s)}
    t0 = time.perf_counter()
    wl.warm_up(spark)
    phases["warm_up_s"] = time.perf_counter() - t0
    tracer.enabled = bool(args.trace)
    mod.install_shims(tracer)
    t0 = time.perf_counter()
    steps = 0
    with tracer.span("bench", "measure"):
        while steps < wl.min_steps or time.perf_counter() - t0 < args.seconds:
            tracer.op = f"step-{steps}"
            wl.step(spark, steps)
            steps += 1
    measure_ms = (time.perf_counter() - t0) * 1000.0
    tracer.op = None
    tracer.restore()
    tracer.enabled = False
    phases["measure_s"] = measure_ms / 1000.0
    t0 = time.perf_counter()
    wl.check(spark)
    res = wl.results()
    phases["check_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()

    fixture = os.path.join(work, "fixture")
    if not os.path.isdir(fixture):
        data.write_fixture(fixture, args.seed)
    rss = peak_rss_mb()
    host = {
        **host_record(spark),
        "q01_ms": round(q01_ms(spark, fixture), 3),
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
    }
    stop_spark(spark)
    phases["calibrate_s"] = time.perf_counter() - t0

    metrics = {
        "setup_s": (median(setup_s[1:]), "s"),
        "op_p50_ms": (res["op_p50_ms"], "ms"),
        "step_s": (res["step_s"], "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }
    attempted = wl.attempted
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "steps": steps,
        "ops": res["op_count"],
        "setups": [
            {"wall_s": round(t, 3), **{k: round(v, 1) for k, v in parts.items()}}
            for t, parts in zip(setup_s, setup_layers)
        ],
        "host": host,
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "ops_failed_share": wl.failed / attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["report"].items()},
        "samples_ms": {
            k: [round(x, 1) for x in v] for k, v in res["samples_ms"].items()
        },
        "defects": wl.defects,
        "problems": wl.problems,
    }
    print(json.dumps(report))

    if args.trace:
        out = layer_metrics(tracer, res, setup_layers, measure_ms, steps, metrics)
        tracer.write_jsonl(os.path.join(work, "trace.jsonl"))
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(
        json.dumps(
            {
                "correct": not wl.problems,
                "attempted": attempted,
                "failed": wl.failed,
                "metrics": out,
            }
        )
    )
    return 0


def layer_metrics(tracer, res, setup_layers, measure_ms, steps, e2e) -> dict:
    """Per-layer metrics of a traced run; see ``perfbench.layers``."""
    from perfbench.harness import median
    from perfbench.layers import LAYER_METRICS, span_metrics

    values = dict.fromkeys(LAYER_METRICS, 0.0)
    for key in setup_layers[0]:
        values[key] = median([s[key] for s in setup_layers[1:]])
    values["session.launch_ms"] = setup_layers[0]["session.start_ms"]
    values.update(res["layers"])
    values.update(span_metrics(tracer, steps))
    values["trace.measure_ms"] = measure_ms
    values["trace.overhead_ms"] = tracer.overhead_s * 1000.0
    values["trace.op_p50_ms"] = res["op_p50_ms"]
    values["trace.step_s"] = res["step_s"]
    values["trace.setup_s"] = e2e["setup_s"][0]
    unknown = set(values) - set(LAYER_METRICS)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the list: {sorted(unknown)}")
    return {k: {"value": float(values[k]), "unit": u} for k, (u, _) in LAYER_METRICS.items()}


if __name__ == "__main__":
    sys.exit(main())
