"""Per-layer metrics of a traced run (``--trace 1``), with their units.

Every workload reports every metric; a layer a workload does not touch
reports 0.  Which end-to-end metric each should move, on which workload:

- ``streaming.ingest.*``: ``op_p50_ms`` and ``step_s`` on ``pipeline``;
  the file counts also ``op_p50_ms`` on ``kbar_store``.
- ``plans.backfill_service.*``, ``plans.control_table.*``,
  ``operators.backfill.*``: ``step_s`` on ``pipeline``.
- ``operators.gaps.*``: ``step_s`` on ``pipeline`` and ``op_p50_ms`` on
  ``kbar_store`` (the gap scan).
- ``kbar.*``, ``inspect.*``: ``op_p50_ms`` and ``step_s`` on
  ``kbar_store``.
- ``queries.*``: ``op_p50_ms`` and ``step_s`` on ``headline`` only.
- ``session.*``, ``tables.*`` and the ``*.landing_ms`` / ``*_ms`` set-up
  parts: ``setup_s`` on every workload.

Expected non-moves: a change to ``streaming``, ``plans`` or ``operators``
should not move ``headline``; a change to ``queries`` should not move
``pipeline`` or ``kbar_store``.

``self_ms.<layer>`` is the time spent in the layer's spans minus their
child spans over the timed steps; together with
``trace.unattributed_ms`` (benchmark code between spans) they add up to
``trace.measure_ms``.  ``trace.overhead_ms`` is the spans' own
bookkeeping; ``trace.op_p50_ms`` and ``trace.step_s`` compare with the
untraced run's ``op_p50_ms`` and ``step_s``.
"""

from __future__ import annotations

from perfbench.harness import median

CONTROL_METHODS = (
    "initialize_job",
    "get",
    "heartbeat",
    "update_cursor",
    "update_status",
    "add_critical_range",
    "remove_critical_range",
)

SELF_LAYERS = (
    "streaming.ingest",
    "plans.backfill_service",
    "plans.control_table",
    "operators.gaps",
    "operators.backfill",
    "operators.ohlcv",
    "operators.inspect",
    "spark.read",
    "queries",
    "check",
)

# metric -> the span whose median duration it reports
SPAN_P50 = {
    "streaming.ingest.ingest_batch_ms_p50": "streaming.ingest.ingest_batch",
    "operators.gaps.existing_dates_ms": "operators.gaps.existing_dates",
    "operators.gaps.detect_gaps_ms": "operators.gaps.detect_gaps",
    "operators.backfill.plan_backfill_days_ms": "operators.backfill.plan_backfill_days",
    "inspect.ms": "operators.inspect.inspect_parquet",
}

LOWER, HIGHER = "lower", "higher"

# name -> (unit, which direction is better); per-step values are
# divided by the number of timed steps
LAYER_METRICS = {
    "session.launch_ms": ("ms", LOWER),
    "session.start_ms": ("ms", LOWER),
    "tables.load_ms": ("ms", LOWER),
    "headline.fixture_ms": ("ms", LOWER),
    "pipeline.landing_ms": ("ms", LOWER),
    "kbar_store.landing_ms": ("ms", LOWER),
    "kbar_store.build_ms": ("ms", LOWER),
    "streaming.ingest.batches": ("count", HIGHER),
    "streaming.ingest.add_batch_ms_p50": ("ms", LOWER),
    "streaming.ingest.wal_commit_ms_p50": ("ms", LOWER),
    "streaming.ingest.commit_offsets_ms_p50": ("ms", LOWER),
    "streaming.ingest.latest_offset_ms_p50": ("ms", LOWER),
    "streaming.ingest.query_planning_ms_p50": ("ms", LOWER),
    "streaming.ingest.ingest_batch_ms_p50": ("ms", LOWER),
    "streaming.ingest.jobs_per_batch": ("count", LOWER),
    "streaming.ingest.files_written": ("count", LOWER),
    "streaming.ingest.ticks_per_file": ("count", HIGHER),
    "streaming.ingest.quarantined_rows": ("count", HIGHER),
    "streaming.ingest.source_rows_read_per_tick": ("count", LOWER),
    "plans.backfill_service.days_planned": ("count", LOWER),
    "plans.backfill_service.days_processed": ("count", HIGHER),
    "plans.backfill_service.jobs_per_day": ("count", LOWER),
    **{f"plans.control_table.{m}.calls": ("count", LOWER) for m in CONTROL_METHODS},
    **{f"plans.control_table.{m}.ms": ("ms", LOWER) for m in CONTROL_METHODS},
    "operators.gaps.existing_dates_ms": ("ms", LOWER),
    "operators.gaps.detect_gaps_ms": ("ms", LOWER),
    "operators.backfill.plan_backfill_days_ms": ("ms", LOWER),
    "kbar.store_open_ms_p50": ("ms", LOWER),
    "kbar.collect_ms_p50": ("ms", LOWER),
    "kbar.files_read_per_query": ("count", LOWER),
    "kbar.bytes_read_per_query": ("B", LOWER),
    "kbar.rows_scanned_per_row_returned": ("count", LOWER),
    "kbar.jobs_per_query": ("count", LOWER),
    "inspect.files_listed": ("count", LOWER),
    "inspect.ms": ("ms", LOWER),
    "queries.run_ms_total": ("ms", LOWER),
    "queries.collect_ms_total": ("ms", LOWER),
    "queries.jobs_in_run_total": ("count", LOWER),
    "queries.jobs_total": ("count", LOWER),
    "queries.eager_keys": ("count", LOWER),
    **{f"self_ms.{layer}": ("ms", LOWER) for layer in SELF_LAYERS},
    "trace.unattributed_ms": ("ms", LOWER),
    "trace.measure_ms": ("ms", LOWER),
    "trace.overhead_ms": ("ms", LOWER),
    "trace.op_p50_ms": ("ms", LOWER),
    "trace.step_s": ("s", LOWER),
    "trace.setup_s": ("s", LOWER),
}


def span_metrics(tracer, steps: int) -> dict:
    """Metrics read off the spans: medians of single calls, and the
    control table's calls and time per step, per method."""
    out = {}
    for metric, name in SPAN_P50.items():
        d = tracer.durations_ms(name)
        if d:
            out[metric] = median(d)
    for m in CONTROL_METHODS:
        d = tracer.durations_ms(f"plans.control_table.{m}")
        out[f"plans.control_table.{m}.calls"] = len(d) / steps
        out[f"plans.control_table.{m}.ms"] = sum(d) / steps
    self_ms = tracer.self_ms_by_layer()
    for layer in SELF_LAYERS:
        out[f"self_ms.{layer}"] = self_ms.get(layer, 0.0)
    # the root and per-operation spans belong to the benchmark itself
    out["trace.unattributed_ms"] = self_ms.get("bench", 0.0)
    return out
