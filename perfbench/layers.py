"""The per-layer metrics a traced run reports, one layer per product module.

Every value is per timed operation of the workload: a span's self time or
count summed over the timed loop, divided by the number of timed
operations, so a workload's ``.s`` values add up to its traced operation
latency. ``session.get_spark.s`` is the median session start of the set-ups. A
layer that does not run on a workload reports 0.
"""

from __future__ import annotations

import statistics

from spans import event_log_metrics, summarize

WRITE = ("s", "jobs", "tasks", "files_written", "bytes_written")
COMMIT = ("s", "jobs", "files_written", "bytes_written")

# (metric name, summarize() key(s) it sums, unit, better)
METRICS: list[tuple[str, tuple[str, ...], str, str]] = [
    ("session.get_spark.s", (), "s", "lower"),
    ("pipeline.run_daily_etl.s", ("pipeline.run_daily_etl.s",), "s", "lower"),
    ("warehouse.step.s", ("warehouse.step.s",), "s", "lower"),
    ("source_graphql.fetch_board_items.s", ("source_graphql.fetch_board_items.s",), "s", "lower"),
    ("source_graphql.fetch_board_items.pages", ("source_graphql.fetch_board_items.pages",),
     "count", "lower"),
    ("source_graphql.fetch_board_items.items", ("source_graphql.fetch_board_items.items",),
     "count", "higher"),
    ("source_graphql.transport.calls", ("source_graphql.fetch_board_items.transport_calls",),
     "count", "lower"),
    ("normalize.extract.build_s", ("normalize.extract.s",), "s", "lower"),
    ("normalize.extract.analysis_ms", ("normalize.extract.analysis_ms",), "ms", "lower"),
]
for layer in ("temporal.dual_write", "quality.gated_dual_write",
              "io.write_snapshot", "io.write_historical"):
    for k in WRITE:
        METRICS.append((f"{layer}.{k}", (f"{layer}.{k}",),
                        {"s": "s", "bytes_written": "B"}.get(k, "count"), "lower"))
for layer in ("temporal.compare_with_previous_day", "temporal.health_report"):
    for k in ("s", "jobs"):
        METRICS.append((f"{layer}.{k}", (f"{layer}.{k}",),
                        "s" if k == "s" else "count", "lower"))
METRICS.append(("report.check_alerts.s", ("report.check_alerts.s",), "s", "lower"))

_Q = ("queries.build", "queries.exec")
METRICS += [
    ("queries.build_s", ("queries.build.s",), "s", "lower"),
    ("queries.catalyst_ms", ("queries.exec.catalyst_ms",), "ms", "lower"),
    ("queries.exec_s", ("queries.exec.s",), "s", "lower"),
]
for k, unit in (("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
                ("gc_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B")):
    METRICS.append((f"queries.{k}", tuple(f"{q}.{k}" for q in _Q), unit, "lower"))

for layer in ("tableformat.merge_versioned", "iceberg_import.upsert_iceberg",
              "delta_import.upsert_delta"):
    for k in COMMIT:
        METRICS.append((f"{layer}.{k}", (f"{layer}.{k}",),
                        {"s": "s", "bytes_written": "B"}.get(k, "count"), "lower"))
for layer in ("tableformat.compact_versioned", "iceberg_import.compact_iceberg",
              "delta_import.compact_delta"):
    METRICS.append((f"{layer}.s", (f"{layer}.s",), "s", "lower"))
    METRICS.append((f"{layer}.bytes_rewritten", (f"{layer}.bytes_written",), "B", "lower"))
for layer in ("tableformat.read_key", "tableformat.read_where",
              "iceberg_import.read_iceberg_where", "delta_import.read_delta_where"):
    METRICS.append((f"{layer}.s", (f"{layer}.s",), "s", "lower"))
    METRICS.append((f"{layer}.files_opened", (f"{layer}.files_opened",), "count", "lower"))
METRICS.append(("iceberg_import.read_iceberg_where.delete_files",
                ("iceberg_import.read_iceberg_where.delete_files",), "count", "lower"))
METRICS += [
    ("trace.op_s.p50", (), "s", "lower"),
    ("trace.timed_ops", (), "count", "higher"),
]


def per_layer(bench, events_dir) -> dict[str, tuple[float, str]]:
    spans = bench.tracer.spans
    totals = summarize([s for s in spans if s["phase"] == "timed"],
                       event_log_metrics(str(events_dir)))
    n = max(1, len(bench.samples))
    out = {name: (sum(totals.get(k, 0.0) for k in keys) / n, unit)
           for name, keys, unit, _better in METRICS}
    starts = [s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark"]
    out["session.get_spark.s"] = (statistics.median(starts), "s")
    out["trace.op_s.p50"] = (statistics.median(bench.samples), "s")
    out["trace.timed_ops"] = (len(bench.samples), "count")
    return out
