"""``etl_day``: the paper's daily batch job at its real size.

Each operation is one simulated day: ``pipeline.run_daily_etl`` over the
day's boards (92 projects, ~805 subitems, 650 cost items), then the
post-load verification the reference runs, ``temporal.health_report`` and
``report.check_alerts``. Days follow each other against a growing history.
A step re-runs the latest day through the quality gate at the reference's
60% coverage floor (the idempotent overwrite and the gated
write-then-promote path), then runs the next day. A set-up loads the first
day into a fresh warehouse, so the set-ups are also the warm-up.

Checks on every operation: table row counts, the day-over-day entity and
revenue totals, the health report's coverage and totals, the expected
alerts and, after a re-run, an unchanged history row count.
"""

from __future__ import annotations

import os

from monday_etl_spark import pipeline, quality, temporal
from monday_etl_spark.quality import QualityGate
from monday_etl_spark.report import check_alerts
from monday_etl_spark.source_graphql import MondayConnector
from monday_etl_spark.temporal import health_report, read_historical
from monday_gen import BoardTransport, MondayWorld
from spans import phase_ms, tree_files

PAPER_SIZE = dict(n_projects=92, n_subitems=805, n_personnel=300,
                  n_travel=200, n_supplier=150)
COVERAGE_FLOOR = 60.0
GATE = QualityGate(min_coverage_pct=COVERAGE_FLOOR)
GATE_MEASURES = {"project_subitems": "revenue_amount"}


def _cents(x) -> int | None:
    return None if x is None else round(x * 100)


class TracedFrame:
    """A lazy DataFrame whose ``first()`` runs inside a span, so the jobs a
    caller's action launches are billed to the layer that built the plan."""

    def __init__(self, df, tracer, name):
        self._df, self._tracer, self._name = df, tracer, name

    def first(self):
        with self._tracer.span(self._name):
            return self._df.first()

    def __getattr__(self, attr):
        return getattr(self._df, attr)


def install_spans(bench) -> None:
    """Route the pipeline's calls into each module through spans. Module
    attributes are rebound in the benchmark process only; no product file
    changes."""
    tr = bench.tracer

    def fetch(spark, connector, board_id, limit=100):
        t = connector.transport
        before = (t.calls, t.pages_served, t.items_served)
        with tr.span("source_graphql.fetch_board_items") as rec:
            df = fetch_items(spark, connector, board_id, limit)
        rec["transport_calls"], rec["pages"], rec["items"] = (
            t.calls - before[0], t.pages_served - before[1], t.items_served - before[2])
        return df

    fetch_items = pipeline.fetch_board_items
    pipeline.fetch_board_items = fetch

    for name in ("extract_projects", "extract_subitems", "extract_personnel_costs",
                 "extract_travel_costs", "extract_supplier_costs"):
        def extract(items, run_date, run_ts, _fn=getattr(pipeline, name)):
            with tr.span("normalize.extract") as rec:
                df = _fn(items, run_date, run_ts)
                rec["analysis_ms"] = phase_ms(df, ("analysis",))
            return df
        setattr(pipeline, name, extract)

    def root_of(df, base_path, table, *a, **k):
        return base_path

    def path_of(df, path):
        return path

    pipeline.dual_write = tr.wrap("temporal.dual_write", pipeline.dual_write, root_of)
    pipeline.gated_dual_write = tr.wrap("quality.gated_dual_write",
                                        pipeline.gated_dual_write, root_of)
    for mod in (temporal, quality):
        mod.write_snapshot = tr.wrap("io.write_snapshot", mod.write_snapshot, path_of)
        mod.write_historical = tr.wrap("io.write_historical", mod.write_historical, path_of)

    compare = pipeline.compare_with_previous_day

    def compare_traced(hist, id_col, measure_col):
        with tr.span("temporal.compare_with_previous_day"):
            df = compare(hist, id_col, measure_col)
        return TracedFrame(df, tr, "temporal.compare_with_previous_day")

    pipeline.compare_with_previous_day = compare_traced


class EtlDay:

    def __init__(self, bench):
        self.b = bench

    def setup(self, root: str) -> None:
        """A fresh warehouse loaded with the first day (one checked operation)."""
        self.world = MondayWorld(seed=self.b.seed, **PAPER_SIZE)
        self.base = root
        self.day = self.prev = None
        self.hist_rows = 0
        self._day(rerun=False)

    def live_rows(self) -> int:
        snap = sum(self.day.expected_rows.values())
        return snap + self.hist_rows

    def stored_bytes(self) -> int:
        return sum(tree_files(self.base).values())

    def step(self) -> None:
        """The gated re-run of the latest day, then the next day."""
        self._day(rerun=True)
        self._day(rerun=False)

    def _day(self, rerun: bool) -> None:
        """One operation: a new day, or the latest day again through the gate."""
        b, spark = self.b, self.b.spark
        if not rerun:
            self.prev, self.day = self.day, self.world.next_day()
        day, prev = self.day, self.prev
        transport = BoardTransport(day)

        def daily_run():
            stats = pipeline.run_daily_etl(
                spark, MondayConnector(transport), self.base, day.run_date, day.run_ts,
                gate=GATE if rerun else None, gate_measures=GATE_MEASURES)
            snap = spark.read.parquet(os.path.join(self.base, "project_subitems"))
            hist = read_historical(spark, self.base, "project_subitems")
            report = b.tracer.call("temporal.health_report", health_report, snap, hist,
                                   "subitem_id", "revenue_amount", day.run_date)
            alerts = b.tracer.call("report.check_alerts", check_alerts, report,
                                   COVERAGE_FLOOR)
            return stats, report, alerts

        out = b.op("pipeline.run_daily_etl", daily_run,
                   rows=sum(day.expected_rows.values()))
        if out is None:
            return
        stats, report, alerts = out
        if not rerun:
            self.hist_rows += sum(day.expected_rows.values())
        b.check(stats["tables"] == day.expected_rows,
                f"{day.run_date} row counts {stats['tables']} != {day.expected_rows}")
        dod = stats["day_over_day"] or {}
        want_dod = (day.n_subitems, day.revenue_cents,
                    prev.n_subitems if prev else None, prev.revenue_cents if prev else None)
        got_dod = (dod.get("entities_today"), _cents(dod.get("measure_today")),
                   dod.get("entities_yesterday"), _cents(dod.get("measure_yesterday")))
        b.check(got_dod == want_dod, f"{day.run_date} day over day {got_dod} != {want_dod}")
        comp = report["completeness"]
        b.check((comp["n_rows"], comp["n_with_measure"], _cents(comp["total_measure"]))
                == (day.n_subitems, day.n_with_revenue, day.revenue_cents),
                f"{day.run_date} completeness {comp}")
        b.check(report["duplicates"]["n_duplicate_keys"] == 0
                and report["freshness"]["days_stale"] == 0,
                f"{day.run_date} duplicates/freshness {report}")
        low = 100.0 * day.n_with_revenue / day.n_subitems < COVERAGE_FLOOR
        b.check(bool(alerts) == low and all("coverage" in a for a in alerts),
                f"{day.run_date} alerts {alerts}")
        if rerun:
            b.check(stats["quality"]["project_subitems"]["n_covered"] == day.n_with_revenue,
                    f"{day.run_date} gate coverage {stats['quality']}")
            n_hist = sum(read_historical(spark, self.base, t).count()
                         for t in day.expected_rows)
            b.check(n_hist == self.hist_rows,
                    f"{day.run_date} history rows {n_hist} != {self.hist_rows} after re-run")
