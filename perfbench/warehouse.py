"""``warehouse_mix``: one operation is an upsert round on the lakehouse
tables followed by a block of monitoring queries, as an analyst session
sees the warehouse while an upsert stream lands.

It joins ``lakehouse_upsert`` and ``monitoring_mix`` into one workload so a
run pays one JVM start and one set-up for both; each half keeps its own
checks, and the trace still separates the query layer from the lakehouse
layers. The warm-up runs the query block once, each query checked against
its DuckDB oracle; the timed step is the first upsert round and the block
again.
"""

from __future__ import annotations

import os

from lakehouse import Lakehouse
from monitoring import MonitoringMix


class WarehouseMix:

    def __init__(self, bench):
        self.b = bench
        self.lake = Lakehouse(bench)
        self.queries = MonitoringMix(bench)
        self.warm = True

    def setup(self, root: str) -> None:
        self.queries.setup(os.path.join(root, "tables"))
        self.lake.setup(os.path.join(root, "lake"))
        self.warm = True

    def live_rows(self) -> int:
        return self.queries.live_rows() + self.lake.live_rows()

    def stored_bytes(self) -> int:
        return self.queries.stored_bytes() + self.lake.stored_bytes()

    def step(self) -> None:
        if self.warm:  # the query block alone: a warm-up upsert round bought no steadiness
            self.warm = False
            self.queries.step()
            return
        s = self.lake.prepare()
        out = self.b.op("warehouse.step", self._run, s, rows=s["rows"])
        if out is not None:
            self.lake.verify(s, out[0])
            for name, result in zip(self.queries.block, out[1]):
                self.queries.verify(name, result)

    def _run(self, s: dict):
        return (self.lake.run(s),
                [self.queries.run_query(name) for name in self.queries.block])
