"""Benchmark of the monday_etl_spark engine, run from the repository root:

    python3 perfbench/run.py --workload etl_day --seed 1 --seconds 5 --trace 0

Workloads: ``etl_day`` (etl.py) and ``warehouse_mix`` (warehouse.py), the
two that BENCHMARK.json lists, and the two halves of the latter on their
own, ``monitoring_mix`` (monitoring.py) and ``lakehouse_upsert``
(lakehouse.py). One client runs operations in a closed loop; every
operation's output is checked.

A run, in one process with ``local[nproc]``:

1. set-up, ``SET_UPS`` times: start a Spark session (the first start launches
   the JVM), generate the seeded inputs and build the starting state in a
   fresh directory. The last set-up's state is the one measured;
2. warm-up: ``WARM_STEPS`` steps, checked but not timed (etl_day has none:
   each of its set-ups already runs a full day);
3. the timed loop: whole steps, at least one, until ``--seconds`` have
   passed. A step is a re-run and a new day (etl_day), one block of
   queries (monitoring_mix), one upsert round (lakehouse_upsert) or one
   round and one block (warehouse_mix). A step is never cut, so at
   ``--seconds 5`` a run times exactly one step of either benchmark
   workload, whatever the host's hiccups.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; ``--trace 1`` runs the same loop with spans around
each layer call and reports per-layer self times and counts (spans.py,
layers.py).
Everything the run writes stays under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SET_UPS = 3
# warm-up steps per workload, checked but untimed
WARM_STEPS = {"etl_day": 0, "warehouse_mix": 1,
              "monitoring_mix": 1, "lakehouse_upsert": 1}
# the engine defaults the heap to 48g; 2g holds every workload here
DRIVER_MEM = "2g"


def _configure(work: Path, trace: bool) -> None:
    """Size the run for this host through the engine's environment seams.
    Must run before pyspark starts the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata under /tmp: the run writes only inside the checkout.
        # The heap is committed and touched at start, so peak_rss_mb follows
        # what the run adds to it, not when the JVM chose to grow the heap.
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
    }
    if trace:
        (work / "events").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(work / "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_EXTRA_CONF": json.dumps(conf),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
    })
    time.tzset()


def _process_tree_peak_mb(root_pid: int) -> float:
    """Sum of peak resident memory (VmHWM) over ``root_pid`` and its live
    descendants."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        except (FileNotFoundError, ProcessLookupError, StopIteration):
            continue
    return kb / 1024


def tail(samples: list[float]) -> float:
    """The highest percentile with at least 10 samples beyond it; below 20
    samples, where that would fall under the median, the maximum."""
    s = sorted(samples)
    return s[len(s) - 11] if len(s) >= 20 else s[-1]


class Bench:
    """What a workload sees: the session, the tracer, and ``op``/``check``
    for timing and checking its operations."""

    def __init__(self, workload: str, seed: int, trace: bool):
        from monday_etl_spark.session import cpu_count
        from spans import Tracer

        self.workload, self.seed = workload, seed
        self.cpus = cpu_count()
        self.spark = None
        self.tracer = Tracer(None, f"{workload}-{seed}", trace)
        self.timed = False
        self.samples: list[float] = []
        self.rows = 0
        self.attempted = 0
        self.bad: set[int] = set()

    def start_session(self) -> None:
        from monday_etl_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = self.tracer.spark = None
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.tracer.spark = self.spark

    def op(self, name: str, fn, *args, rows: int = 0, fs_root: str | None = None,
           **kwargs):
        """Run one operation that commits ``rows`` rows; time it when the
        loop is timed. An exception counts as a failed operation and
        returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, fs_root=fs_root):
                out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is a measured outcome
            traceback.print_exc(file=sys.stderr)
            self.bad.add(self.attempted)
            return None
        finally:
            elapsed = time.perf_counter() - t0
        if self.timed:
            self.samples.append(elapsed)
            self.rows += rows
        return out

    def check(self, ok: bool, what: str) -> None:
        """Mark the latest operation wrong unless ``ok``."""
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr)
            self.bad.add(self.attempted)


def _workload(name: str, bench: Bench):
    if name == "etl_day":
        from etl import EtlDay, install_spans

        if bench.tracer.enabled:
            install_spans(bench)
        return EtlDay(bench)
    if name == "monitoring_mix":
        from monitoring import MonitoringMix
        return MonitoringMix(bench)
    if name == "lakehouse_upsert":
        from lakehouse import Lakehouse
        return Lakehouse(bench)
    if name == "warehouse_mix":
        from warehouse import WarehouseMix
        return WarehouseMix(bench)
    raise SystemExit(f"unknown workload {name!r}")


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run(args, work: Path) -> dict:
    bench = Bench(args.workload, args.seed, bool(args.trace))
    wl = _workload(args.workload, bench)
    try:
        set_ups = []
        for i in range(SET_UPS):
            t0 = time.perf_counter()
            bench.start_session()
            wl.setup(str(work / f"state{i}"))
            set_ups.append(time.perf_counter() - t0)
            if i + 1 < SET_UPS:
                shutil.rmtree(work / f"state{i}", ignore_errors=True)
        t0 = time.perf_counter()
        bench.tracer.phase = "warm"
        for _ in range(WARM_STEPS[args.workload]):
            wl.step()
        warm_s = time.perf_counter() - t0

        bench.timed, bench.tracer.phase = True, "timed"
        end = time.perf_counter() + args.seconds
        wl.step()
        while time.perf_counter() < end:
            wl.step()
        bench.timed, bench.tracer.phase = False, "done"

        n, busy = len(bench.samples), sum(bench.samples)
        metrics = {
            "setup_s": (statistics.median(set_ups) + warm_s, "s"),
            "op_s.p50": (statistics.median(bench.samples), "s"),
            "op_s.tail": (tail(bench.samples), "s"),
            "ops_per_s": (n / busy, "1/s"),
            "rows_per_s": (bench.rows / busy, "rows/s"),
            "stored_bytes_per_live_row": (wl.stored_bytes() / wl.live_rows(), "B/row"),
            "peak_rss_mb": (_process_tree_peak_mb(os.getpid()), "MB"),
        }
        print(f"{args.workload}: {n} timed ops, set-ups {[round(s, 2) for s in set_ups]},"
              f" warm-up {warm_s:.2f}s", file=sys.stderr)
    finally:
        if bench.spark is not None:
            _shutdown(bench.spark)
    if bench.tracer.enabled:
        from layers import per_layer

        for span in bench.tracer.spans:
            print("span", json.dumps(span), file=sys.stderr)
        metrics = per_layer(bench, work / "events")
    return {
        "correct": not bench.bad,
        "attempted": bench.attempted,
        "failed": len(bench.bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WARM_STEPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (ROOT / "monday_etl_spark").is_dir():
        print("monday_etl_spark not found next to perfbench/", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    try:
        _configure(work, bool(args.trace))
        sys.path[:0] = [str(ROOT), str(HERE)]
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if ROOT.joinpath(".perfbench_work").exists() and not any(
                ROOT.joinpath(".perfbench_work").iterdir()):
            ROOT.joinpath(".perfbench_work").rmdir()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
