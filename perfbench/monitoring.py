"""``monitoring_mix``: the registry queries that re-express the reference's
analytics SQL, over seeded TPC-H-shaped tables at sf0.1 size.

Each operation builds one query and delivers its result to the client as
Arrow. Each step runs a fixed block of ``BLOCK`` queries, the first of each
equal stretch of the registry order, in seeded order. The block is fixed
because which queries run moves the latency median by more than this
benchmark's bounds allow; the seed varies the data and the order. The
warm-up step compares each query with its DuckDB oracle, floats within the
repository's oracle tolerance; later executions must equal that first
result exactly. Comparisons are untimed.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from monday_etl_spark.io import TABLES, table_path
from monday_etl_spark.queries import REGISTRY
from tpch_gen import generate
from spans import phase_ms, tree_files

MODULES = ("metrics", "analytics", "aggregates", "windows", "relational",
           "reshape", "stats", "governance", "product_analytics")
NAMES = [n for n, s in REGISTRY.items() if s.fn.__module__.rsplit(".", 1)[1] in MODULES]
BLOCK = 6


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"d:{v}"
    if isinstance(v, dt.datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, dt.date):
        return f"t:{dt.datetime(v.year, v.month, v.day).isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:" + ",".join(_cell(x) for x in v)
    return f"s:{v}"


def canonical(columns: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples of exact cell renderings, columns sorted by name
    (the slow path for results Arrow cannot sort, such as nested columns)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(row[i]) for i in order) for row in rows)


def _canon_type(t: pa.DataType) -> pa.DataType | None:
    if pa.types.is_integer(t):
        return pa.int64()
    if pa.types.is_floating(t):
        return pa.float64()
    if pa.types.is_decimal(t) or pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return pa.timestamp("us")
    return None


def arrow_canonical(table: pa.Table) -> pa.Table | None:
    """Columns sorted by name, types unified across engines, rows sorted.
    None when a column is nested (rows then compare through ``canonical``)."""
    cols = sorted(table.column_names)
    arrays = []
    for c in cols:
        col = table.column(c)
        if pa.types.is_nested(col.type):
            return None
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        target = _canon_type(col.type)
        if pa.types.is_date(col.type):
            col = col.cast(pa.date32()).cast(pa.timestamp("s")).cast(target)
        elif target is not None and col.type != target:
            col = col.cast(target)
        arrays.append(col)
    t = pa.table(arrays, names=cols)
    if not cols or t.num_rows == 0:
        return t
    idx = pc.sort_indices(t, sort_keys=[(c, "ascending") for c in cols],
                          null_placement="at_start")
    return t.take(idx).combine_chunks()


# float tolerance of the repository's own oracle comparison (tests/oracle.py):
# DuckDB and Spark can round a DECIMAL -> DOUBLE cast differently in the last
# ulp, so an oracle may differ from a correct result by an ulp or two
ABS_TOL = 1e-6
REL_TOL = 1e-9


def _close(x: pa.ChunkedArray, y: pa.ChunkedArray) -> bool:
    if x.null_count != y.null_count or not pc.all(pc.equal(pc.is_null(x), pc.is_null(y))).as_py():
        return False
    diff = pc.abs(pc.subtract(x, y))
    limit = pc.add(pc.multiply(pc.abs(y), REL_TOL), ABS_TOL)
    return pc.all(pc.less_equal(diff, limit)).as_py() in (True, None)


def same_result(a: pa.Table, b: pa.Table, float_tol: bool = False) -> bool:
    """Equal as order-insensitive row sets; with ``float_tol``, float
    columns may differ by ``REL_TOL``/``ABS_TOL``."""
    ca, cb = arrow_canonical(a), arrow_canonical(b)
    if ca is not None and cb is not None:
        if ca.equals(cb):
            return True
        if float_tol and ca.schema == cb.schema and ca.num_rows == cb.num_rows:
            return all(
                _close(ca.column(i), cb.column(i)) if pa.types.is_floating(f.type)
                else ca.column(i).equals(cb.column(i))
                for i, f in enumerate(ca.schema))
    # slow exact path: nested columns, or a NaN rendering difference
    return (canonical(a.column_names, zip(*[c.to_pylist() for c in a.columns]))
            == canonical(b.column_names, zip(*[c.to_pylist() for c in b.columns])))


class MonitoringMix:

    def __init__(self, bench):
        self.b = bench

    def setup(self, root: str) -> None:
        self.sf = root
        self.input_rows = sum(generate(root, self.b.seed).values())
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{table_path(root, t)}')")
        self.block = [NAMES[len(NAMES) * i // BLOCK] for i in range(BLOCK)]
        random.Random(self.b.seed).shuffle(self.block)
        self.first: dict[str, pa.Table] = {}

    def live_rows(self) -> int:
        return self.input_rows

    def stored_bytes(self) -> int:
        return sum(tree_files(self.sf).values())

    def step(self) -> None:
        for name in self.block:
            result = self.b.op("queries.run", self.run_query, name)
            self.verify(name, result)

    def run_query(self, name: str) -> pa.Table:
        """Build one query and deliver its result as Arrow (the timed part)."""
        tr = self.b.tracer
        with tr.span("queries.build"):
            df = REGISTRY[name].fn(self.b.spark, self.sf)
        with tr.span("queries.exec") as rec:
            result = df.toArrow()
            if tr.enabled:
                rec["catalyst_ms"] = phase_ms(df)
        return result

    def verify(self, name: str, result: pa.Table | None) -> None:
        """Compare with the DuckDB oracle the first time, then with that
        first result."""
        if result is None:
            return
        want = self.first.get(name)
        if want is None:
            want = self.con.execute(REGISTRY[name].oracle).arrow()
            if not isinstance(want, pa.Table):  # newer DuckDB returns a reader
                want = want.read_all()
            ok = same_result(result, want, float_tol=True)
        else:
            ok = same_result(result, want)
        self.b.check(ok, f"{name} differs from its reference result")
        if ok:
            self.first.setdefault(name, result)
