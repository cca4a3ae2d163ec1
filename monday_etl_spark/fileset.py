"""Parquet file-set primitives shared by the versioned, Delta and Iceberg
tables.

Each table format keeps its own log or manifest; the facts it records
about a data file, and the decisions it makes from them, are made here:

- ``footer_stats``: a file's row count, size and per-column ``[lo, hi]``
  bounds, read from the parquet footer only (no data pages);
- ``map_files``: run a per-file function over a file list — on the
  driver for small lists, on executors above ``_DRIVER_MAX_FILES``;
- ``overlaps``: whether a file's recorded range can meet a queried
  range (the one file-pruning test);
- ``part_lit``: a partition value as a typed Spark literal.

The Delta and Iceberg stream sources share two more pieces:

- ``project``: one Arrow batch per file batch, each field taken from
  its footer column, else a typed partition constant, else NULLs;
- ``FileStreamReader``: the offsets, rate limit and planning of a
  stream over a table's commit log.
"""

from __future__ import annotations

import bisect
import functools
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSourceStreamReader, InputPartition
from pyspark.sql.types import DataType, DateType, TimestampNTZType, TimestampType

_STATS_MAX_LEN = 16  # string bounds truncate to this many code points

# a footer open is ~2-12 ms on the driver; the flat ~1 s cost of one
# Python RDD job only amortizes past a few hundred files
_DRIVER_MAX_FILES = 256
_FILES_PER_TASK = 64


def _truncate_bounds(mn: str, mx: str) -> list:
    """Iceberg-style truncated string bounds: long stats values would make
    the manifest grow with VALUE size (a 2 KB URL as a stats col = 4 KB per
    file per column — at 100k files that is the difference between a KB-
    scale manifest and a GB one), so bounds cap at ``_STATS_MAX_LEN`` code
    points. The LOWER bound truncates down (a prefix sorts <= the full
    string); the UPPER bound truncates and increments its last incrementable
    code point, which sorts > every string sharing the prefix. When no code
    point can be incremented (all at the Unicode max) the upper bound is
    recorded as None = unbounded: pruning on that side is simply disabled
    for the file — skipping is an optimization, never a correctness
    filter."""
    lo = mn if len(mn) <= _STATS_MAX_LEN else mn[:_STATS_MAX_LEN]
    if len(mx) <= _STATS_MAX_LEN:
        return [lo, mx]
    prefix = mx[:_STATS_MAX_LEN]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp >= 0x10FFFF:
            continue
        nxt = cp + 1
        if 0xD800 <= nxt <= 0xDFFF:  # skip the surrogate gap
            nxt = 0xE000
        return [lo, prefix[:i] + chr(nxt)]
    return [lo, None]


def footer_stats(abs_path: str, cols=None) -> tuple[int, int, dict]:
    """``(rows, bytes, {column: [lo, hi]})`` for one parquet file, from its
    footer. Columns are keyed by ``path_in_schema``; ``cols`` limits the
    bounds to those columns (None = every column, empty = none). A bound
    is recorded only when EVERY row group has min/max for the column (a
    writer drops stats for a row group holding an oversized value, and
    bounds from the other groups would wrongly exclude it) and the values
    are int, float or str — other physical values (bytes, dates, decimals)
    record nothing. Absent bounds only disable skipping for the file.
    String bounds are truncated (``_truncate_bounds``) so manifest size
    tracks file count, never value length."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    bounds: dict[str, list] = {}
    for ci in range(md.num_columns):
        name = md.schema.column(ci).path
        if cols is not None and name not in cols:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if (st is None or not st.has_min_max
                    or not isinstance(st.min, (int, float, str))):
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        else:
            if lo is not None:
                bounds[name] = (_truncate_bounds(lo, hi)
                                if isinstance(lo, str) else [lo, hi])
    return md.num_rows, os.path.getsize(abs_path), bounds


def map_files(fn, files: list, spark: SparkSession | None = None) -> list:
    """``[fn(f) for f in files]``, in order. Up to ``_DRIVER_MAX_FILES``
    files (or without ``spark``) it runs on the driver; above that on
    executors, ``_FILES_PER_TASK`` files per task — a wide partitioned
    write emits one file per tuple, and the driver must not open them
    serially. On executors ``fn`` travels through Spark's pickler, so it
    must not close over driver-only state (a SparkSession, open files)."""
    if spark is None or len(files) <= _DRIVER_MAX_FILES:
        return [fn(f) for f in files]
    return (spark.sparkContext
            .parallelize(files, max(1, len(files) // _FILES_PER_TASK))
            .map(fn).collect())


def overlaps(lo, hi, q_lo, q_hi) -> bool:
    """Whether a file whose values lie in ``[lo, hi]`` can hold a value in
    ``[q_lo, q_hi]``. None on any side means unbounded, so that side never
    prunes."""
    return not ((lo is not None and q_hi is not None and lo > q_hi)
                or (hi is not None and q_lo is not None and hi < q_lo))


def part_lit(value, dt: DataType):
    """A partition value as a typed Spark literal. Strings (Delta's
    serialization, Hive path components) cast to ``dt``; ints for date and
    timestamp columns are Avro's physical carriers (days, micros)."""
    if value is None:
        return F.lit(None).cast(dt)
    if isinstance(dt, DateType) and isinstance(value, int):
        return F.date_from_unix_date(F.lit(value))
    if isinstance(dt, (TimestampType, TimestampNTZType)) and isinstance(
        value, int
    ):
        return F.timestamp_micros(F.lit(value)).cast(dt)
    return F.lit(value).cast(dt)


@functools.cache
def _arrow_types() -> dict:
    import pyarrow as pa

    return {
        "bigint": pa.int64(), "int": pa.int32(), "smallint": pa.int16(),
        "tinyint": pa.int8(), "double": pa.float64(), "float": pa.float32(),
        "string": pa.string(), "boolean": pa.bool_(), "date": pa.date32(),
        "binary": pa.binary(), "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }


def arrow_type(dt: DataType):
    """The Arrow type a stream reader emits for Spark type ``dt``; None
    when the Arrow read path does not carry it."""
    return _arrow_types().get(dt.simpleString())


def _const_column(value, at, n: int):
    """``n`` copies of ``value`` as an Arrow column of type ``at`` — the
    Arrow twin of ``part_lit``: strings parse by cast (a zone-less
    timestamp string reads as UTC, the session zone), ints for date and
    timestamp columns are Avro's carriers (days, micros)."""
    import pyarrow as pa

    if value is None:
        return pa.nulls(n, type=at)
    if isinstance(value, int) and not isinstance(value, bool) and (
            pa.types.is_date(at) or pa.types.is_timestamp(at)):
        scalar = pa.scalar(value, pa.int32() if pa.types.is_date(at)
                           else pa.int64())
    else:
        scalar = pa.scalar(value)
    try:
        scalar = scalar.cast(at)
    except pa.ArrowInvalid:
        if not (isinstance(value, str) and pa.types.is_timestamp(at)):
            raise
        scalar = scalar.cast(pa.timestamp(at.unit)).cast(at)
    return pa.repeat(scalar, n)


def project(rb, plan: list):
    """One output RecordBatch from file batch ``rb``. ``plan`` holds one
    ``(name, footer_column, arrow_type, constant)`` per output field:
    the footer column cast to the type when the file has one (None when
    it does not), else the constant — a partition value or a commit
    stamp — else NULLs (a file written before the column existed)."""
    import pyarrow as pa

    n = rb.num_rows
    cols = [rb.column(rb.schema.get_field_index(src)).cast(at)
            if src is not None else _const_column(value, at, n)
            for _name, src, at, value in plan]
    return pa.RecordBatch.from_arrays(cols, names=[p[0] for p in plan])


class FileStreamReader(DataSourceStreamReader):
    """A micro-batch stream over a table's commit log, one InputPartition
    per unit (a data file, or a change unit) a commit delivers.

    Offsets are ``{key: k, "index": i}``: the first ``i`` units of commit
    ``k`` are processed and every lower commit is complete. The
    index-free ``{key: k}`` means "``k`` fully processed" and
    normalizes to ``(k+1, 0)``; the table head is offered in that form,
    so batches ending there traverse the head commit whole.

    Rate limiting: ``max_files_per_batch`` caps one micro-batch's units.
    The Python stream API's ``latestOffset()`` takes no start offset and
    is called before the engine reveals ANY position (even before
    ``initialOffset`` on a fresh stream), so the capped walk runs from
    self-tracked state seeded at the configured start. After a
    checkpoint restart that walk may lag the committed offset; the
    batch is then clamped to empty against the delivered high-water
    mark, the true position is folded in and the next walk is right, so
    nothing is re-delivered. ``Trigger.AvailableNow`` plans exactly ONE
    batch for Python sources, so with a cap it is a bounded resumable
    drain: each ``.start()`` processes at most the cap and the
    checkpoint carries the position. Replayed batches use the engine's
    logged offsets, so the cap never breaks exactly-once.

    A format supplies ``key``, ``error``, ``partition_type``, the
    ordered commit keys (``_keys``), one commit's units plus a
    per-commit fact (``_commit_units``) and the InputPartitions of a
    window of them (``_partitions_of``). Committed commits are
    immutable, so their units are cached until ``commit()`` passes
    them."""

    key = "version"
    error: type = ValueError
    partition_type: type = InputPartition

    def __init__(self, options):
        mf = options.get("max_files_per_batch")
        self.max_files = int(mf) if mf is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("max_files_per_batch must be >= 1")
        # _pos: the furthest position seen (seeds the capped walk);
        # _hw: the furthest end partitions() handed out (the clamp)
        self._pos: tuple[int, int] | None = None
        self._hw: tuple[int, int] | None = None
        self._units_cache: dict = {}

    # ------------------------------------------------- format hooks

    def _keys(self):
        """The table's commit keys, ascending; the head is last."""
        raise NotImplementedError

    def _commit_units(self, k: int) -> tuple[list, object]:
        """``(units, fact)`` of commit ``k``; offsets index ``units``."""
        raise NotImplementedError

    def _partitions_of(self, k: int, window: list, units: list, fact,
                       batch: dict) -> list:
        """InputPartitions for ``window`` (a slice of commit ``k``'s
        ``units``); ``batch`` is state shared across one batch's
        commits."""
        raise NotImplementedError

    # ------------------------------------------------------ offsets

    @classmethod
    def _norm(cls, off: dict) -> tuple[int, int]:
        k = off[cls.key]
        if "index" in off:
            return (k, off["index"])
        return (k + 1, 0)  # index-free form: k fully processed

    def _head(self, keys=None) -> dict:
        return {self.key: (keys or self._keys())[-1]}

    def _units(self, k: int) -> tuple[list, object]:
        hit = self._units_cache.get(k)
        if hit is None:
            hit = self._units_cache[k] = self._commit_units(k)
        return hit

    def _advance(self, pos: tuple[int, int], keys,
                 budget: int) -> tuple[int, int]:
        """Walk at most ``budget`` units forward from ``pos`` along
        ``keys``, never past the end of the last key."""
        k, i = pos
        for key in keys[bisect.bisect_left(keys, k):]:
            if budget <= 0:
                break
            units = self._units(key)[0]
            j = i if key == k else 0
            if j >= len(units):
                if key != k:
                    k, i = key, len(units)
                continue
            take = min(len(units) - j, budget)
            k, i, budget = key, j + take, budget - take
        return (k, i)

    def initialOffset(self) -> dict:
        i = self._norm(self._initial)
        self._pos = max(self._pos or i, i)
        return self._initial

    def latestOffset(self) -> dict:
        keys = self._keys()
        head = self._head(keys)
        if self.max_files is None:
            end = self._norm(head)
        else:
            base = (self._pos if self._pos is not None
                    else self._norm(self._initial))
            end = self._advance(base, keys, self.max_files)
        self._pos = max(self._pos or end, end)
        if end >= self._norm(head):
            # caught up: head's own dict, so an idle stream keeps
            # comparing equal under the engine's offset-equality check
            return head
        return {self.key: end[0], "index": end[1]}

    # ----------------------------------------------------- planning

    def partitions(self, start: dict, end: dict):
        s, e = self._norm(start), self._norm(end)
        # deliver nothing below the high-water mark, and fold the true
        # position in so the next capped walk starts from it
        lo = max(s, self._hw) if self._hw is not None else s
        self._hw = max(self._hw or e, s, e)
        self._pos = max(self._pos or e, s, e)
        parts: list = []
        if e > lo:
            keys = self._keys()
            if lo < (keys[0], 0):
                raise self.error(
                    f"{self.path}: stream position {self.key}={lo[0]} "
                    f"predates the oldest retained commit "
                    f"({self.key}={keys[0]}) — history was expired; "
                    "restart the stream from a retained commit")
            batch: dict = {}
            for k in keys[bisect.bisect_left(keys, lo[0]):
                          bisect.bisect_right(keys, e[0])]:
                if k == e[0] and e[1] == 0:
                    break  # nothing taken from the end commit
                units, fact = self._units(k)
                window = units[lo[1] if k == lo[0] else 0:
                               e[1] if k == e[0] else len(units)]
                parts += self._partitions_of(k, window, units, fact, batch)
        # an empty batch still needs >= 1 partition for the API contract
        return parts or [self.partition_type("")]

    def commit(self, end: dict) -> None:
        e = self._norm(end)
        self._pos = max(self._pos or e, e)
        # committed commits are never planned again
        self._units_cache = {k: v for k, v in self._units_cache.items()
                             if k >= e[0]}
