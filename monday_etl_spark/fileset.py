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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
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
