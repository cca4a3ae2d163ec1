"""The parquet file-set kernel shared by the three table formats."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from monday_etl_spark.fileset import (
    _DRIVER_MAX_FILES,
    footer_stats,
    map_files,
    overlaps,
    project,
)


def test_map_files_executor_side_matches_driver_loop(spark, tmp_path):
    """Past the driver threshold the footer walk runs on executors; its
    rows, bytes and bounds equal the per-file driver loop, in order."""
    files = []
    for i in range(300):
        f = str(tmp_path / f"part-{i:03d}.parquet")
        pq.write_table(pa.table({"id": [i], "s": [f"v{i:03d}" * 8]}), f)
        files.append(f)
    assert len(files) > _DRIVER_MAX_FILES
    ran = map_files(lambda f: (os.getpid(), footer_stats(f)), files, spark)
    assert os.getpid() not in {pid for pid, _ in ran}, "ran on the driver"
    got = [facts for _, facts in ran]
    want = [footer_stats(f) for f in files]
    assert got == want
    assert got[7] == (1, want[7][1], {"id": [7, 7], "s": [
        "v007v007v007v007", "v007v007v007v008"]})


def test_overlaps_none_is_unbounded():
    assert overlaps(1, 5, 5, 9) and overlaps(1, 5, 0, 1)
    assert not overlaps(1, 5, 6, 9) and not overlaps(1, 5, -3, 0)
    assert overlaps(None, 5, -100, -50) and not overlaps(None, 5, 6, 9)
    assert overlaps(1, None, 50, 60) and not overlaps(1, None, -9, 0)
    assert overlaps(1, 5, None, 0) is False and overlaps(1, 5, 3, None)


def test_project_footer_then_constant_then_nulls():
    """Each field is its footer column cast to the field type, else the
    typed constant (int days / micros are Avro carriers, strings parse
    by cast), else NULLs."""
    import datetime

    rb = pa.record_batch([pa.array([1, 2], pa.int32())], names=["i"])
    utc = pa.timestamp("us", tz="UTC")
    out = project(rb, [
        ("id", "i", pa.int64(), 99),
        ("d", None, pa.date32(), 19727),
        ("ds", None, pa.date32(), "2024-01-05"),
        ("t", None, utc, 1_700_000_000_000_000),
        ("ts", None, utc, "2023-11-14 22:13:20"),
        ("b", None, pa.bool_(), "true"),
        ("gone", None, pa.float64(), None),
    ])
    assert out.schema.names == ["id", "d", "ds", "t", "ts", "b", "gone"]
    assert out.column(0).type == pa.int64()
    day = datetime.date(2024, 1, 5)
    at = datetime.datetime(2023, 11, 14, 22, 13, 20,
                           tzinfo=datetime.timezone.utc)
    assert out.to_pylist() == [
        {"id": i, "d": day, "ds": day, "t": at, "ts": at, "b": True,
         "gone": None} for i in (1, 2)]
