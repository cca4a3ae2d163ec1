"""Snapshot-tailing Iceberg streaming source + exactly-once sink:
default-start tailing, checkpoint resume, field-id resolution in the
Arrow read path, rewrite-snapshot refusal/skip, capped resumable drains,
and replay-safe appends."""

from __future__ import annotations

import json
import os

import pytest

from monday_etl_spark.iceberg_export import export_iceberg
from monday_etl_spark.iceberg_import import (
    IcebergProtocolError,
    append_iceberg,
    last_iceberg_txn,
    read_iceberg_table,
    read_metadata,
)
from monday_etl_spark.iceberg_source import stream_iceberg
from monday_etl_spark.tableformat import write_versioned
from tests._iceberg_builders import (
    entry,
    manifest,
    manifest_list,
    metadata,
    write_data_file,
)

_SCHEMA = "id bigint, v double"


def _mk_table(spark, root) -> str:
    path = str(root / "tbl")
    base = spark.createDataFrame([(i, float(i)) for i in range(10)], _SCHEMA)
    write_versioned(base, path, key="id", n_buckets=2)
    export_iceberg(path)
    return path


def _drain(spark, path, ckpt, collected, **opts):
    stream = stream_iceberg(spark, path, **opts)

    def handle(batch, _bid):
        collected.extend((r.id, r.v) for r in batch.collect())

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_default_start_streams_only_new_snapshots(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    got: list = []
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, path, ckpt, got)  # default start = current head
    assert got == []
    append_iceberg(
        spark, spark.createDataFrame([(500, 5.0)], _SCHEMA), path)
    _drain(spark, path, ckpt, got)
    assert got == [(500, 5.0)]
    # two more appends: the SAME checkpoint resumes past delivered files
    append_iceberg(
        spark, spark.createDataFrame([(501, 6.0)], _SCHEMA), path)
    append_iceberg(
        spark, spark.createDataFrame([(502, 7.0)], _SCHEMA), path)
    tail: list = []
    _drain(spark, path, ckpt, tail)
    assert sorted(tail) == [(501, 6.0), (502, 7.0)]


def test_starting_snapshot_replays_from_initial(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_iceberg(
        spark, spark.createDataFrame([(100, 1.0)], _SCHEMA), path)
    meta = read_metadata(path)
    first = min(meta["snapshots"], key=lambda s: s["sequence-number"])
    got: list = []
    _drain(spark, path, str(tmp_path / "ckpt"), got,
           starting_snapshot_id=first["snapshot-id"])
    want = sorted((r.id, r.v)
                  for r in read_iceberg_table(spark, path).collect())
    assert sorted(got) == want and len(got) == 11


def test_stream_resolves_footer_field_ids(spark, tmp_path):
    """Streamed files written by an id-stamping engine under RENAMED
    footer names surface the logical schema (resolution by id in the
    Arrow read path)."""
    path = str(tmp_path / "ext")
    data_dir, meta_dir = os.path.join(path, "data"), os.path.join(
        path, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    import pyarrow as pa

    f1 = write_data_file(
        os.path.join(data_dir, "f1.parquet"),
        ["ident", "val"], [1, 2],
        [[1, 2], [1.5, 2.5]], [pa.int64(), pa.float64()],
    )
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "double"},
    ]}
    m1 = manifest(meta_dir, [entry(f1, 2, 100)], schema, codec="deflate")
    l1 = manifest_list(meta_dir, 100, [m1], 2)
    snaps = [{"snapshot-id": 100, "sequence-number": 1,
              "timestamp-ms": 1000, "manifest-list": "file://" + l1,
              "schema-id": 0, "summary": {"operation": "append"}}]
    metadata(path, [schema], snaps,
             [{"snapshot-id": 100, "timestamp-ms": 1000}], current=100)
    got: list = []
    _drain(spark, path, str(tmp_path / "ckpt"), got,
           starting_snapshot_id=100)
    assert sorted(got) == [(1, 1.5), (2, 2.5)]


def test_rewrite_snapshot_refuses_then_skips(spark, tmp_path):
    """A snapshot whose summary says replace (compaction) refuses as an
    append stream; skip_rewrites passes over it WITHOUT emitting its
    re-added files, then later appends still stream."""
    path = str(tmp_path / "rw")
    data_dir, meta_dir = os.path.join(path, "data"), os.path.join(
        path, "metadata")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "double"},
    ]}
    import pyarrow as pa

    def snap(name, sid, seq, rows, op):
        f = write_data_file(
            os.path.join(data_dir, name), ["id", "v"], [1, 2],
            [[r[0] for r in rows], [r[1] for r in rows]],
            [pa.int64(), pa.float64()],
        )
        m = manifest(meta_dir, [entry(f, len(rows), sid)], schema)
        lst = manifest_list(meta_dir, sid, [m], len(rows),
                            sequence_number=seq)
        return {"snapshot-id": sid, "sequence-number": seq,
                "timestamp-ms": seq * 1000,
                "manifest-list": "file://" + lst,
                "schema-id": 0, "summary": {"operation": op}}

    s1 = snap("f1.parquet", 100, 1, [(1, 1.0)], "append")
    s2 = snap("f2.parquet", 200, 2, [(1, 1.0)], "replace")  # compaction
    s3 = snap("f3.parquet", 300, 3, [(2, 2.0)], "append")
    # s2's manifest list must ALSO carry s1's manifest as existing in a
    # real table, but the stream only reads added manifests — this shape
    # is sufficient for the tailing contract
    log = [{"snapshot-id": s["snapshot-id"],
            "timestamp-ms": s["timestamp-ms"]} for s in (s1, s2, s3)]
    metadata(path, [schema], [s1, s2, s3], log, current=300)

    got: list = []
    with pytest.raises(Exception, match="rewrites"):
        _drain(spark, path, str(tmp_path / "c1"), got,
               starting_snapshot_id=100)
    got = []
    _drain(spark, path, str(tmp_path / "c2"), got,
           starting_snapshot_id=100, skip_rewrites=True)
    # s1 and s3 stream; s2's re-added file is skipped whole
    assert sorted(got) == [(1, 1.0), (2, 2.0)]


def test_capped_available_now_is_bounded_resumable(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    for i in range(3):
        append_iceberg(
            spark,
            spark.createDataFrame([(1000 + i, float(i))], _SCHEMA),
            path,
        )
    got: list = []
    ckpt = str(tmp_path / "ckpt")
    meta = read_metadata(path)
    first = min(meta["snapshots"], key=lambda s: s["sequence-number"])
    runs = 0
    while runs < 20:
        before = len(got)
        _drain(spark, path, ckpt, got,
               starting_snapshot_id=first["snapshot-id"],
               max_files_per_batch=2)
        runs += 1
        if len(got) == before and len(got) >= 13:
            break
    want = sorted((r.id, r.v)
                  for r in read_iceberg_table(spark, path).collect())
    assert sorted(got) == want  # everything exactly once, no duplicates


def test_sink_exactly_once_under_checkpoint_reset(spark, tmp_path):
    from monday_etl_spark.streaming.iceberg_sink import (
        run_iceberg_append_stream,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, float(i)) for i in range(8)], _SCHEMA
    ).repartition(2).write.parquet(src)
    path = _mk_table(spark, tmp_path)

    out = run_iceberg_append_stream(
        spark, src, path, app_id="app-x",
        checkpoint_dir=str(tmp_path / "c1"),
    )
    n1 = out.count()
    assert n1 == 18  # 10 base + 8 drained
    assert last_iceberg_txn(path, "app-x") == 0
    # checkpoint RESET over the unchanged source: batch ids replay from 0
    # and the summary stamps classify them as already-committed
    out2 = run_iceberg_append_stream(
        spark, src, path, app_id="app-x",
        checkpoint_dir=str(tmp_path / "c2"),
    )
    assert out2.count() == 18  # no duplicates
    # a NEW app id appends for real
    out3 = run_iceberg_append_stream(
        spark, src, path, app_id="app-y",
        checkpoint_dir=str(tmp_path / "c3"),
    )
    assert out3.count() == 26


def test_expire_snapshots_and_stream_refusal(spark, tmp_path):
    from monday_etl_spark.iceberg_import import expire_iceberg_snapshots

    path = _mk_table(spark, tmp_path)
    for i in range(3):
        append_iceberg(
            spark, spark.createDataFrame([(900 + i, float(i))], _SCHEMA),
            path)
    assert len(read_metadata(path)["snapshots"]) == 4
    # pin the second snapshot with a tag: expiry must keep it
    meta_dir = os.path.join(path, "metadata")
    import glob as _glob

    vfile = sorted(_glob.glob(os.path.join(meta_dir, "v*.metadata.json")))[-1]
    meta = json.load(open(vfile))
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    pinned = snaps[1]["snapshot-id"]
    first = snaps[0]["snapshot-id"]
    meta["refs"]["keepme"] = {"snapshot-id": pinned, "type": "tag"}
    json.dump(meta, open(vfile, "w"))

    new_v = expire_iceberg_snapshots(path, keep_last=2)
    meta2 = read_metadata(path)
    ids = {s["snapshot-id"] for s in meta2["snapshots"]}
    assert pinned in ids and first not in ids and len(ids) == 3
    # current reads unaffected; expired snapshot unreachable
    assert read_iceberg_table(spark, path).count() == 13
    assert read_iceberg_table(spark, path, ref="keepme").count() == 11
    with pytest.raises(ValueError, match="not in table metadata"):
        read_iceberg_table(spark, path, snapshot_id=first)
    # the expired snapshot's manifest list is gone from storage
    old_snap = next(s for s in snaps if s["snapshot-id"] == first)
    from monday_etl_spark.iceberg_import import _from_uri

    assert not os.path.exists(_from_uri(old_snap["manifest-list"]))
    # a retained starting point still streams fine after expiry (the
    # pinned snapshot's own adds included)
    got: list = []
    _drain(spark, path, str(tmp_path / "ck"), got,
           starting_snapshot_id=pinned)
    assert sorted(got) == [(900, 0.0), (901, 1.0), (902, 2.0)]
    assert new_v == max(
        int(os.path.basename(f)[1:].split(".")[0])
        for f in _glob.glob(os.path.join(meta_dir, "v*.metadata.json")))


def test_stream_checkpoint_below_retained_history_refuses(spark, tmp_path):
    """A checkpoint stranded below the oldest retained snapshot (capped
    drain, then aggressive expiry) refuses loudly instead of silently
    skipping the expired commits' rows."""
    from monday_etl_spark.iceberg_import import expire_iceberg_snapshots

    path = _mk_table(spark, tmp_path)
    for i in range(3):
        append_iceberg(
            spark, spark.createDataFrame([(700 + i, float(i))], _SCHEMA),
            path)
    meta = read_metadata(path)
    first = min(meta["snapshots"], key=lambda s: s["sequence-number"])
    got: list = []
    ckpt = str(tmp_path / "ck")
    # bounded drain: the checkpoint lands mid-history
    _drain(spark, path, ckpt, got,
           starting_snapshot_id=first["snapshot-id"],
           max_files_per_batch=1)
    assert 0 < len(got) < 13
    expire_iceberg_snapshots(path, keep_last=1)
    # restart WITHOUT the starting option: the checkpoint's committed
    # offset drives the resume and lands below the retained history
    with pytest.raises(Exception, match="expired"):
        _drain(spark, path, ckpt, got, max_files_per_batch=1)


def test_stream_skips_merged_manifest_carryover(spark, tmp_path):
    """A foreign writer with manifest merging carries OLDER ADDED entries
    (stamped with their original snapshot_id) into the manifest a later
    append adds: the plain data stream must deliver only the NEW
    snapshot's own entries — re-delivering the carried ones would
    duplicate rows an earlier micro-batch already served."""
    import os

    from tests._iceberg_builders import entry, manifest, metadata, \
        write_data_file
    from tests.test_iceberg_changes import _mlist

    path = str(tmp_path / "mergedadd")
    meta_dir = os.path.join(path, "metadata")
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir)
    os.makedirs(meta_dir)
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "long"},
    ]}
    f1 = write_data_file(os.path.join(data_dir, "f1.parquet"),
                         ["id", "v"], [1, 2], [[1, 2], [10, 20]])
    f2 = write_data_file(os.path.join(data_dir, "f2.parquet"),
                         ["id", "v"], [1, 2], [[5], [50]])
    f0 = write_data_file(os.path.join(data_dir, "f0.parquet"),
                         ["id", "v"], [1, 2], [[9], [90]])
    m1 = manifest(meta_dir, [entry(f1, 2, 100, seq=1)], schema)
    # snapshot 200's MERGED manifest: its own f2 entry + f1's carried
    # ADDED entry still stamped snapshot_id=100 + an unexpired carried
    # TOMBSTONE (status 2, snapshot_id=90) from an older COW delete —
    # which must NOT flag this pure append as a rewrite (that would
    # silently drop f2 under skip_rewrites)
    m2 = manifest(meta_dir,
                  [entry(f2, 1, 200, seq=2),
                   entry(f1, 2, 100, seq=1),
                   entry(f0, 1, 90, seq=1, status=2)], schema)
    l1 = _mlist(meta_dir, 100, [(m1, 0, 1, 100)])
    l2 = _mlist(meta_dir, 200, [(m2, 0, 2, 200)])
    snaps = [
        {"snapshot-id": 100, "sequence-number": 1, "timestamp-ms": 1000,
         "manifest-list": "file://" + l1, "schema-id": 0,
         "summary": {"operation": "append"}},
        {"snapshot-id": 200, "sequence-number": 2, "timestamp-ms": 2000,
         "parent-snapshot-id": 100,
         "manifest-list": "file://" + l2, "schema-id": 0,
         "summary": {"operation": "append"}},
    ]
    metadata(path, [schema], snaps,
             [{"snapshot-id": 100, "timestamp-ms": 1000},
              {"snapshot-id": 200, "timestamp-ms": 2000}], current=200)

    stream = stream_iceberg(spark, path, starting_snapshot_id=100,
                            skip_rewrites=True)
    root = str(tmp_path / "d_merged")
    out = os.path.join(root, "rows")

    def handle(batch, bid):
        batch.write.mode("overwrite").parquet(
            os.path.join(out, f"batch={bid}"))

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", os.path.join(root, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
    # each row exactly once: f1 via snapshot 100, f2 via snapshot 200
    assert got == [(1, 10), (2, 20), (5, 50)]


def test_date_identity_partition_streams_typed(spark, tmp_path):
    """Avro carries a date identity-partition value as int days; the
    streamed constant column must come out as that date — in the plain
    stream (against read_iceberg_table) and in the changelog stream
    (against read_iceberg_changes)."""
    import datetime

    from monday_etl_spark.iceberg_changes import read_iceberg_changes
    from monday_etl_spark.iceberg_import import (
        create_iceberg_table,
        iceberg_history,
    )

    path = str(tmp_path / "by_date")
    create_iceberg_table(path, [("id", "long"), ("d", "date")],
                         partition_by=[("d", "identity")])
    append_iceberg(spark, spark.createDataFrame(
        [(1, datetime.date(2024, 1, 5)), (2, datetime.date(2024, 2, 6))],
        "id long, d date"), path)
    first = iceberg_history(path)[0]["snapshot_id"]

    def drained(ckpt, **opts):
        rows: list = []

        def handle(batch, _bid):
            rows.extend(tuple(r) for r in batch.collect())

        q = (stream_iceberg(spark, path, starting_snapshot_id=first, **opts)
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sorted(rows)

    want = sorted(tuple(r) for r in read_iceberg_table(spark, path).collect())
    assert len(want) == 2
    assert drained("plain") == want
    changes = read_iceberg_changes(spark, path)
    assert drained("changes", changelog=True) == sorted(
        tuple(r) for r in changes.collect())
