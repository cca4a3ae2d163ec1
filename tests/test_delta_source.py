"""Version-tailing Delta streaming source: initial snapshot, incremental
tail, offset restart, and the loud refusal on removes."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from monday_etl_spark.delta_export import export_delta_log
from monday_etl_spark.delta_import import append_delta, read_delta
from monday_etl_spark.delta_source import stream_delta
from monday_etl_spark.tableformat import write_versioned

_SCHEMA = "id bigint, v double"


def _mk_table(spark, root) -> str:
    path = str(root / "tbl")
    base = spark.createDataFrame([(i, float(i)) for i in range(10)], _SCHEMA)
    write_versioned(base, path, key="id", n_buckets=2)
    export_delta_log(path)
    return path


def _drain(spark, path, ckpt, collected, **opts):
    stream = stream_delta(spark, path, **opts)

    def handle(batch, _bid):
        collected.extend((r.id, r.v) for r in batch.collect())

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_initial_snapshot_then_tail(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([(100, 1.0)], _SCHEMA), path)

    got: list = []
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, path, ckpt, got, starting_version=0)
    want = sorted((r.id, r.v) for r in read_delta(spark, path).collect())
    assert sorted(got) == want and len(got) == 11

    # two more commits: the SAME checkpoint resumes at the stored offset
    # and sees only the new versions
    append_delta(spark, spark.createDataFrame([(101, 2.0)], _SCHEMA), path)
    append_delta(spark, spark.createDataFrame([(102, 3.0)], _SCHEMA), path)
    tail: list = []
    _drain(spark, path, ckpt, tail, starting_version=0)
    assert sorted(tail) == [(101, 2.0), (102, 3.0)]


def test_default_start_streams_only_new_commits(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    got: list = []
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, path, ckpt, got)  # default start = current version
    assert got == []
    append_delta(spark, spark.createDataFrame([(500, 5.0)], _SCHEMA), path)
    _drain(spark, path, ckpt, got)
    assert got == [(500, 5.0)]


def test_schema_from_log_null_fills_old_files(spark, tmp_path):
    """A file predating a column (hand-evolved log) surfaces NULLs through
    the arrow reader, same contract as read_delta."""
    table = str(tmp_path / "evolve")
    os.makedirs(table)
    stage = os.path.join(table, "_stage")
    spark.createDataFrame([(1,)], "id bigint").coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.makedirs(os.path.join(table, "data"))
    os.replace(os.path.join(stage, part),
               os.path.join(table, "data", "old.parquet"))
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
    ]})
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}}},
        {"add": {"path": "data/old.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    got: list = []
    _drain(spark, table, str(tmp_path / "ckpt"), got, starting_version=0)
    assert got == [(1, None)]


def test_removes_refuse_loudly(spark, tmp_path):
    path = _mk_table(spark, tmp_path)
    append_delta(spark, spark.createDataFrame([(100, 1.0)], _SCHEMA), path)
    # hand-write a remove commit (a delete/compaction happened upstream)
    log = os.path.join(path, "_delta_log")
    versions = sorted(int(f[:20]) for f in os.listdir(log)
                      if f.endswith(".json"))
    with open(os.path.join(log, f"{versions[-1] + 1:020d}.json"), "w") as fh:
        fh.write(json.dumps(
            {"remove": {"path": "gone.parquet", "dataChange": True}}
        ) + "\n")

    got: list = []
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        _drain(spark, path, str(tmp_path / "ckpt"), got, starting_version=0)

    # with the opt-in, removes are skipped and adds still stream
    got2: list = []
    _drain(spark, path, str(tmp_path / "ckpt2"), got2,
           starting_version=0, ignore_deletes=True)
    assert len(got2) == 11


def test_partitioned_table_streams_typed_partition_columns(spark, tmp_path):
    """Partition columns live in partitionValues (Hive layout), not the
    data files; the stream surfaces them as typed constant columns."""
    table = str(tmp_path / "part")
    os.makedirs(table)
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        {"name": "day", "type": "date", "nullable": True, "metadata": {}},
    ]})
    stage = os.path.join(table, "_stage")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], _SCHEMA) \
        .coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.makedirs(os.path.join(table, "data"))
    os.replace(os.path.join(stage, part),
               os.path.join(table, "data", "d0.parquet"))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema,
                      "partitionColumns": ["day"], "configuration": {}}},
        {"add": {"path": "data/d0.parquet",
                 "partitionValues": {"day": "2026-01-05"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    # v1 through the append path (Hive key=value routing)
    append_delta(
        spark,
        spark.createDataFrame(
            [(3, 3.0, datetime.date(2026, 1, 6))],
            "id bigint, v double, day date"),
        table,
    )

    stream = stream_delta(spark, table, starting_version=0)
    assert stream.schema["day"].dataType.simpleString() == "date"
    got: list = []

    def handle(batch, _bid):
        got.extend((r.id, r.v, r.day) for r in batch.collect())

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert sorted(got) == [
        (1, 1.0, datetime.date(2026, 1, 5)),
        (2, 2.0, datetime.date(2026, 1, 5)),
        (3, 3.0, datetime.date(2026, 1, 6)),
    ]


def test_timestamp_partition_streams_like_batch_read(spark, tmp_path):
    """Timestamp partition values in both of the spec's spellings (zone-
    less, read in the UTC session zone, and ISO-8601 with ``Z``) and a
    timestamp data column stream exactly as ``read_delta`` reads them."""
    table = str(tmp_path / "ts_part")
    os.makedirs(os.path.join(table, "data"))
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "at", "type": "timestamp", "nullable": True,
         "metadata": {}},
        {"name": "hour", "type": "timestamp", "nullable": True,
         "metadata": {}},
    ]})
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema,
                      "partitionColumns": ["hour"], "configuration": {}}},
    ]
    for i, hour in enumerate(["2026-01-05 12:00:00",
                              "2026-01-06T01:00:00.000004Z"]):
        stage = os.path.join(table, f"_stage{i}")
        spark.createDataFrame(
            [(i, datetime.datetime(2026, 1, 5 + i, 3, 4, 5))],
            "id bigint, at timestamp").coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.replace(os.path.join(stage, part),
                   os.path.join(table, "data", f"d{i}.parquet"))
        actions.append({"add": {"path": f"data/d{i}.parquet",
                                "partitionValues": {"hour": hour},
                                "size": 1, "modificationTime": 0,
                                "dataChange": True}})
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    got: list = []

    def handle(batch, _bid):
        got.extend(tuple(r) for r in batch.collect())

    q = (stream_delta(spark, table, starting_version=0)
         .writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    want = sorted(tuple(r) for r in read_delta(spark, table).collect())
    assert len(want) == 2 and None not in want[0] + want[1]
    assert sorted(got) == want


def _mk_multifile_table(spark, root):
    """v0 = 3 files (10 rows), v1 and v2 = 2 files (4 rows) each."""
    path = str(root / "tbl")
    base = spark.createDataFrame([(i, float(i)) for i in range(10)], _SCHEMA)
    write_versioned(base, path, key="id", n_buckets=3)
    export_delta_log(path)
    for k in range(2):
        rows = [(100 + 10 * k + j, 0.0) for j in range(4)]
        append_delta(
            spark,
            spark.createDataFrame(rows, _SCHEMA).repartition(2), path,
        )
    return path


def test_max_files_per_batch_bounds_processing_time_batches(spark, tmp_path):
    """Under a processing-time trigger the cap yields multiple bounded
    micro-batches that union to exactly-once delivery. 7 files / cap 2
    -> at least 4 non-empty batches."""
    import time

    path = _mk_multifile_table(spark, tmp_path)
    want = sorted((r.id, r.v) for r in read_delta(spark, path).collect())
    batches: list = []

    def handle(batch, bid):
        rows = [(r.id, r.v) for r in batch.collect()]
        if rows:
            batches.append(rows)

    stream = stream_delta(spark, path, starting_version=0,
                          max_files_per_batch=2)
    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="0 seconds").start())
    deadline = time.time() + 120
    while sum(len(b) for b in batches) < len(want):
        assert time.time() < deadline, f"drained {batches} of {len(want)}"
        time.sleep(0.2)
    q.stop()

    assert sorted(r for b in batches for r in b) == want  # exactly once
    assert len(batches) >= 4  # 7 files at <=2 per batch


def test_available_now_with_cap_is_a_bounded_resumable_drain(spark, tmp_path):
    """Spark runs Python sources under Trigger.AvailableNow as a single
    batch, so a capped stream drains at most the cap per .start(); the
    checkpoint carries the position and repeated runs complete the
    backfill exactly once."""
    path = _mk_multifile_table(spark, tmp_path)
    want = sorted((r.id, r.v) for r in read_delta(spark, path).collect())
    got: list = []
    ckpt = str(tmp_path / "ckpt")
    runs = 0
    while sorted(got) != want:
        before = len(got)
        _drain(spark, path, ckpt, got,
               starting_version=0, max_files_per_batch=2)
        runs += 1
        assert runs <= 10, f"no convergence: {sorted(got)}"
        assert len(got) > before, "a run made no progress"
    assert runs >= 4  # 7 files at <=2 per run
    assert sorted(got) == want  # exactly once, nothing duplicated


def test_offset_forms_normalize():
    from monday_etl_spark.delta_source import DeltaStreamReader
    from monday_etl_spark.iceberg_source import IcebergStreamReader

    assert DeltaStreamReader._norm({"version": 3}) == (4, 0)
    assert DeltaStreamReader._norm({"version": 3, "index": 2}) == (3, 2)
    assert IcebergStreamReader._norm({"seq": 3}) == (4, 0)
    assert IcebergStreamReader._norm({"seq": 3, "index": 2}) == (3, 2)


def _check_walk(reader, keys, sizes, cap):
    """Walk ``reader`` from the first key in ``cap``-unit steps: it never
    exceeds the budget, never regresses, never passes head, and the
    capped steps visit exactly the uncapped unit sequence."""
    head = (keys[-1], sizes[-1])
    pos, seen = (keys[0], 0), []
    for _ in range(sum(sizes) + len(sizes) + 2):
        nxt = reader._advance(pos, keys, cap)
        assert nxt >= pos, "walk regressed"
        assert nxt <= head, "walk passed head"
        taken = [(k, i) for k, n in zip(keys, sizes)
                 if pos[0] <= k <= nxt[0]
                 for i in range(pos[1] if k == pos[0] else 0,
                                nxt[1] if k == nxt[0] else n)]
        assert len(taken) <= cap, "budget exceeded"
        seen += taken
        if nxt == pos:
            break
        pos = nxt
    assert pos == head, "walk did not reach head"
    want = [(k, i) for k, n in zip(keys, sizes) for i in range(n)]
    assert seen == want, "capped walk skipped or duplicated files"


def test_advance_walk_properties(tmp_path):
    """Property-check the rate-limit walk against a synthetic Delta log
    (contiguous versions) and against sparse commit keys with empty
    commits anywhere (Iceberg sequence numbers)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from monday_etl_spark.delta_source import DeltaStreamReader
    from monday_etl_spark.fileset import FileStreamReader

    @settings(max_examples=200, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=0, max_value=5),
                       min_size=1, max_size=8),
        cap=st.integers(min_value=1, max_value=7),
    )
    def check(sizes, cap):
        table = tmp_path / f"t{abs(hash((tuple(sizes), cap)))}"
        log = table / "_delta_log"
        log.mkdir(parents=True, exist_ok=True)
        meta = {"metaData": {
            "id": "p", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}}}
        for v, n in enumerate(sizes):
            actions = [meta] if v == 0 else []
            actions += [{"add": {"path": f"f{v}_{i}.parquet",
                                 "partitionValues": {}, "size": 1,
                                 "modificationTime": 0, "dataChange": True}}
                        for i in range(n)]
            (log / f"{v:020d}.json").write_text(
                "\n".join(json.dumps(a) for a in actions) + "\n")

        r = DeltaStreamReader({"path": str(table), "starting_version": "0",
                               "max_files_per_batch": str(cap)})
        keys = r._keys()
        assert list(keys) == list(range(len(sizes)))
        _check_walk(r, keys, sizes, cap)

    check()

    class Sparse(FileStreamReader):
        key = "seq"

        def __init__(self, sizes_of):
            super().__init__({})
            self.sizes_of = sizes_of

        def _keys(self):
            return sorted(self.sizes_of)

        def _commit_units(self, k):
            return list(range(self.sizes_of[k])), None

        def read(self, partition):
            return iter([])

    @settings(max_examples=200, deadline=None)
    @given(
        commits=st.dictionaries(st.integers(min_value=1, max_value=40),
                                st.integers(min_value=0, max_value=5),
                                min_size=1, max_size=8),
        cap=st.integers(min_value=1, max_value=7),
    )
    def check_sparse(commits, cap):
        r = Sparse(commits)
        keys = r._keys()
        _check_walk(r, keys, [commits[k] for k in keys], cap)

    check_sparse()


def test_starting_timestamp_resolves_to_first_commit_at_or_after(
        spark, tmp_path):
    from monday_etl_spark.delta_import import commit_timestamps

    path = _mk_table(spark, tmp_path)           # v0: ids 0..9
    append_delta(spark, spark.createDataFrame([(100, 1.0)], _SCHEMA), path)
    append_delta(spark, spark.createDataFrame([(101, 2.0)], _SCHEMA), path)
    times = commit_timestamps(path)

    got: list = []
    _drain(spark, path, str(tmp_path / "ckpt"), got,
           starting_timestamp=times[1])
    # earliest version at-or-after times[1]: v1 (and v2 if clamped equal)
    assert (100, 1.0) in got and (101, 2.0) in got
    assert all(i >= 100 for i, _ in got)

    with pytest.raises(Exception):
        stream_delta(spark, path, starting_version=0,
                     starting_timestamp=times[1])


def test_stream_reads_mapped_table_logical_names(spark, tmp_path):
    """A renamed tableformat snapshot exports with mode=name column
    mapping; the stream reader must resolve old footers through each
    field's physicalName and surface the LOGICAL names — never silent
    NULL columns."""
    from monday_etl_spark.tableformat import rename_column

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(i, float(i)) for i in range(10)], _SCHEMA)
    write_versioned(base, path, key="id", n_buckets=2)
    rename_column(path, "v", "value")
    export_delta_log(path)

    stream = stream_delta(spark, path, starting_version=0)
    assert stream.columns == ["id", "value"]
    got: list = []

    def handle(batch, _bid):
        got.extend((r.id, r.value) for r in batch.collect())

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert sorted(got) == [(i, float(i)) for i in range(10)]


def test_stream_refuses_unreadable_protocol_eagerly(spark, tmp_path):
    """The batch reader's protocol/metaData gates apply to streams too —
    and at DECLARATION time, not first micro-batch."""
    from monday_etl_spark.delta_import import DeltaProtocolError

    table = str(tmp_path / "rv7")
    os.makedirs(os.path.join(table, "_delta_log"))
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]})
    actions = [
        {"protocol": {"minReaderVersion": 7, "minWriterVersion": 7}},
        {"metaData": {"id": "x", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}}},
    ]
    with open(os.path.join(table, "_delta_log",
                           f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    with pytest.raises(DeltaProtocolError, match="minReaderVersion"):
        stream_delta(spark, table, starting_version=0)


def test_stream_refuses_deletion_vectors(spark, tmp_path):
    """An add action carrying a deletionVector must refuse — streaming the
    file whole would resurrect deleted rows (even with ignore_deletes)."""
    path = _mk_table(spark, tmp_path)
    # hand-append a DV-carrying commit to the exported log
    dv_add = {"add": {"path": "nonexistent.parquet", "partitionValues": {},
                      "size": 1, "modificationTime": 0, "dataChange": True,
                      "deletionVector": {"storageType": "u",
                                         "pathOrInlineDv": "x", "offset": 1,
                                         "sizeInBytes": 1, "cardinality": 1}}}
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps(dv_add) + "\n")

    got: list = []
    with pytest.raises(Exception, match="deletionVector|StreamingQuery"):
        _drain(spark, path, str(tmp_path / "ckpt"), got,
               starting_version=0, ignore_deletes=True)
    assert got == []


def test_stream_resolves_id_mapped_footers(spark, tmp_path):
    """mode=id streaming: a footer stamping field ids under unrelated
    physical names resolves by ID; a file written WITHOUT footer ids
    falls back to physicalName (delta-spark's own rule). Both surface
    logical names, never silent NULLs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mapped_schema = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "user_id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "amount", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ],
    })
    table = str(tmp_path / "idmapped")
    os.makedirs(os.path.join(table, "data"))
    # f0: ids authoritative — footer names chosen to match NOTHING
    ids = pa.schema([
        pa.field("zz-1", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
        pa.field("zz-2", pa.float64(), metadata={b"PARQUET:field_id": b"2"}),
    ])
    pq.write_table(pa.Table.from_arrays(
        [pa.array([1, 2], pa.int64()), pa.array([1.0, 2.0], pa.float64())],
        schema=ids), os.path.join(table, "data", "f0.parquet"))
    # f1: NO footer ids -> physicalName fallback
    pq.write_table(pa.table({"col-aaa": pa.array([3], pa.int64()),
                             "col-bbb": pa.array([3.0], pa.float64())}),
                   os.path.join(table, "data", "f1.parquet"))
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "x", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": mapped_schema, "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "id",
                          "delta.columnMapping.maxColumnId": "2"}}},
        {"add": {"path": "data/f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "data/f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    stream = stream_delta(spark, table, starting_version=0)
    assert stream.columns == ["user_id", "amount"]
    got: list = []

    def handle(batch, _bid):
        got.extend((r.user_id, r.amount) for r in batch.collect())

    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert sorted(got) == [(1, 1.0), (2, 2.0), (3, 3.0)]
