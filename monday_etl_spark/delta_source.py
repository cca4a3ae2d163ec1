"""Stream FROM a Delta table: version-tailing micro-batch source.

The consumer half of the streaming interop story (``streaming/delta_sink``
produces commits; this turns a Delta table INTO a stream). Semantics match
delta-spark's streaming source: each micro-batch is the set of files ADDED
between two offsets, offsets address a file position *within* a log version
(delta-spark's ``DeltaSourceOffset(reservoirVersion, index)`` shape), and a
``remove`` inside the tailed range is refused loudly (a compacted/deleted
table cannot be replayed as an append stream — delta's own
``ignoreDeletes``-off behavior).

Spark-shaped despite the Python DataSource API:

- planning is driver-side file-listing + JSON-tail replay (cheap by
  construction: the tail is short when writers checkpoint);
- data moves through ``read(partition)`` as **pyarrow RecordBatches** —
  one InputPartition per data file, so a micro-batch scans its files in
  parallel and rows cross the Python boundary Arrow-columnar, never
  row-at-a-time;
- the batch-read path stays ``delta_import.read_delta`` (JVM scan); this
  source exists for the *streaming* contract, where the per-batch file
  set is exactly what the log names.

Offsets: ``{"version": v, "index": i}``. ``fileset.FileStreamReader``
owns the offset forms, the ``max_files_per_batch`` rate limit
(delta-spark's ``maxFilesPerTrigger``) and the delivered-high-water
clamp. The commit keys are the contiguous version range, so a version
missing from the log refuses loudly. The ``starting_version`` option
(default: the table's current version, i.e. only NEW commits stream)
rewinds to include history; ``0`` replays the table from its first
commit — with our exporter that first commit IS the full initial
snapshot, delta-spark's initial-snapshot batch.

Partitioned tables: partition columns are not in the data files (Hive
layout, per the spec); each file's ``partitionValues`` strings ride the
InputPartition and surface as typed constant Arrow columns.
"""

from __future__ import annotations

import json
import os
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, InputPartition
from pyspark.sql.types import StructType

from .delta_import import (
    DeltaProtocolError,
    _check_meta,
    _check_protocol,
    _list_checkpoints,
    _list_commits,
    _physical_names,
)
from .fileset import FileStreamReader, arrow_type, project


def _checkpoint_action(parts: list[str], kind: str) -> dict | None:
    """The first non-null ``kind`` row across the parts of one
    (possibly multi-part) checkpoint, read with pyarrow."""
    for f in parts:
        if kind not in pq.ParquetFile(f).schema_arrow.names:
            continue
        for m in pq.read_table(f, columns=[kind]).column(kind).to_pylist():
            if m is not None:
                return m
    return None


def _local_action(path: str, kind: str) -> dict | None:
    """Latest action of ``kind`` without a SparkSession: scan the JSON
    commits newest-first, fall back to the newest checkpoint (pyarrow)."""
    commits = _list_commits(path)
    for v in sorted(commits, reverse=True):
        with open(commits[v]) as fh:
            for line in fh:
                if line.strip():
                    a = json.loads(line)
                    if kind in a:
                        return a[kind]
    ckpts = _list_checkpoints(path)
    for v in sorted(ckpts, reverse=True):
        m = _checkpoint_action(ckpts[v], kind)
        if m is not None:
            return m
    return None


def _local_meta(path: str) -> dict:
    meta = _local_action(path, "metaData")
    if meta is None:
        raise DeltaProtocolError(f"{path}: no metaData action in log")
    return meta


def _check_cdf_enabled_local(path: str, start_v: int, end_v: int) -> None:
    """SparkSession-free twin of ``delta_cdf._check_cdf_enabled_over``
    for stream start: refuse when the log PROVES a commit in
    ``[start_v, end_v]`` was written while
    ``delta.enableChangeDataFeed`` was off (its change-data files were
    never written — reconstruction would over-report rewrites).

    Cost is O(range + checkpoint interval), not O(retained history):
    the state seeds from the nearest CLASSIC checkpoint's ``metaData``
    at or below ``start_v - 1`` (a local parquet column read, no
    session) and only commits above it are replayed. With no usable
    checkpoint the replay starts at the earliest retained commit —
    known-off when that is version 0, else unknown (None): only a
    PROVEN off state refuses; the batch reader
    (``read_delta_changes``) does the full checkpoint-backed check."""
    commits = _list_commits(path)
    ckpts = _list_checkpoints(path)
    seed_cands = [c for c in ckpts if c <= start_v - 1]
    enabled: bool | None
    if start_v <= 0:
        enabled = False  # a new table starts with no configuration
        replay_from = 0
    elif seed_cands:
        c = max(seed_cands)
        meta = _checkpoint_action(ckpts[c], "metaData")
        if meta is None:
            # a checkpoint without a readable metaData row proves
            # nothing: stay UNKNOWN, never "proven off"
            enabled = None
        else:
            conf = meta.get("configuration") or {}
            if not isinstance(conf, dict):
                conf = dict(conf)  # pyarrow map columns pylist as pairs
            enabled = conf.get("delta.enableChangeDataFeed") == "true"
        replay_from = c + 1
        if any(v not in commits
               for v in range(replay_from, start_v)):
            # a hole between the checkpoint and the retained tail could
            # hide a metaData transition: the seed degrades to unknown
            # (the batch reader does the full checkpoint-backed check)
            enabled = None
    else:
        earliest = min(commits) if commits else 0
        enabled = False if earliest == 0 else None
        replay_from = earliest
    versions = [v for v in sorted(commits) if replay_from <= v <= end_v]
    floor = None
    for v in versions:
        with open(commits[v]) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "metaData" in a:
                    conf = a["metaData"].get("configuration") or {}
                    now = conf.get("delta.enableChangeDataFeed") == "true"
                    if now and enabled is False:
                        floor = v
                    enabled = now
        if v >= start_v and enabled is False:
            raise DeltaProtocolError(
                f"read_change_feed: change feed is off at version {v}: "
                "commits written while CDF is disabled carry no "
                "change-data files, so streaming from "
                f"{start_v} cannot be served faithfully.")
    if floor is not None and start_v < floor:
        raise DeltaProtocolError(
            f"read_change_feed: change feed was (re-)enabled at version "
            f"{floor}: commits before it carry no change-data files. "
            "Start the stream at or above the enablement version.")


def _current_version(path: str) -> int:
    vs = set(_list_commits(path)) | set(_list_checkpoints(path))
    if not vs:
        raise FileNotFoundError(f"{path}: empty _delta_log/")
    return max(vs)


def _version_actions(path: str, v: int) -> tuple[list[dict], bool]:
    """(add actions in commit order, version-contains-a-remove) for one
    version. A missing commit (checkpoint-cleaned hole) refuses loudly —
    an append stream cannot replay what the log no longer names.
    ``dataChange=false`` actions (OPTIMIZE/compaction: rearranged rows,
    nothing new) are invisible on BOTH sides — the adds do not deliver
    and the removes do not trip the refusal — delta-spark's own rule."""
    f = _list_commits(path).get(v)
    if f is None:
        raise FileNotFoundError(
            f"{path}: cannot stream version {v}: commit missing (log "
            "cleaned by a checkpoint? start the stream at a retained "
            "version)"
        )
    adds, has_remove = [], False
    with open(f) as fh:
        for line in fh:
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                if a["add"].get("dataChange", True) is False:
                    continue  # compaction rewrite: no new rows
                if a["add"].get("deletionVector"):
                    raise DeltaProtocolError(
                        f"{path} v{v}: add action for "
                        f"{a['add'].get('path')} carries a deletionVector; "
                        "streaming the file whole would resurrect deleted "
                        "rows"
                    )
                adds.append(a["add"])
            elif "remove" in a:
                if a["remove"].get("dataChange", True) is not False:
                    has_remove = True
    return adds, has_remove


def _cdf_version_units(path: str, v: int) -> tuple[list[tuple], int]:
    """One version's CHANGE-FEED units: ``([(rel_path, partitionValues,
    change_type-or-None)], commit_ts_ms)``. A commit with ``cdc``
    actions streams its change files exclusively (the ``_change_type``
    column travels in the data — change_type None); a cdc-less commit's
    data-changing adds are blind inserts; a cdc-less commit that removes
    files or re-adds with deletion vectors refuses loudly — the row
    diff lives in state this streaming source does not reconstruct
    (the batch reader's whole-file-remove reconstruction needs a
    snapshot replay; run read_delta_changes for history ranges)."""
    f = _list_commits(path).get(v)
    if f is None:
        raise FileNotFoundError(
            f"{path}: cannot stream changes of version {v}: commit "
            "missing (log cleaned by a checkpoint?)"
        )
    cdc, adds = [], []
    saw_remove = saw_dv = False
    ts = None
    with open(f) as fh:
        for line in fh:
            if not line.strip():
                continue
            a = json.loads(line)
            if "commitInfo" in a:
                ts = a["commitInfo"].get("timestamp", ts)
            elif "cdc" in a:
                cdc.append(a["cdc"])
            elif "add" in a and a["add"].get("dataChange", True):
                if a["add"].get("deletionVector"):
                    saw_dv = True
                adds.append(a["add"])
            elif "remove" in a and a["remove"].get("dataChange", True):
                saw_remove = True
    if ts is None:
        ts = int(os.path.getmtime(f) * 1000)
    if cdc:
        return ([(c["path"], c.get("partitionValues") or {}, None)
                 for c in cdc], ts)
    if saw_remove or saw_dv:
        raise DeltaProtocolError(
            f"{path} v{v}: commit changes rows without change-data "
            "files; the streaming change feed cannot reconstruct it — "
            "use delta_cdf.read_delta_changes for this range"
        )
    return ([(a["path"], a.get("partitionValues") or {}, "insert")
             for a in adds], ts)


_CDF_META_FIELDS = [
    ("_change_type", "string"),
    ("_commit_version", "long"),
    ("_commit_timestamp", "timestamp"),
]


class DeltaFilePartition(InputPartition):
    def __init__(self, abs_path: str, part_values: dict | None = None,
                 change_type: str | None = None,
                 commit_version: int | None = None,
                 commit_ts_ms: int | None = None):
        self.abs_path = abs_path
        self.part_values = part_values or {}
        # change-feed streams only: the constant _change_type for plain
        # add files ("insert"; None = the file carries the column), and
        # the commit stamps
        self.change_type = change_type
        self.commit_version = commit_version
        self.commit_ts_ms = commit_ts_ms


class DeltaStreamReader(FileStreamReader):
    key = "version"
    error = DeltaProtocolError
    partition_type = DeltaFilePartition

    def __init__(self, options):
        super().__init__(options)
        self.path = options.get("path")
        if not self.path:
            raise ValueError("delta_stream source requires the 'path' option")
        self.ignore_deletes = (
            str(options.get("ignore_deletes", "false")).lower() == "true"
        )
        meta = _local_meta(self.path)
        # the same protocol/metaData gates the batch reader enforces: a
        # minReaderVersion this bridge doesn't implement, mode=id mapping,
        # or a non-parquet provider must refuse at stream start, not
        # surface as silent NULL columns
        _check_protocol(_local_action(self.path, "protocol"))
        _check_meta(meta)
        from .delta_import import _field_ids, _mapping_mode

        # column mapping: partitionValues are keyed by physicalName in
        # BOTH modes; data-column footer resolution is by physicalName
        # under mode=name and by the authoritative field ID under mode=id
        # (pyarrow surfaces PARQUET:field_id straight from each footer —
        # the same ids Spark's native fieldId reader matches in the batch
        # path; files written without ids fall back to physical name,
        # delta-spark's own rule)
        self.mode_id = _mapping_mode(meta) == "id"
        self.field_ids = _field_ids(meta) if self.mode_id else {}
        self.phys = _physical_names(meta) or {}
        self.part_cols = meta.get("partitionColumns") or []
        self.schema = StructType.fromJson(json.loads(meta["schemaString"]))
        self.arrow = []
        for f in self.schema.fields:
            at = arrow_type(f.dataType)
            if at is None:
                raise DeltaProtocolError(
                    f"column {f.name}: type {f.dataType.simpleString()} "
                    "not supported by the arrow stream reader")
            self.arrow.append((f.name, at))
        self.cdf = (str(options.get("read_change_feed", "false")).lower()
                    == "true")
        if self.cdf:
            conf = meta.get("configuration") or {}
            if conf.get("delta.enableChangeDataFeed") != "true":
                raise DeltaProtocolError(
                    "read_change_feed: delta.enableChangeDataFeed is not "
                    "set on this table — change files were never written"
                )
            # column-mapped tables stream fine: the arrow read path
            # resolves data columns by physicalName / field id and keys
            # partitionValues physically (same as plain streams), and
            # the cdc files' _change_type column is literal (it is not a
            # table column and carries no mapping)
        start = options.get("starting_version")
        start_ts = options.get("starting_timestamp")
        if start is not None and start_ts is not None:
            raise ValueError(
                "give starting_version OR starting_timestamp, not both"
            )
        if start_ts is not None:
            from .delta_import import version_at_or_after

            # delta-spark's startingTimestamp: the earliest commit at or
            # after the timestamp; errors past the latest commit
            start = version_at_or_after(self.path, int(start_ts))
        if start is not None:
            if self.cdf:
                _check_cdf_enabled_local(
                    self.path, int(start), _current_version(self.path))
            self._initial = {"version": int(start), "index": 0}
        else:
            # only NEW commits stream: the current head, fully consumed
            self._initial = self._head()

    def _keys(self) -> range:
        return range(_current_version(self.path) + 1)

    def _commit_units(self, v: int) -> tuple[list, object]:
        """Change-feed units and the commit timestamp when streaming the
        feed; add actions and whether the version removes files
        otherwise."""
        if self.cdf:
            return _cdf_version_units(self.path, v)
        return _version_actions(self.path, v)

    def _partitions_of(self, v: int, window: list, units: list, fact,
                       batch: dict) -> list:
        def abs_of(rel: str) -> str:
            rel = urllib.parse.unquote(rel)
            return rel if os.path.isabs(rel) else os.path.join(self.path, rel)

        if self.cdf:
            return [DeltaFilePartition(abs_of(rel), pv, change_type=ct,
                                       commit_version=v, commit_ts_ms=fact)
                    for rel, pv, ct in window]
        # any traversed version with a remove refuses — even one whose
        # adds-slice is empty (a pure delete commit), since the delete
        # itself cannot be represented in an append stream
        if fact and not self.ignore_deletes:
            raise DeltaProtocolError(
                f"{self.path}: version {v} removes files: a delete/"
                "compaction cannot replay as an append stream (set "
                "ignore_deletes to skip removes)"
            )
        return [DeltaFilePartition(abs_of(a["path"]),
                                   a.get("partitionValues") or {})
                for a in window]

    # -------------------------------------------------------- reading

    def read(self, partition: DeltaFilePartition):
        if not partition.abs_path:
            return iter([])
        pv = partition.part_values
        # Hive layout: a partition column's value lives in partitionValues
        # (keyed by physical name under column mapping), not the file
        consts = {c: pv.get(self.phys.get(c, c), pv.get(c))
                  for c in self.part_cols}

        def batches():
            pf = pq.ParquetFile(partition.abs_path)
            present = set(pf.schema_arrow.names)
            by_id = {}
            if self.mode_id:
                for fld in pf.schema_arrow:
                    fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                    if fid is not None:
                        by_id[int(fid)] = fld.name
            plan = []
            for name, at in self.arrow:
                footer = self.phys.get(name, name)
                if self.mode_id:
                    footer = by_id.get(self.field_ids[name], footer)
                # a column a pre-evolution file lacks surfaces as NULLs,
                # same contract as read_delta
                src = (footer if name not in consts and footer in present
                       else None)
                plan.append((name, src, at, consts.get(name)))
            if self.cdf:
                # change-feed stamps: the change type travels in cdc
                # files (change_type None) and is a constant for
                # plain-add inserts; version/timestamp are commit
                # constants
                plan += [
                    ("_change_type", "_change_type"
                     if partition.change_type is None else None,
                     pa.string(), partition.change_type),
                    ("_commit_version", None, pa.int64(),
                     partition.commit_version),
                    ("_commit_timestamp", None, pa.timestamp("us", tz="UTC"),
                     partition.commit_ts_ms * 1000),
                ]
            for rb in pf.iter_batches():
                yield project(rb, plan)

        return batches()


class DeltaStreamDataSource(DataSource):
    """Usage:
        spark.dataSource.register(DeltaStreamDataSource)
        spark.readStream.format("delta_stream")
             .option("path", table).option("starting_version", "0").load()
    """

    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def schema(self):
        st = StructType.fromJson(
            json.loads(_local_meta(self.options["path"])["schemaString"])
        )
        if str(self.options.get("read_change_feed", "false")).lower() \
                == "true":
            for name, t in _CDF_META_FIELDS:
                st = st.add(name, t)
        return st

    def streamReader(self, schema) -> DeltaStreamReader:
        return DeltaStreamReader(self.options)


def stream_delta(spark: SparkSession, path: str,
                 starting_version: int | None = None,
                 starting_timestamp: int | None = None,
                 ignore_deletes: bool = False,
                 max_files_per_batch: int | None = None,
                 read_change_feed: bool = False) -> DataFrame:
    """readStream over a Delta table's commit log: one micro-batch per
    range of new file positions, file-parallel Arrow reads. Pair with any
    writeStream sink; with ``streaming/delta_sink`` on the other side this
    is a table-to-table streaming pipe whose state lives entirely in the
    two tables' logs.

    ``read_change_feed=True`` streams the CHANGE FEED instead of the
    data (delta-spark's ``readChangeFeed``): rows carry
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``; cdc
    commits stream their change files (deletes and update pre/post
    images included), cdc-less appends stream as inserts, and a cdc-less
    commit that removes or DV-rewrites files refuses loudly (use
    ``delta_cdf.read_delta_changes`` for historical reconstruction)."""
    from .session import ensure_session_confs

    opts = {"path": path}
    for k, v in (("starting_version", starting_version),
                 ("starting_timestamp", starting_timestamp),
                 ("max_files_per_batch", max_files_per_batch)):
        if v is not None:
            opts[k] = str(v)
    if ignore_deletes:
        opts["ignore_deletes"] = "true"
    if read_change_feed:
        opts["read_change_feed"] = "true"
    # errors a Python DataSource reader raises in __init__ only surface
    # at stream START: build it once here so a bad table or option fails
    # at declaration time
    DeltaStreamReader(opts)
    ensure_session_confs(spark)
    spark.dataSource.register(DeltaStreamDataSource)
    return spark.readStream.format("delta_stream").options(**opts).load()
