"""Manifest-carried file statistics + data skipping (read_where).

- stats recorded at commit, carried by reference through MERGE;
- read_where == plain range filter (skipping never changes results);
- after optimize_zorder, a narrow range predicate PRUNES most files;
- out-of-domain range reads an empty frame with the table schema.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from monday_etl_spark.tableformat import (
    _read_manifest,
    current_version,
    files_for_range,
    merge_versioned,
    optimize_zorder,
    read_version,
    read_where,
    write_versioned,
)

N = 4000


def _df(spark):
    return spark.createDataFrame(
        [(i, i * 10, f"s{i % 7}") for i in range(N)],
        "id bigint, v bigint, s string",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stats_recorded_and_read_where_parity(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=8,
                    stats_cols=["v"])
    man = _read_manifest(path, 1)
    assert man["spec"]["stats_cols"] == ["v"]
    assert man["stats"], "expected per-file stats in the manifest"
    # every referenced file carries a [min, max] within the v domain
    for f, st in man["stats"].items():
        lo, hi = st["v"]
        assert 0 <= lo <= hi <= (N - 1) * 10

    got = read_where(spark, path, "v", 5000, 6000)
    want = read_version(spark, path).filter(
        (F.col("v") >= 5000) & (F.col("v") <= 6000)
    )
    assert _rows(got) == _rows(want)


def test_merge_carries_stats_for_untouched_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=8,
                    stats_cols=["v"])
    man1 = _read_manifest(path, 1)
    upd = spark.createDataFrame([(3, 31, "sX")], "id bigint, v bigint, s string")
    merge_versioned(spark, path, upd)
    man2 = _read_manifest(path, 2)
    # untouched files keep their exact stats entries (copied, not re-read)
    carried = [
        f for fs in man2["buckets"].values() for f in fs
        if f in man1["stats"]
    ]
    assert carried, "merge should carry some files by reference"
    for f in carried:
        assert man2["stats"][f] == man1["stats"][f]
    # the merged row is still found through the skipping read
    got = read_where(spark, path, "v", 31, 31)
    assert [(r.id, r.v) for r in got.collect()] == [(3, 31)]


def test_zorder_enables_real_pruning(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=8)
    optimize_zorder(spark, path, ["v"], files_per_bucket=4)
    man = _read_manifest(path, current_version(path))
    assert "v" in man["spec"]["stats_cols"]
    n_files = sum(len(fs) for fs in man["buckets"].values())

    keep, pruned = files_for_range(path, "v", 100, 200)
    assert pruned > 0
    assert pruned + len(keep) == n_files
    # a 1%-wide range on the clustered column should skip most files
    assert pruned >= n_files // 2

    got = read_where(spark, path, "v", 100, 200)
    want = read_version(spark, path).filter(
        (F.col("v") >= 100) & (F.col("v") <= 200)
    )
    assert _rows(got) == _rows(want)


def test_out_of_domain_range_is_empty_with_schema(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4,
                    stats_cols=["v"])
    got = read_where(spark, path, "v", 10_000_000, 20_000_000)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "v", "s"]


def test_table_health_reports_fragmentation(spark, tmp_path):
    from monday_etl_spark.tableformat import compact_versioned, table_health

    path = str(tmp_path / "tbl")
    # distribution="none" keeps raw write fragmentation — the condition
    # table_health must detect (hash-distributed commits never fragment)
    write_versioned(_df(spark), path, key="id", n_buckets=4,
                    stats_cols=["v"], distribution="none")
    merge_versioned(
        spark, path,
        spark.createDataFrame([(1, 11, "sA"), (2, 21, "sB")],
                              "id bigint, v bigint, s string"),
        distribution="none",
    )
    h = table_health(path)
    assert h["version"] == 2
    assert h["n_buckets"] <= 4
    assert h["n_files"] >= h["n_buckets"]
    assert h["stats_cols"] == ["v"]
    assert h["fragmented_buckets"] >= 1  # merge split touched buckets
    assert h["total_bytes"] > 0

    compact_versioned(spark, path)
    h2 = table_health(path)
    assert h2["fragmented_buckets"] == 0
    assert h2["compact_recommended"] is False


def test_merge_schema_evolution(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F811

    from monday_etl_spark.tableformat import read_version

    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4)
    widened = spark.createDataFrame(
        [(1, 11, "sA", "extra_1"), (4001, 9, "sN", "extra_new")],
        "id bigint, v bigint, s string, note string",
    )
    # without the flag: refuse
    import pytest

    with pytest.raises(ValueError, match="schema mismatch"):
        merge_versioned(spark, path, widened)

    merge_versioned(spark, path, widened, allow_schema_evolution=True)
    latest = read_version(spark, path)
    assert latest.columns == ["id", "v", "s", "note"]
    rows = {r.id: r for r in latest.collect()}
    assert rows[1].note == "extra_1"          # upserted row carries the col
    assert rows[4001].note == "extra_new"     # inserted row too
    assert rows[2].note is None               # pre-evolution rows read NULL
    assert len(rows) == N + 1
    # time travel: v1 keeps its original, narrower schema
    assert read_version(spark, path, 1).columns == ["id", "v", "s"]


def test_read_where_after_evolution_keeps_widened_schema(spark, tmp_path):
    """r05 regression pin: after a schema evolution, a pruned range read
    whose SURVIVING files were all written before the evolution must still
    read through the manifest schema — before the fix Spark inferred the
    schema from the surviving (pre-evolution) footers and the evolved
    column silently vanished."""
    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4,
                    stats_cols=["v"])
    # evolve with a single row whose v is FAR outside the old domain, so a
    # range read in the old domain prunes the only post-evolution file
    widened = spark.createDataFrame(
        [(5001, 999_999, "sZ", "the_note")],
        "id bigint, v bigint, s string, note string",
    )
    # distribution="none" keeps the outlier row in its own file so the old-
    # domain range read prunes it (hash distribution packs the touched
    # bucket into one file whose min/max would span the outlier)
    merge_versioned(spark, path, widened, allow_schema_evolution=True,
                    distribution="none")

    keep, pruned = files_for_range(path, "v", 5000, 6000)
    assert pruned >= 1, "the post-evolution file must be prunable"
    got = read_where(spark, path, "v", 5000, 6000)
    # the widened column is present (manifest schema governs) and NULL on
    # every pre-evolution row
    assert got.columns == ["id", "v", "s", "note"]
    rows = got.collect()
    assert rows and all(r.note is None for r in rows)
    want = read_version(spark, path).filter(
        (F.col("v") >= 5000) & (F.col("v") <= 6000)
    )
    assert _rows(got) == _rows(want)
    # and the evolved row is reachable through the same skipping read
    hit = read_where(spark, path, "v", 999_999, 999_999).collect()
    assert [(r.id, r.note) for r in hit] == [(5001, "the_note")]


def test_concurrent_commit_second_writer_raises(spark, tmp_path):
    """Two writers racing to the same version number: exactly one commit
    wins; the loser gets ConcurrentCommitError and the winner's manifest is
    byte-intact (os.rename would have silently clobbered it)."""
    import json
    import os

    import pytest

    from monday_etl_spark.tableformat import (
        ConcurrentCommitError,
        _commit,
        _manifest_path,
    )

    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4)
    man = _read_manifest(path, 1)

    # both writers computed "next version = 2" from the same snapshot
    winner = dict(man, version=2, note="winner")
    loser = dict(man, version=2, note="loser")
    _commit(path, winner)
    with pytest.raises(ConcurrentCommitError, match="version 2"):
        _commit(path, loser)
    with open(_manifest_path(path, 2)) as fh:
        assert json.load(fh)["note"] == "winner"
    # no tmp litter from either attempt
    mandir = os.path.join(path, "_manifests")
    assert not [f for f in os.listdir(mandir) if f.endswith(".tmp")]


def test_lost_race_retries_and_winner_data_survives(spark, tmp_path,
                                                    monkeypatch):
    """The full optimistic-concurrency story: writer B loses the commit race
    to writer A (who lands BETWEEN B's snapshot read and B's data write —
    the dangerous ordering), and

    - without ``retries`` B raises ConcurrentCommitError;
    - with ``retries=1`` B re-derives against A's snapshot and commits v3
      containing BOTH writers' changes;
    - A's committed v2 stays byte-exact even though B wrote data files for
      "version 2" AFTER A committed — the writer-unique commit directory is
      what prevents B's mode("overwrite") write from deleting A's files
      (a deterministic c00002 name would have);
    - B's lost-attempt files are orphans that vacuum collects.
    """
    import glob
    import os

    import pytest

    import monday_etl_spark.tableformat as tf
    from monday_etl_spark.tableformat import ConcurrentCommitError

    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4)
    v1 = _rows(read_version(spark, path, 1))

    updates_a = spark.createDataFrame([(0, -100, "A")], "id bigint, v bigint, s string")
    updates_b = spark.createDataFrame([(1, -200, "B")], "id bigint, v bigint, s string")

    real_dir = tf._new_commit_dir
    state = {"arm": False, "fired": 0}

    def ambushed_dir(p, version):
        # A's merge lands after B resolved its snapshot but BEFORE B writes
        # any data — B's whole write+commit now races a committed winner.
        if state["arm"]:
            state["arm"] = False
            state["fired"] += 1
            tf.merge_versioned(spark, p, updates_a)
        return real_dir(p, version)

    monkeypatch.setattr(tf, "_new_commit_dir", ambushed_dir)

    state["arm"] = True
    with pytest.raises(ConcurrentCommitError, match="version 2"):
        tf.merge_versioned(spark, path, updates_b)
    assert state["fired"] == 1
    # winner's v2 is intact: v1 with A's row upserted
    want_v2 = sorted([t for t in v1 if t[0] != 0] + [(0, -100, "A")])
    assert _rows(read_version(spark, path, 2)) == want_v2

    # same ambush, but B retries: loses v3 to A's second merge (which
    # re-upserts the same row — v3 content == v2), then re-derives against
    # v3 and commits v4 with BOTH writers' changes
    state["arm"] = True
    got = tf.merge_versioned(spark, path, updates_b, retries=1)
    assert got == 4 and state["fired"] == 2
    want_v4 = sorted([t for t in want_v2 if t[0] != 1] + [(1, -200, "B")])
    assert _rows(read_version(spark, path, 3)) == want_v2  # A's re-merge
    assert _rows(read_version(spark, path, 4)) == want_v4
    assert _rows(read_version(spark, path, 2)) == want_v2  # still time-travels

    # the two lost attempts left orphan data dirs; vacuum(keep_last) that
    # retains every live version still collects them
    n_dirs = len(glob.glob(os.path.join(path, "_data", "c*")))
    assert n_dirs == 6  # v1, A's v2, A's v3, B's v4 + B's two lost attempts
    # orphan_retention_s=0: both writers have finished, nothing in flight
    tf.vacuum(path, keep_last=4, orphan_retention_s=0)
    assert len(glob.glob(os.path.join(path, "_data", "c*"))) == 4
    assert _rows(read_version(spark, path, 1)) == sorted(v1)
    assert _rows(read_version(spark, path, 2)) == want_v2
    assert _rows(read_version(spark, path, 4)) == want_v4


def test_delete_retries_after_lost_race(spark, tmp_path, monkeypatch):
    """delete_versioned(retries=1) re-derives after losing to a concurrent
    merge: the delete applies ON TOP of the winner's upsert."""
    import monday_etl_spark.tableformat as tf

    path = str(tmp_path / "tbl")
    write_versioned(_df(spark), path, key="id", n_buckets=4)
    v1 = _rows(read_version(spark, path, 1))

    updates_a = spark.createDataFrame([(2, -300, "A")], "id bigint, v bigint, s string")
    doomed = spark.createDataFrame([(3,)], "id bigint")

    real_dir = tf._new_commit_dir
    state = {"arm": True}

    def ambushed_dir(p, version):
        if state["arm"]:
            state["arm"] = False
            tf.merge_versioned(spark, p, updates_a)
        return real_dir(p, version)

    monkeypatch.setattr(tf, "_new_commit_dir", ambushed_dir)
    got = tf.delete_versioned(spark, path, doomed, retries=1)
    assert got == 3
    want = sorted(
        [t for t in v1 if t[0] not in (2, 3)] + [(2, -300, "A")]
    )
    assert _rows(read_version(spark, path, 3)) == want


def test_truncate_bounds_semantics():
    """Truncated string bounds stay SOUND: lower <= every value, upper >
    every value with the truncated prefix (or None = unbounded)."""
    from monday_etl_spark.fileset import _STATS_MAX_LEN, _truncate_bounds

    # short values pass through untouched
    assert _truncate_bounds("abc", "xyz") == ["abc", "xyz"]
    # long min truncates DOWN (prefix sorts <= the full string)
    long_min = "m" * 40
    lo, hi = _truncate_bounds(long_min, "zz")
    assert lo == "m" * _STATS_MAX_LEN and lo <= long_min and hi == "zz"
    # long max: prefix with last char incremented sorts > the full value
    long_max = "prefixprefixprefixTAIL"
    _, hi = _truncate_bounds("a", long_max)
    assert len(hi) == _STATS_MAX_LEN and hi > long_max
    # increment lands past the surrogate gap, never inside it
    edge = "x" * (_STATS_MAX_LEN - 1) + "퟿" + "tail-beyond"
    _, hi = _truncate_bounds("a", edge)
    assert hi[-1] == "" and hi > edge
    # un-incrementable prefix (all at the Unicode max): upper is unbounded
    _, hi = _truncate_bounds("a", chr(0x10FFFF) * (_STATS_MAX_LEN + 4))
    assert hi is None


def test_binary_stats_col_records_no_bound(spark, tmp_path):
    """A binary stats column whose bytes are not UTF-8 commits: binary
    min/max are not JSON-safe bounds, so none is recorded for it, and the
    rows read back intact."""
    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\xfe")), (2, bytearray(b"ok"))],
        "id bigint, b binary")
    path = str(tmp_path / "tbl")
    assert write_versioned(df, path, key="id", n_buckets=2,
                           stats_cols=["b"]) == 1
    man = _read_manifest(path, 1)
    assert all("b" not in st for st in man.get("stats", {}).values())
    assert _rows(read_version(spark, path)) == [
        (1, bytearray(b"\xff\xfe")), (2, bytearray(b"ok"))]


def test_string_stats_truncated_and_skipping_sound(spark, tmp_path):
    """A long-string stats column: manifest bounds are capped at the
    truncation length (manifest size tracks FILE count, not value size),
    pruning still fires for disjoint ranges, and read_where stays exact."""
    import json as _json

    from monday_etl_spark.fileset import _STATS_MAX_LEN
    from monday_etl_spark.tableformat import _manifest_path

    # values like "urlbucketXX/" + 80 chars of path: 8 distinct prefixes
    rows = [
        (i, f"urlbucket{i % 8:02d}/" + f"{i:06d}" * 14)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "id bigint, url string")
    path = str(tmp_path / "tbl")
    write_versioned(df, path, key="id", n_buckets=8, stats_cols=["url"])

    with open(_manifest_path(path, 1)) as fh:
        man = _json.load(fh)
    bounds = [b for st in man["stats"].values() for b in st["url"] if b]
    assert bounds and all(len(b) <= _STATS_MAX_LEN for b in bounds)
    # soundness per file: recorded bounds bracket that file's real values
    for f, st in man["stats"].items():
        vals = [r.url for r in spark.read.parquet(f"{path}/{f}").collect()]
        lo, hi = st["url"]
        assert lo <= min(vals)
        assert hi is None or hi > max(vals)

    # exactness through the skipping read, on a range the truncation spans
    lo, hi = "urlbucket03/", "urlbucket05/zzz"
    got = _rows(read_where(spark, path, "url", lo, hi))
    want = _rows(
        read_version(spark, path).filter(F.col("url").between(lo, hi))
    )
    assert got == want and got
    # disjoint range still prunes files despite 80-char values
    _, pruned = files_for_range(path, "url", "zzz", "zzzz")
    assert pruned > 0


def test_maintenance_ops_retry_after_lost_race(spark, tmp_path, monkeypatch):
    """compact/zorder/rebucket also take the optimistic retries=N: each
    re-derives against the snapshot the racing writer committed."""
    import monday_etl_spark.tableformat as tf

    path = str(tmp_path / "tbl")
    # distribution="none" leaves fragmented buckets so compact_versioned has
    # real work (a hash-distributed table returns early, never racing)
    write_versioned(_df(spark), path, key="id", n_buckets=4,
                    distribution="none")
    racer = spark.createDataFrame([(0, -1, "R")], "id bigint, v bigint, s string")

    real_dir = tf._new_commit_dir
    state = {"arm": False}

    def ambushed_dir(p, version):
        if state["arm"]:
            state["arm"] = False
            tf.merge_versioned(spark, p, racer)
        return real_dir(p, version)

    monkeypatch.setattr(tf, "_new_commit_dir", ambushed_dir)

    state["arm"] = True
    v = tf.compact_versioned(spark, path, retries=1)
    assert v == 3  # racer took 2; compaction re-derived and committed 3
    rows = {r.id: r.v for r in read_version(spark, path).collect()}
    assert rows[0] == -1 and len(rows) == N  # racer's row survived

    state["arm"] = True
    v = tf.rebucket_versioned(spark, path, 8, retries=1)
    # racer lost-to... racer commits first (v4), rebucket re-derives to v5
    assert v == 5
    assert tf._read_manifest(path, 5)["spec"]["n_buckets"] == 8
    assert read_version(spark, path).count() == N


def test_multi_column_skipping_prunes_multiplicatively(spark, tmp_path):
    """read_where_all: after a 2-column z-order, a narrow 2-D box prunes
    strictly MORE files than either single-column predicate, and the result
    equals the plain conjunctive filter."""
    from monday_etl_spark.tableformat import (
        _files_for_ranges_man,
        read_where_all,
    )

    path = str(tmp_path / "tbl")
    # two INDEPENDENT dimensions (low vs high digits of i) so a 2-D box is
    # selective in both — (i * k) % 64 would be a bijection of i % 64 and
    # the second predicate could never prune beyond the first
    df = spark.createDataFrame(
        [(i, i % 64, (i // 64) % 64) for i in range(N)],
        "id bigint, x bigint, y bigint",
    )
    write_versioned(df, path, key="id", n_buckets=4)
    optimize_zorder(spark, path, ["x", "y"], files_per_bucket=8)
    man = _read_manifest(path, current_version(path))

    box = {"x": (8, 15), "y": (8, 15)}
    _, p_both = _files_for_ranges_man(man, box)
    _, p_x = _files_for_ranges_man(man, {"x": box["x"]})
    _, p_y = _files_for_ranges_man(man, {"y": box["y"]})
    assert p_both > max(p_x, p_y), (p_both, p_x, p_y)

    got = _rows(read_where_all(spark, path, box))
    want = _rows(
        read_version(spark, path).filter(
            F.col("x").between(8, 15) & F.col("y").between(8, 15)
        )
    )
    assert got == want and got

    # empty box: typed empty frame, columns intact
    empty = read_where_all(spark, path, {"x": (1000, 2000), "y": (8, 15)})
    assert empty.count() == 0
    assert empty.columns == ["id", "x", "y"]
