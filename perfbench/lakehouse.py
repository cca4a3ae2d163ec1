"""``lakehouse_upsert``: one lineitem-derived table kept in three formats.

The same table is held as a ``tableformat`` versioned table, an Iceberg v2
table and a Delta table. Each step upserts ~1% of the keys (a contiguous
key window of updates plus new keys past the end) into every format, then
does a point read and a range read in each, then compacts all three. After every step the
formats must agree with the model kept here on row count, on the point
read's value and on the range read's count and price total. A step is one
operation; the calls inside it are spans of their own layers.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from monday_etl_spark import delta_import, iceberg_import, tableformat
from tpch_gen import lineitem_table
from spans import tree_files

N_ORDERS = 37_500           # ~150k lineitems
UPSERT_SHARE = 0.01
INSERT_SHARE = 0.25         # share of each upsert batch that is new keys
DELTA_FILES = 8
N_BUCKETS = 8
COLUMNS = [("key", "long"), ("partkey", "long"), ("quantity", "double"),
           ("price", "double"), ("flag", "string"), ("rev", "long")]


def _base(rng: np.random.Generator) -> pa.Table:
    li = lineitem_table(rng, N_ORDERS, rng.integers(0, 2404, N_ORDERS))
    key = np.asarray(li["l_orderkey"]) * 8 + np.asarray(li["l_linenumber"])
    return pa.table({
        "key": key.astype(np.int64),
        "partkey": li["l_partkey"],
        "quantity": li["l_quantity"],
        "price": li["l_extendedprice"],
        "flag": li["l_returnflag"],
        "rev": np.zeros(len(key), np.int64),
    })


def _write_delta(path: str, table: pa.Table) -> None:
    """Delta v0: the base table in key-ordered files with min/max stats."""
    os.makedirs(os.path.join(path, "_delta_log"))
    schema = {"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}} for n, t in COLUMNS]}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "perfbench", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": [],
                      "configuration": {}}},
    ]
    step = -(-table.num_rows // DELTA_FILES)
    for i in range(DELTA_FILES):
        part = table.slice(i * step, step)
        rel = f"part-{i:05d}.parquet"
        pq.write_table(part, os.path.join(path, rel))
        keys = np.asarray(part["key"])
        actions.append({"add": {
            "path": rel, "partitionValues": {},
            "size": os.path.getsize(os.path.join(path, rel)),
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps({"numRecords": part.num_rows,
                                 "minValues": {"key": int(keys.min())},
                                 "maxValues": {"key": int(keys.max())}})}})
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


class Lakehouse:

    def __init__(self, bench):
        self.b = bench

    def setup(self, root: str) -> None:
        b = self.b
        rng = np.random.default_rng(b.seed)
        base = _base(rng).sort_by("key")
        self.rng = rng
        self.keys = np.asarray(base["key"])
        self.price = np.asarray(base["price"]).copy()
        self.step_no = 0
        self.root = root
        self.paths = {f: os.path.join(root, f) for f in ("versioned", "iceberg", "delta")}
        spark = b.spark
        df = spark.createDataFrame(base.to_pandas()).repartition(b.cpus)
        tableformat.write_versioned(df, self.paths["versioned"], key="key",
                                    n_buckets=N_BUCKETS, stats_cols=["key"])
        iceberg_import.create_iceberg_table(self.paths["iceberg"], COLUMNS)
        iceberg_import.append_iceberg(spark, df, self.paths["iceberg"])
        _write_delta(self.paths["delta"], base)

    def live_rows(self) -> int:
        return 3 * len(self.keys)

    def stored_bytes(self) -> int:
        return sum(tree_files(self.root).values())

    # -- one step ----------------------------------------------------------
    def _batch(self):
        n = len(self.keys)
        n_upd = int(n * UPSERT_SHARE * (1 - INSERT_SHARE))
        n_ins = int(n * UPSERT_SHARE * INSERT_SHARE)
        lo = int(self.rng.integers(0, n - n_upd))
        upd_keys = self.keys[lo:lo + n_upd]
        ins_keys = self.keys[-1] + 1 + np.arange(n_ins, dtype=np.int64)
        new_price = np.round(self.rng.uniform(1, 100_000, n_upd + n_ins), 2)
        keys = np.concatenate([upd_keys, ins_keys])
        pdf = pa.table({
            "key": keys,
            "partkey": self.rng.integers(0, 20_000, len(keys)),
            "quantity": self.rng.integers(1, 51, len(keys)).astype(np.float64),
            "price": new_price,
            "flag": np.full(len(keys), "U"),
            "rev": np.full(len(keys), self.step_no, np.int64),
        }).to_pandas()
        self.batch_rows = len(keys)
        self.price[lo:lo + n_upd] = new_price[:n_upd]
        self.keys = np.concatenate([self.keys, ins_keys])
        self.price = np.concatenate([self.price, new_price[n_upd:]])
        return self.b.spark.createDataFrame(pdf), int(upd_keys[0]), int(upd_keys[-1])

    def _read(self, name, make, action):
        """One read: build it, run ``action`` on it. Traced runs also count
        the files the scan opens and, for Iceberg, the live delete files."""
        tr = self.b.tracer
        with tr.span(name) as rec:
            df = make()
            out = action(df)
        if tr.enabled:
            rec["files_opened"] = len(df.inputFiles())
            if name.startswith("iceberg"):
                files = iceberg_import.iceberg_metadata_table(
                    self.b.spark, self.paths["iceberg"], "files")
                rec["delete_files"] = files.filter(F.col("content") != 0).count()
        return out

    def prepare(self) -> dict:
        """The next step's batch, read targets and expected answers (untimed)."""
        self.step_no += 1
        upd, lo, hi = self._batch()
        i = int(self.rng.integers(0, len(self.keys)))
        sel = (self.keys >= lo) & (self.keys <= hi)
        return {"upd": upd, "lo": lo, "hi": hi, "k": int(self.keys[i]),
                "price": float(self.price[i]), "rows": self.batch_rows,
                "range": (int(sel.sum()), int(np.round(self.price[sel] * 100).sum()))}

    def step(self) -> None:
        """One operation: upsert a batch into every format, read it back,
        compact; then check every format against the model."""
        s = self.prepare()
        self.verify(s, self.b.op("lakehouse.step", self.run, s, rows=s["rows"]))

    def verify(self, s: dict, out: dict | None) -> None:
        if out is None:
            return
        b, spark, p = self.b, self.b.spark, self.paths
        for name, got in out["point"]:
            b.check(len(got) == 1 and got[0][0] == s["price"], f"{name} point {s['k']}: {got}")
        for name, got in out["range"]:
            b.check(got == s["range"], f"{name} range: {got} != {s['range']}")
        want_rows = len(self.keys)
        for name, full in (
            ("versioned", lambda: tableformat.read_version(spark, p["versioned"])),
            ("iceberg", lambda: iceberg_import.read_iceberg_table(spark, p["iceberg"])),
            ("delta", lambda: delta_import.read_delta(spark, p["delta"])),
        ):
            b.check(full().count() == want_rows, f"{name} row count")

    def run(self, s: dict) -> dict:
        """The timed part of a step."""
        tr, spark, p = self.b.tracer, self.b.spark, self.paths
        upd, k, lo, hi = s["upd"], s["k"], s["lo"], s["hi"]
        tr.call("tableformat.merge_versioned", tableformat.merge_versioned,
                spark, p["versioned"], upd, fs_root=p["versioned"])
        tr.call("iceberg_import.upsert_iceberg", iceberg_import.upsert_iceberg,
                spark, upd, p["iceberg"], key="key", fs_root=p["iceberg"])
        tr.call("delta_import.upsert_delta", delta_import.upsert_delta,
                spark, upd, p["delta"], ["key"], fs_root=p["delta"])

        def point(df):
            return df.select("price").collect()

        def total(df):
            return tuple(df.agg(F.count(F.lit(1)),
                                F.sum(F.round(F.col("price") * 100).cast("long"))).first())

        out = {"point": [], "range": []}
        for name, make in (
            ("tableformat.read_key", lambda: tableformat.read_key(spark, p["versioned"], k)),
            ("iceberg_import.read_iceberg_where",
             lambda: iceberg_import.read_iceberg_where(spark, p["iceberg"], "key", k, k)),
            ("delta_import.read_delta_where",
             lambda: delta_import.read_delta_where(spark, p["delta"], "key", k, k)),
        ):
            out["point"].append((name, self._read(name, make, point)))
        for name, make in (
            ("tableformat.read_where",
             lambda: tableformat.read_where(spark, p["versioned"], "key", lo, hi)),
            ("iceberg_import.read_iceberg_where",
             lambda: iceberg_import.read_iceberg_where(spark, p["iceberg"], "key", lo, hi)),
            ("delta_import.read_delta_where",
             lambda: delta_import.read_delta_where(spark, p["delta"], "key", lo, hi)),
        ):
            out["range"].append((name, self._read(name, make, total)))
        # every round compacts (a run times one round), after the reads that
        # paid for the round's deletes
        tr.call("tableformat.compact_versioned", tableformat.compact_versioned,
                spark, p["versioned"], fs_root=p["versioned"])
        tr.call("iceberg_import.compact_iceberg", iceberg_import.compact_iceberg,
                spark, p["iceberg"], fs_root=p["iceberg"])
        tr.call("delta_import.compact_delta", delta_import.compact_delta,
                spark, p["delta"], fs_root=p["delta"])
        return out
