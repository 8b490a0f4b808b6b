"""Icebergish storage shim (SURVEY §1.3 caveat): partitioned Parquet +
atomic JSON manifests.

This Spark install has no Iceberg runtime jar and no network to fetch one
(verified at survey time), so this module provides the Iceberg properties
the engine actually relies on —

* atomic append / replace commits (manifest written via ``os.replace``)
* snapshot isolation + time travel (``read(snapshot_id=...)``)
* partition pruning (data laid out as ``host_bucket=N/`` dirs)
* per-snapshot lineage metadata (round number, parent snapshot)

— behind one class, so a real Iceberg catalog can be swapped in when jars
are available without touching the engine.  Single-writer (the driver
loop), which matches the crawl orchestration model.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from functools import reduce
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class IcebergishTable:
    def __init__(self, path: str, schema: T.StructType,
                 partition_by: Optional[str] = None) -> None:
        self.path = path
        self.schema = schema
        self.partition_by = partition_by
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)

    # -- manifest plumbing ---------------------------------------------------
    @property
    def _current_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def current_manifest(self) -> Optional[dict]:
        try:
            with open(self._current_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def manifest_for(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.path, "manifests", f"v{snapshot_id}.json")) as f:
            return json.load(f)

    def current_snapshot_id(self) -> int:
        m = self.current_manifest()
        return -1 if m is None else m["snapshot_id"]

    def _commit(self, manifest: dict) -> None:
        """Write versioned manifest, then atomically flip the current
        pointer — the Iceberg commit protocol in miniature."""
        sid = manifest["snapshot_id"]
        vpath = os.path.join(self.path, "manifests", f"v{sid}.json")
        with open(vpath, "w") as f:
            json.dump(manifest, f)
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._current_path)

    # -- writes ---------------------------------------------------------------
    def _write_snapshot(self, df: DataFrame, sid: int) -> str:
        data_dir = os.path.join(self.path, "data", f"snap-{sid:06d}")
        writer = df.write.mode("overwrite")
        if self.partition_by:
            # cluster rows by the partition column first: without this,
            # partitionBy writes (tasks × buckets) tiny files and the
            # commit-rename storm dominates the round (measured 10-30s on
            # trivial data).  After repartition each bucket lands in one
            # task → ≤1 file per bucket per snapshot.
            df = df.repartition(F.col(self.partition_by))
            writer = df.write.mode("overwrite").partitionBy(self.partition_by)
        writer.parquet(data_dir)
        return data_dir

    def append(self, df: DataFrame, round_no: int) -> int:
        """Atomic append: new snapshot = parent's data dirs + this one."""
        parent = self.current_manifest()
        sid = (parent["snapshot_id"] + 1) if parent else 0
        data_dir = self._write_snapshot(df, sid)
        dirs = (parent["data_dirs"] if parent else []) + [data_dir]
        manifest = {
            "snapshot_id": sid,
            "parent": parent["snapshot_id"] if parent else None,
            "round": round_no,
            "mode": "append",
            "data_dirs": dirs,
            "ts": time.time(),
        }
        # carry the parent's partition-overwrite map forward: an append
        # after overwrite_partitions must keep masking the overwritten
        # values in older dirs, or their dead rows resurface on read
        if parent and parent.get("overwrites"):
            manifest["overwrites"] = dict(parent["overwrites"])
        self._commit(manifest)
        return sid

    def commit_empty(self, round_no: int) -> int:
        """Append NOTHING: a metadata-only commit (no Spark job, no data
        dir) so init can establish a table's round-0 snapshot without
        paying a full write job for an empty DataFrame.  read()/read_new()
        see the same contents as an append of zero rows."""
        parent = self.current_manifest()
        sid = (parent["snapshot_id"] + 1) if parent else 0
        manifest = {
            "snapshot_id": sid,
            "parent": parent["snapshot_id"] if parent else None,
            "round": round_no,
            "mode": "append",
            "data_dirs": list(parent["data_dirs"]) if parent else [],
            "ts": time.time(),
        }
        if parent and parent.get("overwrites"):
            manifest["overwrites"] = dict(parent["overwrites"])
        self._commit(manifest)
        return sid

    def replace(self, df: DataFrame, round_no: int) -> int:
        """Atomic replace: new snapshot's data = this write only (used for
        per-round state tables: pending frontier, bloom blobs).  Old
        snapshots stay readable (time travel / resume)."""
        parent = self.current_manifest()
        sid = (parent["snapshot_id"] + 1) if parent else 0
        data_dir = self._write_snapshot(df, sid)
        self._commit({
            "snapshot_id": sid,
            "parent": parent["snapshot_id"] if parent else None,
            "round": round_no,
            "mode": "replace",
            "data_dirs": [data_dir],
            "ts": time.time(),
        })
        return sid

    def overwrite_partitions(self, df: DataFrame, values: List,
                             round_no: int) -> int:
        """Iceberg-style dynamic partition overwrite: commit a snapshot
        whose data dir holds ONLY the given partition ``values``' rows;
        those values are dropped from every OLDER data dir as metadata
        (the manifest records which values each dir overwrites and the
        read path masks them with a partition filter — no old file is
        rewritten).  This is the incremental-maintenance primitive: an
        upsert batch touching k of N partitions costs one write of k
        partitions, never a table rebuild.  ``df`` must contain only
        rows whose partition column is in ``values`` (enforced)."""
        if not self.partition_by:
            raise ValueError("overwrite_partitions requires a partitioned table")
        from pyspark.sql import Observation
        # declared-partitions guard, folded into the write pass via
        # observe() (a separate count() was one extra full action per
        # commit).  NULL partition values are stray too: isin() is NULL
        # for them, they'd land in __HIVE_DEFAULT_PARTITION__ and later
        # overwrites' isin masking would never kill them — last-writer-
        # wins would silently break for that bucket.
        stray_cond = (F.col(self.partition_by).isNull()
                      | ~F.col(self.partition_by).isin(values))
        obs = Observation()
        df = df.observe(
            obs, F.sum(F.when(stray_cond, 1).otherwise(0)).alias("stray"))
        parent = self.current_manifest()
        sid = (parent["snapshot_id"] + 1) if parent else 0
        data_dir = self._write_snapshot(df, sid)
        stray = obs.get["stray"] or 0
        if stray:
            # the snapshot dir was written but never committed — remove
            # it so the failed commit leaves no unreachable data
            shutil.rmtree(data_dir, ignore_errors=True)
            raise ValueError(
                f"{stray} rows fall outside the declared overwrite "
                f"partitions {values}")
        dirs = (parent["data_dirs"] if parent else []) + [data_dir]
        overwrites = dict(parent.get("overwrites", {})) if parent else {}
        overwrites[data_dir] = sorted(values)
        self._commit({
            "snapshot_id": sid,
            "parent": parent["snapshot_id"] if parent else None,
            "round": round_no,
            "mode": "overwrite_partitions",
            "data_dirs": dirs,
            "overwrites": overwrites,
            "ts": time.time(),
        })
        return sid

    # -- reads ----------------------------------------------------------------
    def read(self, spark: SparkSession,
             snapshot_id: Optional[int] = None) -> DataFrame:
        """Scan the table as of a snapshot (default: current).  Partition
        values overwritten by a LATER snapshot are masked out of older
        dirs with a partition-column filter (metadata-level delete:
        prunes those dirs' partitions at planning, reads no masked row)."""
        manifest = (self.current_manifest() if snapshot_id is None
                    else self.manifest_for(snapshot_id))
        if manifest is None:
            return self._scan(spark, [], {})
        return self._scan(spark, manifest["data_dirs"],
                          manifest.get("overwrites", {}))

    def read_new(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Scan ONLY the data dirs that snapshot *snapshot_id* added over
        its parent (Iceberg's incremental-scan shape).  The engine's
        round loop reads back what it just appended — a full read() would
        list every snapshot's files, growing O(rounds)."""
        manifest = self.manifest_for(snapshot_id)
        parent_dirs = set()
        if manifest.get("parent") is not None:
            parent_dirs = set(self.manifest_for(manifest["parent"])["data_dirs"])
        dirs = [d for d in manifest["data_dirs"] if d not in parent_dirs]
        return self._scan(spark, dirs, {})

    def _scan(self, spark: SparkSession, dirs: List[str],
              overwrites: dict) -> DataFrame:
        """Union of one scan per data dir.  Partition dirs
        (``host_bucket=N``) are discovered per data dir, preserving
        partition pruning on that column; the declared schema keeps the
        column order.  Partition values that a LATER dir of ``dirs``
        overwrites are masked out of the earlier ones."""
        missing = [d for d in dirs if not os.path.isdir(d)]
        if missing:
            # a manifest referencing GC'd files is corruption, not "no
            # rows" — silently skipping would mask wrongly-expired
            # snapshots on the resume/time-travel path
            raise FileNotFoundError(
                f"{self.path}: manifest references missing data dirs "
                f"{missing} — snapshot was GC'd or the table is corrupt")
        if not dirs:
            return spark.createDataFrame([], self.schema)
        parts = []
        for i, d in enumerate(dirs):
            reader = spark.read.schema(self.schema)
            if self.partition_by:
                reader = reader.option("basePath", d)
            p = reader.parquet(d)
            # values overwritten by any LATER dir are dead in this one
            masked = sorted({v for later in dirs[i + 1:]
                             for v in overwrites.get(later, [])})
            if masked:
                p = p.filter(~F.col(self.partition_by).isin(masked))
            parts.append(p)
        return reduce(DataFrame.unionByName, parts)

    def compact(self, spark: SparkSession, round_no: int) -> int:
        """Rewrite the current table contents as ONE snapshot (the Iceberg
        `rewrite_data_files` maintenance action): append-heavy tables
        accumulate a data dir per commit, and although reads stay correct,
        file-listing and task counts grow linearly with history.  Old
        snapshots remain readable (time travel) until GC'd."""
        current = self.read(spark)
        return self.replace(current, round_no)

    def gc_unreachable(self, keep_snapshot_id: int) -> int:
        """Delete data dirs not reachable from *keep_snapshot_id*'s
        manifest (expire-snapshots).  Returns number of dirs removed.
        Only safe after a checkpoint pinning keep_snapshot_id."""
        keep = set(self.manifest_for(keep_snapshot_id)["data_dirs"])
        removed = 0
        data_root = os.path.join(self.path, "data")
        for d in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, d)
            if full not in keep:
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        return removed

    def truncate(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(self.path, "data"), exist_ok=True)
