"""Iceberg-style snapshot tables on plain parquet + JSON manifests.

The north rule targets "an Iceberg table of 10^12 Common-Crawl-style
web pages … resumable from the last committed checkpoint"; the
Iceberg runtime jar is not installable here (SURVEY.md §7 "offline
deps"), so this module provides the same table semantics with the
same commit discipline, swappable for real Iceberg later:

- ``meta/snap-<n>.json`` manifests list the exact data files of a
  snapshot (append never rewrites history — old snapshots stay
  readable: TIME TRAVEL);
- ``meta/CURRENT`` is an atomically-renamed pointer — readers always
  see a complete snapshot, never a partial write;
- commits are OPTIMISTIC: a writer stages its files, then publishes
  iff CURRENT still names its parent; a concurrent commit raises
  ``CommitConflict`` for the caller to retry (Iceberg's
  compare-and-swap loop);
- ``delete_where``/``upsert`` are FILE-GRANULAR copy-on-write: only
  data files that actually contain matching rows are rewritten
  (located via one metadata-cheap ``input_file_name()`` aggregation);
  untouched files are carried into the new snapshot by reference —
  at 100 TB a targeted delete rewrites megabytes, not the table.

Filesystem access reuses lineage's backend split: plain paths use the
fast local path, scheme URIs go through the Hadoop FileSystem JVM API.
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .lineage import _fs_for


class CommitConflict(RuntimeError):
    """CURRENT advanced underneath this writer (optimistic concurrency
    control): reload the table and retry the operation."""


def _meta(table_dir: str) -> str:
    return f"{table_dir}/meta"


def _data(table_dir: str) -> str:
    return f"{table_dir}/data"


class SnapshotTable:
    def __init__(self, spark: SparkSession, table_dir: str):
        self.spark = spark
        self.dir = table_dir
        self.fs = _fs_for(spark, table_dir)
        # (tuple(files), DataFrame) of the last read(); see read()
        self._read_slot: tuple | None = None

    # ------------------------------------------------------- reading

    def current_snapshot_id(self) -> int | None:
        ptr = f"{_meta(self.dir)}/CURRENT"
        if not self.fs.exists(ptr):
            return None
        return int(self.fs.read_text(ptr).strip())

    def manifest(self, snapshot_id: int | None = None) -> dict:
        sid = (self.current_snapshot_id() if snapshot_id is None
               else snapshot_id)
        if sid is None:
            raise FileNotFoundError(f"{self.dir}: no CURRENT snapshot")
        return json.loads(
            self.fs.read_text(f"{_meta(self.dir)}/snap-{sid}.json"))

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """DataFrame over a snapshot's exact file list (defaults to
        CURRENT) — time travel is just reading an older manifest.

        The frame of the last file list read is held and returned
        again while the list is unchanged, so a read costs one
        manifest lookup instead of a file listing and a schema
        inference job. Safe because data files are immutable and
        every commit publishes a new list (read-your-write holds);
        keyed on the list, not the snapshot id, because ids restart
        when a table directory is recreated. A new list that shares a
        file with the held one is the same table, which has one schema
        (the reader has no mergeSchema pass), so its frame takes the
        held schema instead of running the inference job again; a
        recreated table shares no file (batch dirs are uuids). The
        slot holds the lazy frame and its file index, never data (no
        persist, no cache), and is replaced by one tuple assignment,
        so concurrent readers under the threaded server see either
        slot whole."""
        files = tuple(self.manifest(snapshot_id)["files"])
        if not files:
            raise ValueError("empty snapshot")
        slot = self._read_slot
        if slot is not None and slot[0] == files:
            return slot[1]
        reader = self.spark.read
        if slot is not None and not set(slot[0]).isdisjoint(files):
            reader = reader.schema(slot[1].schema)
        df = reader.parquet(*files)
        self._read_slot = (files, df)
        return df

    def history(self) -> list[dict]:
        out = []
        sid = self.current_snapshot_id()
        while sid is not None:
            m = self.manifest(sid)
            out.append({"snapshot_id": sid, "operation": m["operation"],
                        "n_files": len(m["files"]),
                        "n_rows": m["n_rows"], "ts": m["ts"]})
            sid = m["parent"]
        return list(reversed(out))

    def read_changes(self, from_id: int,
                     to_id: int | None = None) -> DataFrame:
        """Incremental (CDC) read: the row-level changelog between two
        snapshots, at the table's file granularity — Iceberg's
        incremental-scan semantics. Rows from files ADDED between the
        snapshots carry _change_type='insert'; rows from files REMOVED
        carry 'delete'. A copy-on-write rewrite therefore appears as
        delete-of-old-file-rows + insert-of-survivors, whose NET
        effect equals the row-level delete — consumers that fold the
        changelog (inserts minus deletes, as multisets) reconstruct
        `read(to_id)` exactly from `read(from_id)`. One scan over
        only the CHANGED files: at 10^12 rows an incremental consumer
        never touches the unchanged ones."""
        if to_id is None:
            to_id = self.current_snapshot_id()
        f_old = set(self.manifest(from_id)["files"])
        f_new = set(self.manifest(to_id)["files"])
        added = sorted(f_new - f_old)
        removed = sorted(f_old - f_new)
        parts = []
        if added:
            parts.append(self.spark.read.parquet(*added)
                         .withColumn("_change_type", F.lit("insert")))
        if removed:
            parts.append(self.spark.read.parquet(*removed)
                         .withColumn("_change_type", F.lit("delete")))
        if not parts:
            return (self.read(to_id).limit(0)
                    .withColumn("_change_type", F.lit("insert")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -------------------------------------------------- maintenance

    def expire_snapshots(self, keep_last: int) -> dict:
        """Retention maintenance (Iceberg's expire_snapshots +
        orphan-file vacuum): keep the most recent ``keep_last``
        snapshots, delete older manifests, and physically delete
        every data file no retained snapshot references. Time travel
        beyond the horizon is gone by design; CURRENT and all
        retained snapshots stay byte-identical readable. Pure
        metadata work plus O(orphans) deletes — no data scan.

        Returns {"expired_snapshots": [...], "deleted_files": n}."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        chain = []
        sid = self.current_snapshot_id()
        while sid is not None:
            chain.append(sid)
            sid = self.manifest(sid)["parent"]
        keep, expire = chain[:keep_last], chain[keep_last:]
        if not expire:
            return {"expired_snapshots": [], "deleted_files": 0}
        live: set[str] = set()
        for s in keep:
            live.update(self.manifest(s)["files"])
        dead: set[str] = set()
        for s in expire:
            dead.update(f for f in self.manifest(s)["files"]
                        if f not in live)
        for f in sorted(dead):
            self.fs.delete(f)
        for s in expire:
            self.fs.delete(f"{_meta(self.dir)}/snap-{s}.json")
        # oldest retained snapshot becomes the chain root
        root = json.loads(self.fs.read_text(
            f"{_meta(self.dir)}/snap-{keep[-1]}.json"))
        root["parent"] = None
        self.fs.write_text_atomic(
            f"{_meta(self.dir)}/snap-{keep[-1]}.json",
            json.dumps(root))
        return {"expired_snapshots": expire,
                "deleted_files": len(dead)}

    # ------------------------------------------------------- writing

    def _stage_files(self, df: DataFrame) -> tuple[list[str], int]:
        """Write df's rows as new immutable data files; returns their
        paths + row count. Files are invisible until a manifest
        referencing them is published."""
        batch = uuid.uuid4().hex[:12]
        out = f"{_data(self.dir)}/batch-{batch}"
        df.write.mode("error").parquet(out)
        files = [p for p, _ in self.fs.list_parquet(out)]
        n = sum(self.fs.parquet_rows(p) for p in files)
        return files, n

    def _publish(self, parent: int | None, files: list[str],
                 operation: str, extra: dict | None = None) -> int:
        """Compare-and-swap commit: write snap-N, then move CURRENT —
        iff CURRENT still equals `parent`."""
        if self.current_snapshot_id() != parent:
            raise CommitConflict(
                f"{self.dir}: CURRENT moved past snapshot {parent}")
        sid = (parent or 0) + 1
        n_rows = sum(self.fs.parquet_rows(p) for p in files)
        self.fs.mkdirs(_meta(self.dir))
        self.fs.write_text_atomic(
            f"{_meta(self.dir)}/snap-{sid}.json",
            json.dumps({"snapshot_id": sid, "parent": parent,
                        "operation": operation, "files": sorted(files),
                        "n_rows": n_rows, "ts": time.time(),
                        **(extra or {})}))
        # the pointer flip is the commit point (atomic rename)
        if self.current_snapshot_id() != parent:
            raise CommitConflict(
                f"{self.dir}: CURRENT moved past snapshot {parent}")
        self.fs.write_text_atomic(f"{_meta(self.dir)}/CURRENT", str(sid))
        return sid

    def create(self, df: DataFrame, extra: dict | None = None) -> int:
        self.fs.mkdirs(_data(self.dir))
        files, _ = self._stage_files(df)
        return self._publish(None, files, "create", extra)

    def append(self, df: DataFrame, extra: dict | None = None) -> int:
        parent = self.current_snapshot_id()
        old = self.manifest(parent)["files"]
        files, _ = self._stage_files(df)
        return self._publish(parent, old + files, "append", extra)

    def delete_where(self, condition) -> int:
        """Copy-on-write delete: rewrite ONLY files containing rows
        matching `condition` (a Column or SQL string); all other
        files carry over by reference."""
        parent = self.current_snapshot_id()
        old = self.manifest(parent)["files"]
        cond = F.expr(condition) if isinstance(condition, str) else condition
        touched = {r["f"] for r in
                   (self.read(parent).where(cond)
                    .select(F.input_file_name().alias("f"))
                    .distinct().collect())}
        # input_file_name returns URIs (file:///…); manifests hold
        # fs-local paths — compare on the last two path components,
        # unique by construction (uuid batch dir + part file name)
        def tail2(p: str) -> str:
            return "/".join(p.rstrip("/").split("/")[-2:])

        touched_tails = {tail2(t) for t in touched}
        keep = [p for p in old if tail2(p) not in touched_tails]
        rewrite = [p for p in old if tail2(p) in touched_tails]
        new_files: list[str] = []
        if rewrite:
            # SQL / Iceberg DELETE removes only rows where the
            # condition is TRUE; rows where it evaluates NULL must
            # survive. `~cond` alone would drop NULL-evaluating rows
            # (and only in touched files — file-layout-dependent), so
            # keep NOT TRUE explicitly.
            survivors = (self.spark.read.parquet(*rewrite)
                         .where(F.coalesce(~cond, F.lit(True))))
            new_files, _ = self._stage_files(survivors)
        return self._publish(parent, keep + new_files, "delete")

    def upsert(self, df: DataFrame, key: str) -> int:
        """MERGE by key: delete existing rows whose `key` appears in
        df (file-granular COW), then append df — one new snapshot
        each; the pair is the classic two-commit merge."""
        keys = [r[0] for r in df.select(key).distinct().collect()]
        self.delete_where(F.col(key).isin(keys))
        return self.append(df)

    # ---------------------------------------------- streaming sink

    def append_batch_exactly_once(self, df: DataFrame,
                                  batch_id: int) -> int | None:
        """foreachBatch sink body with EXACTLY-ONCE table commits:
        the manifest records the streaming batch id, so a replayed
        micro-batch (after a crash between the table commit and the
        checkpoint advance) is recognized and skipped. Returns the new
        snapshot id, or None if this batch was already committed."""
        cur = self.current_snapshot_id()
        if cur is not None:
            sid = cur
            while sid is not None:
                m = self.manifest(sid)
                if m.get("batch_id") == batch_id:
                    return None  # replay of an already-committed batch
                sid = m["parent"]
        extra = {"batch_id": batch_id}
        # the batch id rides IN the manifest, written before the
        # pointer flip — no crash window between commit and stamp
        if cur is None:
            return self.create(df, extra)
        return self.append(df, extra)


def stream_to_table(prepared: DataFrame, table_dir: str,
                    checkpoint_dir: str, once: bool = True):
    """writeStream → SnapshotTable with exactly-once batch commits.
    Each micro-batch becomes one table snapshot; readers time-travel
    over the ingest history."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        SnapshotTable(batch_df.sparkSession, table_dir) \
            .append_batch_exactly_once(batch_df, batch_id)

    w = (prepared.writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir))
    if once:
        w = w.trigger(availableNow=True)
    return w.start()
