"""Snapshot sink + anti-join resume (north rule; SURVEY.md §2.11, §4.2.3).

The reference tracks per-document lifecycle state by mutating a status enum
(PENDING→PROCESSING→PROCESSED|FAILED, ``ocr_backend/app/utils/enums.py:3-7``,
transitions ``ocr_routes.py:502-709``) inside SQLite transactions. In a
distributed engine, mutable per-row status is an anti-pattern; the rebuild
derives state from *committed snapshots*:

- every run appends data + lineage under ``snapshots/<run_id>/`` and then
  atomically publishes a ``_COMMITTED`` manifest (write-temp + rename — the
  local-FS stand-in for an Iceberg snapshot commit; the Iceberg jars are not
  in this image, so the table layout emulates the snapshot protocol);
- readers see only committed snapshots;
- resume = ``input LEFT ANTI JOIN committed urls`` (the reference's
  "reprocess/pending" semantics, ``document_routes.py:448-484``, J8);
- a failed run leaves an uncommitted directory that readers never see —
  re-running is idempotent.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

_MANIFEST = "_COMMITTED"


class SnapshotTable:
    """Parquet-backed table with snapshot-commit semantics."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.snap_root = os.path.join(path, "snapshots")

    # -- staged two-phase write (fused kernel→write; no payload caching) ---
    def _snap_dir(self, run_id: str) -> str:
        return os.path.join(self.snap_root, run_id)

    def is_committed(self, run_id: str) -> bool:
        return os.path.exists(os.path.join(self._snap_dir(run_id), _MANIFEST))

    def stage_data(self, data: DataFrame, run_id: str) -> None:
        """Phase 1: stream the data into the snapshot's (uncommitted) data
        directory — invisible to readers until ``commit``. Overwrites any
        leftovers of a crashed attempt with the same run_id."""
        data.write.mode("overwrite").parquet(os.path.join(self._snap_dir(run_id), "data"))

    def read_staged(self, spark: SparkSession, run_id: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._snap_dir(run_id), "data"))

    def discard_staged(self, run_id: str) -> None:
        import shutil

        shutil.rmtree(self._snap_dir(run_id), ignore_errors=True)

    def commit(self, lineage: DataFrame, run_id: str) -> dict:
        """Phase 2: write lineage, then atomically publish the manifest."""
        snap_dir = self._snap_dir(run_id)
        marker = os.path.join(snap_dir, _MANIFEST)
        if os.path.exists(marker):
            with open(marker) as f:
                return json.load(f)
        lineage.write.mode("overwrite").parquet(os.path.join(snap_dir, "lineage"))
        manifest = {
            "run_id": run_id,
            "committed_at_unix": int(time.time()),
            "data": "data",
            "lineage": "lineage",
        }
        tmp = os.path.join(snap_dir, f".{_MANIFEST}.tmp")
        os.makedirs(snap_dir, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, marker)  # the commit point
        return manifest

    # -- invalidate / reprocess (tombstones) ---------------------------------
    #
    # The reference reprocesses a document by DELETEing its OCR rows and
    # resetting status to PENDING inside one transaction
    # (``document_routes.py:448-484``), then re-running extraction. Immutable
    # snapshots can't delete in place; instead ``invalidate`` appends a
    # *tombstone*: a small parquet of keys plus the list of run_ids it
    # covers (every run committed before the tombstone — runs committed
    # AFTER it are new data and must stay visible). Readers anti-join
    # tombstoned (key, run) pairs out; ``pending_documents`` then sees the
    # keys as unprocessed and the next run rewrites them in a new snapshot.
    # This is Iceberg's delete-file/MERGE-on-read shape: no committed file
    # is ever rewritten, and a crashed invalidate is invisible (manifest is
    # the commit point).

    def _tomb_root(self) -> str:
        return os.path.join(self.path, "tombstones")

    def invalidate(self, keys: DataFrame, key: str = "url", tag: str | None = None) -> dict:
        """Mark ``keys`` for reprocessing: hide their rows in every snapshot
        committed so far. Idempotent on ``tag``. Returns the tombstone
        manifest."""
        tag = tag or f"ts-{int(time.time() * 1000)}"
        tomb_dir = os.path.join(self._tomb_root(), tag)
        marker = os.path.join(tomb_dir, _MANIFEST)
        if os.path.exists(marker):
            with open(marker) as f:
                return json.load(f)
        covered = self.committed_runs()
        keys.select(F.col(key).alias("key")).distinct().write.mode("overwrite").parquet(
            os.path.join(tomb_dir, "keys")
        )
        manifest = {"tag": tag, "key": key, "runs": covered}
        tmp = os.path.join(tomb_dir, f".{_MANIFEST}.tmp")
        os.makedirs(tomb_dir, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, marker)
        return manifest

    def _tombstones(self) -> list[dict]:
        root = self._tomb_root()
        if not os.path.isdir(root):
            return []
        out = []
        for d in sorted(os.listdir(root)):
            marker = os.path.join(root, d, _MANIFEST)
            if os.path.exists(marker):
                with open(marker) as f:
                    m = json.load(f)
                m["keys_dir"] = os.path.join(root, d, "keys")
                out.append(m)
        return out

    # -- read side -----------------------------------------------------------
    def committed_runs(self) -> list[str]:
        if not os.path.isdir(self.snap_root):
            return []
        return sorted(
            d
            for d in os.listdir(self.snap_root)
            if os.path.exists(os.path.join(self.snap_root, d, _MANIFEST))
        )

    def _read_union(self, spark: SparkSession, sub: str) -> DataFrame | None:
        dirs = [
            os.path.join(self.snap_root, r, sub)
            for r in self.committed_runs()
        ]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def read_data(self, spark: SparkSession) -> DataFrame | None:
        """Committed rows minus tombstoned (key, run) pairs.

        Fast path (no tombstones): one multi-dir parquet scan, unchanged.
        With tombstones: per-run scans, each anti-joined against the
        broadcast union of the tombstone keys covering that run — tombstone
        keys are reprocess requests, i.e. tiny next to the data."""
        tombs = self._tombstones()
        if not tombs:
            return self._read_union(spark, "data")
        runs = self.committed_runs()
        parts: list[DataFrame] = []
        for r in runs:
            d = os.path.join(self.snap_root, r, "data")
            if not os.path.isdir(d):
                continue
            df = spark.read.parquet(d)
            covering = [t for t in tombs if r in t["runs"]]
            # Tombstones may target different key columns (``invalidate``
            # takes ``key`` as a parameter): group by key column and apply
            # one anti-join per group, so no tombstone's keys are ever
            # matched against another tombstone's column.
            by_key: dict[str, list[str]] = {}
            for t in covering:
                by_key.setdefault(t["key"], []).append(t["keys_dir"])
            for key, dirs_k in sorted(by_key.items()):
                keys_df = spark.read.parquet(*dirs_k)
                df = df.join(
                    F.broadcast(keys_df.select(F.col("key").alias(key)).distinct()),
                    key,
                    "left_anti",
                )
            parts.append(df)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        return self._read_union(spark, "lineage")

    def processed_keys(self, spark: SparkSession, key: str = "url") -> DataFrame | None:
        data = self.read_data(spark)
        return None if data is None else data.select(key).distinct()


def pending_documents(docs: DataFrame, table: SnapshotTable, key: str = "url") -> DataFrame:
    """The resume primitive: input minus already-committed keys (left-anti,
    J8 — the same join shape as the reference's ensure-exists checks,
    ``tally_routes.py:217-464``)."""
    done = table.processed_keys(docs.sparkSession, key)
    if done is None:
        return docs
    return docs.join(done, key, "left_anti")


def ensure_exists_new_rows(
    incoming: DataFrame, existing: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Generic create-if-not-exists: rows of ``incoming`` whose key is absent
    from ``existing`` (reference J8/U4 pattern: stock-item/ledger/unit
    ensure-inserts, api-key backfill)."""
    return incoming.join(existing.select(*key_cols).distinct(), key_cols, "left_anti")
