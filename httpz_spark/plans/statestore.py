"""Versioned, atomically-committed state tables — merge-on-read deltas.

The production design checkpoints frontier/seen/results/lineage to Iceberg
(snapshot-per-wave, MERGE on url_hash — SURVEY.md §1.5/§3.4).  This sandbox
has no Iceberg runtime jars, so this module provides the same contract on
plain parquet, including Iceberg's *merge-on-read* write-amplification
story:

* every ``merge_upsert``/``append`` lands ONLY the new rows as a fresh
  **delta** parquet directory — per-wave write cost is O(wave), never
  O(total corpus) (the round-1 design rewrote the whole table per wave, an
  O(waves × corpus) scale-killer at 10^10 frontiers);
* a **manifest** file per version lists the delta dirs that make up the
  snapshot (Iceberg's manifest-list analogue); the tiny ``_latest`` pointer
  is swapped with ``os.replace`` (atomic on POSIX) only after data +
  manifest are durable — a kill at ANY point leaves the previous version
  readable, exactly Iceberg's snapshot semantics;
* reads resolve key duplicates **newest-delta-wins** (each row carries the
  ``_seq`` it was committed under; ``max_by(row, (_seq, row))`` is
  deterministic even across a killed-and-rerun wave, whose re-appended rows
  are byte-identical by fabric determinism);
* once a table accumulates ``compact_every`` deltas, the next merge
  **compacts**: resolves and rewrites one base delta, so read fan-in stays
  bounded and write amplification is amortized O(total / compact_every);
* superseded delta dirs and manifests are garbage-collected after the
  pointer swap, keeping the PREVIOUS version intact for crash safety and
  for lazy DataFrames still referencing it;
* the manifest records the snapshot's **schema**, as Iceberg's snapshot
  metadata does: a full write or a compaction records the written frame's
  schema, a merge/append the previous snapshot's with the new delta's new
  columns appended (a ``merge_delete`` adds ``_tomb``).  ``read`` hands it
  to the parquet reader, so resolving a snapshot opens no data file and
  launches no Spark job; a delta that lacks a column reads it as NULL.
  Only a manifest an older build wrote (no ``schema``) falls back to
  merging the deltas' parquet footers (``mergeSchema``, one job per read);
  its next commit records the schema.

Swap-in note: every call site goes through this class, so pointing the
engine at Iceberg replaces ``merge_upsert`` with ``MERGE INTO`` (or a
MoR-position-delete write) and ``read`` with a snapshot read — no plan
changes.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class StateStore:
    def __init__(self, spark: SparkSession, root: str, compact_every: int = 8):
        self.spark = spark
        self.root = root
        self.compact_every = compact_every
        os.makedirs(root, exist_ok=True)

    # -- pointer management -------------------------------------------------
    def _ptr_path(self, name: str) -> str:
        return os.path.join(self.root, name, "_latest")

    def latest_version(self, name: str) -> int | None:
        try:
            with open(self._ptr_path(name)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _set_latest(self, name: str, version: int) -> None:
        ptr = self._ptr_path(name)
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, ptr)  # atomic pointer swap = snapshot commit

    # -- manifests / deltas ---------------------------------------------------
    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self.root, name, f"v={version}.json")

    def _delta_dir(self, name: str, version: int, tag: str) -> str:
        return os.path.join(self.root, name, f"delta-{version:06d}-{tag}")

    def _read_manifest(self, name: str, version: int) -> dict:
        with open(self._manifest_path(name, version)) as f:
            return json.load(f)

    def _write_manifest(self, name: str, version: int, manifest: dict) -> None:
        path = self._manifest_path(name, version)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)

    def _commit(self, name: str, version: int, manifest: dict) -> None:
        """manifest + pointer swap, then GC of everything older than the
        PREVIOUS version (kept for crash safety / lazy readers)."""
        self._write_manifest(name, version, manifest)
        self._set_latest(name, version)
        self._gc(name, keep_from=version - 1)

    def _gc(self, name: str, keep_from: int) -> None:
        tdir = os.path.join(self.root, name)
        live: set = set()
        for v in (keep_from, keep_from + 1):
            try:
                live.update(self._read_manifest(name, v)["deltas"])
            except FileNotFoundError:
                pass
        for entry in os.listdir(tdir):
            p = os.path.join(tdir, entry)
            if entry.startswith("delta-") and entry not in live:
                shutil.rmtree(p, ignore_errors=True)
            elif entry.startswith("v=") and entry.endswith(".json"):
                try:
                    v = int(entry[2:-5])
                except ValueError:
                    continue
                if v < keep_from:
                    try:
                        os.remove(p)
                    except OSError:
                        pass

    # -- table ops -----------------------------------------------------------
    def exists(self, name: str) -> bool:
        return self.latest_version(name) is not None

    def read(self, name: str) -> DataFrame | None:
        """Current snapshot: union of live deltas, newest-key-wins when the
        table has a merge key (merge-on-read resolution).  The deltas are
        read by the schema the manifest records — no Spark job; a manifest
        without one (older build) merges the deltas' footers instead."""
        v = self.latest_version(name)
        if v is None:
            return None
        manifest = self._read_manifest(name, v)
        df = self._scan(name, manifest)
        key = manifest.get("key")
        if key and len(manifest["deltas"]) > 1:
            # newest delta wins; _seq alone is a total order because a key
            # appears at most once per delta (waves are in-wave deduped) and
            # every delta carries a distinct _seq — map/array columns keep
            # the ordering struct scalar-only (maps are not orderable)
            others = [c for c in df.columns if c not in (key, "_seq")]
            df = (
                df.groupBy(key)
                .agg(F.max_by(F.struct(*others), F.col("_seq")).alias("_r"))
                .select(key, *[F.col(f"_r.{c}").alias(c) for c in others])
            )
        return self._drop_tombstones(df).drop("_seq")

    def _scan(self, name: str, manifest: dict) -> DataFrame:
        """The union of the manifest's deltas, ``_seq`` included.  Deltas
        written under different configs (e.g. a resume with include_payload
        toggled) union their columns: the recorded schema holds every
        column in ``mergeSchema``'s order, and a manifest an older build
        wrote without one is read with ``mergeSchema`` itself."""
        paths = [os.path.join(self.root, name, d) for d in manifest["deltas"]]
        schema = manifest.get("schema")
        if schema is None:
            return self.spark.read.option("mergeSchema", "true").parquet(*paths)
        return self.spark.read.schema(StructType.fromJson(schema)).parquet(*paths)

    @staticmethod
    def _drop_tombstones(df: DataFrame) -> DataFrame:
        """merge_delete writes ``_tomb=true`` rows; after newest-wins
        resolution a key whose latest delta is a tombstone is dropped here
        (merge-on-read delete, the Iceberg MERGE-DELETE analogue).  Deltas
        written before any delete have no ``_tomb`` column — the read
        surfaces it as NULL, coalesced to live."""
        if "_tomb" in df.columns:
            df = df.filter(~F.coalesce(F.col("_tomb"), F.lit(False))).drop("_tomb")
        return df

    def _write_delta(self, name: str, df: DataFrame, version: int,
                     tag: str) -> tuple[str, dict]:
        """Land ``df`` (plus ``_seq``) as one delta dir; returns its name and
        schema (a parquet read reports every column nullable either way)."""
        d = self._delta_dir(name, version, tag)
        os.makedirs(os.path.join(self.root, name), exist_ok=True)
        df = df.withColumn("_seq", F.lit(version).cast("int"))
        df.write.mode("overwrite").parquet(d)
        return os.path.basename(d), df.schema.jsonValue()

    def write(self, name: str, df: DataFrame, summary=()) -> int:
        """Full snapshot write (single-delta manifest + pointer swap).
        ``summary`` (Observations on ``df``, filled by this write, and/or
        mappings) commits with the manifest — Iceberg's snapshot summary."""
        v = (self.latest_version(name) or 0) + 1
        delta, schema = self._write_delta(name, df, v, "base")
        merged: dict = {}
        for s in summary:
            merged.update(s.get if isinstance(s, Observation) else s)
        self._commit(name, v, {"deltas": [delta], "key": None, "schema": schema,
                               "summary": merged})
        return v

    def summary(self, name: str) -> dict:
        """The summary committed with the table's current snapshot ({} for
        a missing table or one written without a summary)."""
        v = self.latest_version(name)
        return {} if v is None else self._read_manifest(name, v).get("summary", {})

    def merge_upsert(self, name: str, df: DataFrame, key: str) -> int:
        """MERGE keyed on ``key``: new rows shadow same-key rows of the
        current snapshot (resolved at read time — merge-on-read).  Writes
        ONLY ``df`` as a delta; compacts when the delta chain exceeds
        ``compact_every``.  Idempotent: re-running the same wave re-appends
        byte-identical rows, which resolve to the same snapshot."""
        return self._add_delta(name, df, key, "merge")

    def _resolved_with(self, name: str, df: DataFrame, key: str) -> DataFrame:
        cur = self.read(name)
        if cur is None:
            return df
        df = df.withColumn("_s2", F.lit(1)).unionByName(
            cur.withColumn("_s2", F.lit(0)), allowMissingColumns=True
        )
        others = [c for c in df.columns if c not in (key, "_s2")]
        return self._drop_tombstones(
            df.groupBy(key)
            .agg(F.max_by(F.struct(*others), F.col("_s2")).alias("_r"))
            .select(key, *[F.col(f"_r.{c}").alias(c) for c in others])
        )

    def merge_delete(self, name: str, keys: DataFrame, key: str) -> int:
        """MERGE ... WHEN MATCHED THEN DELETE analogue: writes ONLY the
        (distinct) keys as a tombstone delta — merge-on-read, so a 10^10-row
        seen table is never rewritten to drop 10^5 stale URLs; newest-wins
        resolution hides tombstoned keys at read time and the next
        compaction folds them away.  Re-upserting a key after deletion
        resurrects it (its delta is newer than the tombstone's)."""
        tomb = keys.select(key).distinct().withColumn("_tomb", F.lit(True))
        return self.merge_upsert(name, tomb, key)

    def append(self, name: str, df: DataFrame) -> int:
        """Pure append (no merge key — lineage-style tables)."""
        return self._add_delta(name, df, None, "append")

    def _add_delta(self, name: str, df: DataFrame, key: str | None, tag: str) -> int:
        """Commit ``df`` as one more delta of the current snapshot, or —
        once the chain would exceed ``compact_every`` — the resolved table
        as one compacted delta.  The new manifest's schema is the previous
        one with the delta's new columns appended (``mergeSchema``'s
        column order over the path-sorted deltas)."""
        cur = self.latest_version(name)
        v = (cur or 0) + 1
        prev = None if cur is None else self._read_manifest(name, cur)
        if prev is not None and len(prev["deltas"]) + 1 > self.compact_every:
            merged = (self._resolved_with(name, df, key) if key else
                      self.read(name).unionByName(df, allowMissingColumns=True))
            delta, schema = self._write_delta(name, merged, v, "compact")
            self._commit(name, v, {"deltas": [delta], "key": key, "schema": schema})
            return v
        delta, schema = self._write_delta(name, df, v, tag)
        deltas = [delta]
        if prev is not None:
            deltas = prev["deltas"] + deltas
            # a manifest an older build wrote has no schema: merge its
            # deltas' footers once, here, so every later read is job-free
            old = prev.get("schema") or self._scan(name, prev).schema.jsonValue()
            have = {f["name"] for f in old["fields"]}
            schema = {**old, "fields": old["fields"] + [
                f for f in schema["fields"] if f["name"] not in have]}
        self._commit(name, v, {"deltas": deltas, "key": key, "schema": schema})
        return v

    def drop(self, name: str) -> None:
        """Remove a table entirely (used to GC per-wave staging tables once
        their wave's lineage row is committed)."""
        shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
