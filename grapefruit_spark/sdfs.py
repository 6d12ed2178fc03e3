"""SDFS-parity catalog: the reference's file namespace as a Spark warehouse.

Reference (/root/reference/src/main/java/edu/cs425/mp3/SdfsServer.java):
``put/get/delete`` move whole files between local FS and a replicated
namespace; ``ls <file>`` lists replica locations; ``store`` lists files on
one node; ``global`` lists the whole namespace. Replication/failure
re-replication is the DFS's job — on Spark that responsibility belongs to
the storage layer (HDFS/S3), so here each logical file is a parquet
dataset directory and "replica locations" become the dataset's part-files.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

#: suffixes of the write-beside directories put/merge/compact (and the
#: streaming rollup sink) stage in
_STAGING = ("__putting", "__merging", "__compacting", "__delta", "__retired")


class Sdfs:
    """Flat name → parquet-dataset namespace rooted at ``warehouse``."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _path(self, name: str) -> str:
        """Directory of dataset ``name``. Empty names (the warehouse root
        itself) and staging-suffixed names (hidden by ``store`` and
        clobbered by ``_swap_in``) are rejected."""
        if not name or "/" in name or name.startswith(".") or name.endswith(_STAGING):
            raise ValueError(f"invalid sdfs name: {name!r}")
        return os.path.join(self.warehouse, name)

    def _swap_in(self, name: str, tmp: str) -> None:
        """Replace dataset ``name`` with the freshly written ``tmp`` by two
        renames, not rmtree-then-rename: the path is absent only for the
        instant between the renames, and a crash there leaves the old
        generation recoverable at ``<name>__retired``."""
        final = self._path(name)
        old = final + "__retired"
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old)

    # -- file ops (SdfsServer.java put/get/delete) ----------------------
    def put(self, df: DataFrame, name: str, mode: str = "overwrite",
            partition_by: list[str] | None = None) -> None:
        """Insert/update a dataset (reference: ``put local sdfsname``).

        An overwrite of an EXISTING dataset writes beside and swaps in
        (``_swap_in``), so (a) the path is absent only for the instant
        between two renames, not the whole rmtree+rewrite window of a
        naive overwrite (a truly gapless swap needs a symlink flip or
        versioned directories), and (b) a ``df`` derived from this same
        dataset can't be clobbered mid-plan by Spark's delete-then-write
        overwrite."""
        final = self._path(name)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if mode == "overwrite" and os.path.isdir(final):
            writer.parquet(final + "__putting")
            self._swap_in(name, final + "__putting")
        else:
            writer.parquet(final)

    def get(self, name: str) -> DataFrame:
        """Fetch a dataset (reference: ``get sdfsname local``)."""
        if not self.exists(name):
            raise FileNotFoundError(f"sdfs file not found: {name}")
        return self.spark.read.parquet(self._path(name))

    def delete(self, name: str) -> bool:
        """Delete a dataset (reference: ``delete sdfsname``)."""
        p = self._path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)
            return True
        return False

    def exists(self, name: str) -> bool:
        return os.path.isdir(self._path(name))

    # -- namespace ops (ls / store / global) ----------------------------
    def ls(self, name: str) -> list[str]:
        """Part-file locations of one dataset (reference ``ls`` shows
        replica VMs; here: the distributed part files)."""
        p = self._path(name)
        if not os.path.isdir(p):
            return []
        return sorted(
            os.path.join(p, f) for f in os.listdir(p)
            if f.endswith(".parquet") or f.startswith("part-")
        )

    def store(self) -> list[str]:
        """All dataset names in this warehouse (reference ``store``).
        Staging directories an interrupted put/merge/compact left behind
        are not datasets and stay hidden."""
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
            and not d.endswith(_STAGING)
        )

    def global_(self) -> dict[str, int]:
        """Namespace-wide view: name → part-file count (reference ``global``)."""
        return {name: len(self.ls(name)) for name in self.store()}

    # -- maintenance ----------------------------------------------------
    def compact(self, name: str, target_files: int) -> int:
        """Rewrite a dataset into ``target_files`` balanced part files.

        The small-files problem is the 100 TB killer for any
        file-namespace system (every scan pays per-file open + footer
        read; listings crawl): streaming sinks and incremental puts
        fragment datasets, compaction heals them. Round-robin
        repartition gives size-balanced output without a shuffle key.
        Returns the new part-file count. (The reference's analogue is
        re-replication healing in SdfsServer.java — same maintenance
        slot, storage-layer concern.)
        """
        df = self.get(name)
        tmp = self._path(name) + "__compacting"
        df.repartition(target_files).write.mode("overwrite").parquet(tmp)
        self._swap_in(name, tmp)
        return len(self.ls(name))

    def auto_compact(self, max_files: int = 16, target_files: int = 4) -> dict[str, int]:
        """Namespace-wide compaction policy: rewrite every dataset whose
        part-file count exceeds ``max_files`` down to ``target_files``.
        The periodic-maintenance loop a streaming landing zone needs —
        small files accumulate per microbatch and every later scan pays
        per-file open + footer read until someone compacts. Returns
        {name: new_file_count} for the datasets it rewrote."""
        out: dict[str, int] = {}
        for name, n_files in self.global_().items():
            if n_files > max_files:
                out[name] = self.compact(name, target_files)
        return out

    def merge(self, name: str, updates: DataFrame, key_cols: list[str]) -> None:
        """MERGE INTO (upsert) semantics on a stored dataset: rows in
        ``updates`` replace same-key stored rows, new keys insert — the
        CDC-apply step of an incremental ingest pipeline.

        Plan shape: one left-anti join of the stored table against the
        (usually much smaller, broadcastable) distinct update keys —
        survivors union updates. Written beside and atomically renamed:
        a Spark job can never overwrite a path it is reading, and
        readers never observe a half-merged table. At warehouse scale
        the same shape runs partition-wise (only partitions containing
        updated keys rewrite); here the dataset is one logical file, the
        reference's SDFS granularity (put replaces a whole file,
        SdfsServer.java put/delete).
        """
        if not self.exists(name):
            self.put(updates, name)
            return
        current = self.get(name)
        keys = updates.select(*key_cols).distinct()
        survivors = current.join(keys, key_cols, "left_anti")
        merged = survivors.unionByName(updates)
        tmp = self._path(name) + "__merging"
        merged.write.mode("overwrite").parquet(tmp)
        self._swap_in(name, tmp)
