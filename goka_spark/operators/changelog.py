"""Changelog topics — goka's compacted table topic, on a data lake.

goka persists every SetValue to ``<group>-table``, a Kafka topic with
``cleanup.policy=compact`` (graph.go:44-46); recovery replays it and
keeps the last record per key; tombstones (nil values) delete keys
(partition_table.go).  The lake-native equivalent:

- ``append_delta``   — write a batch of (key, state, tombstone) rows
  stamped with a monotonically increasing epoch (the "offset"),
- ``read_compacted`` — reconstruct the current table: latest epoch per
  key wins, tombstoned keys drop (log compaction as a query:
  one hash-aggregate ``max_by(struct(state), epoch)``),
- ``merge``          — MERGE INTO semantics in one shot: upsert +
  delete against the current table, written as a new snapshot epoch
  (copy-on-write, what Delta/Iceberg MERGE compiles to),
- ``compact``        — rewrite the log as its compacted form (what
  Kafka's log cleaner does in the background).

Storage discipline (object-store-safe):
- All listing/cleanup goes through the Hadoop FileSystem API — the
  same code path works on file://, hdfs://, s3a://; never os.listdir.
- Epoch numbers are claimed with an atomic empty-file create
  (``.epoch_N.claim``); a concurrent writer losing the race advances
  to the next number.  (Atomic on HDFS/local; on S3 it is advisory —
  production multi-writer tables belong in Delta/Iceberg, whose
  commit log is the hardened version of exactly this protocol.)
- Rewrites (merge/compact) RETAIN tombstone rows in the new epoch, so
  a crash between "write new epoch" and "delete old epochs" can never
  resurrect a deleted key (Kafka log cleaner's delete-retention
  behavior).  ``purge_tombstones`` drops them once old epochs are
  confirmed gone.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ChangelogTable:
    def __init__(self, spark: SparkSession, path: str, key_col: str = "key"):
        self.spark = spark
        self.path = path
        self.key_col = key_col

    # ---------------------------------------------------------------- FS
    def _fs(self):
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        return root.getFileSystem(hconf), jvm, root

    def _epochs(self) -> list[int]:
        fs, _, root = self._fs()
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("_epoch="):
                out.append(int(name.split("=")[1]))
        return sorted(out)

    def _claim_epoch(self) -> int:
        """Allocate the next epoch number with an atomic create —
        concurrent writers each get a distinct epoch."""
        fs, jvm, root = self._fs()
        fs.mkdirs(root)
        epoch = (self._epochs() or [-1])[-1] + 1
        while True:
            claim = jvm.org.apache.hadoop.fs.Path(
                self.path, f".epoch_{epoch}.claim")
            try:
                if fs.createNewFile(claim):
                    return epoch
            except Exception:
                pass
            epoch += 1

    def _delete_epochs(self, keep: int) -> None:
        fs, jvm, _ = self._fs()
        for e in self._epochs():
            if e != keep:
                fs.delete(jvm.org.apache.hadoop.fs.Path(
                    self.path, f"_epoch={e}"), True)

    # ------------------------------------------------------------- write
    def append_delta(self, delta: DataFrame, tombstone: Optional[str] = None) -> int:
        """Append one batch of upserts (goka: produced SetValue records).
        ``tombstone`` names a boolean column marking deletes."""
        epoch = self._claim_epoch()
        out = delta.withColumn(
            "_tombstone",
            F.col(tombstone) if tombstone else F.lit(False))
        out.write.mode("overwrite").parquet(f"{self.path}/_epoch={epoch}")
        return epoch

    def merge(self, updates: DataFrame, tombstone: Optional[str] = None) -> int:
        """MERGE INTO current USING updates ON key:
        matched+tombstone → DELETE, matched → UPDATE (last write wins),
        unmatched → INSERT.  Copy-on-write: the result is one snapshot
        epoch; older epochs are removed after the snapshot is durable.
        Tombstone rows stay in the snapshot (see module docstring)."""
        upd = updates.withColumn(
            "_tombstone",
            F.col(tombstone) if tombstone else F.lit(False))
        if tombstone:
            upd = upd.drop(tombstone)
        if self._epochs():
            # updates outrank every existing record; among existing,
            # highest epoch already won inside _compacted_with_tombstones
            merged_log = (
                self._compacted_with_tombstones().withColumn("_rank", F.lit(0))
                .unionByName(upd.withColumn("_rank", F.lit(1)))
            )
        else:
            merged_log = upd.withColumn("_rank", F.lit(1))
        state_cols = [c for c in merged_log.columns
                      if c not in (self.key_col, "_tombstone", "_rank")]
        picked = F.max_by(
            F.struct(F.col("_tombstone"), *[F.col(c) for c in state_cols]),
            F.col("_rank"))
        snapshot = (
            merged_log.groupBy(self.key_col).agg(picked.alias("_s"))
            .select(self.key_col, F.col("_s._tombstone").alias("_tombstone"),
                    *[F.col(f"_s.{c}").alias(c) for c in state_cols])
        )
        epoch = self._claim_epoch()
        snapshot.write.mode("overwrite").parquet(f"{self.path}/_epoch={epoch}")
        self._delete_epochs(keep=epoch)
        return epoch

    # -------------------------------------------------------------- read
    def _log(self) -> DataFrame:
        return self.spark.read.option("basePath", self.path).parquet(
            f"{self.path}/_epoch=*")

    def _compacted_with_tombstones(self, as_of: Optional[int] = None) -> DataFrame:
        """Last write per key INCLUDING tombstone markers.  ``as_of``
        replays only epochs ≤ the given number."""
        log = self._log()
        if as_of is not None:
            log = log.filter(F.col("_epoch") <= as_of)
        state_cols = [c for c in log.columns
                      if c not in (self.key_col, "_tombstone", "_epoch")]
        picked = F.max_by(
            F.struct(F.col("_tombstone"), *[F.col(c) for c in state_cols]),
            F.col("_epoch"),
        )
        latest = log.groupBy(self.key_col).agg(picked.alias("_s"))
        return latest.select(
            self.key_col, F.col("_s._tombstone").alias("_tombstone"),
            *[F.col(f"_s.{c}").alias(c) for c in state_cols])

    def read_compacted(self, as_of: Optional[int] = None) -> DataFrame:
        """Current table state: last write per key wins; tombstones drop
        the key.  One hash aggregate — no sort, no window.

        ``as_of`` is TIME TRAVEL to a past epoch — goka's recovery
        "replay the changelog up to offset N" (partition_table.go) as
        a query.  The horizon is bounded by retention: merge/compact
        rewrite history into one snapshot epoch, so only epochs still
        on disk are reachable (exactly Kafka-compaction/Delta-vacuum
        semantics)."""
        out = self._compacted_with_tombstones(as_of)
        return out.filter(~F.col("_tombstone")).drop("_tombstone")

    # --------------------------------------------------------- maintain
    def compact(self) -> None:
        """Rewrite the log as one compacted epoch (Kafka log cleaner).
        Tombstone rows are retained in the rewrite — crash-safe against
        resurrection; call ``purge_tombstones`` to drop them later."""
        table = self._compacted_with_tombstones().cache()
        table.count()  # materialize before deleting source epochs
        epoch = self._claim_epoch()
        table.write.mode("overwrite").parquet(f"{self.path}/_epoch={epoch}")
        self._delete_epochs(keep=epoch)
        table.unpersist()

    def purge_tombstones(self) -> None:
        """Drop retained tombstone rows (delete-retention expiry)."""
        table = self._compacted_with_tombstones() \
            .filter(~F.col("_tombstone")).cache()
        table.count()
        epoch = self._claim_epoch()
        table.write.mode("overwrite").parquet(f"{self.path}/_epoch={epoch}")
        self._delete_epochs(keep=epoch)
        table.unpersist()
