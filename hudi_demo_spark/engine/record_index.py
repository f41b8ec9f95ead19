"""Record-level index — the Hudi 0.14 record index (RLI) analog.

Why it exists: for GLOBAL-index tables (`index.global`, see
`Engine._is_global`) the upsert lookup must find the partition currently
holding each incoming key. Footer key-range pruning (the interval step
of `Engine._key_probe`) works when keys correlate with files,
but with uniformly distributed keys (uuids, hashes) every file's
[key_min, key_max] spans the whole key space and the "pruned" set
degenerates to the full table. The record index stores an explicit
key → partition mapping, hash-bucketed so a lookup reads only the
buckets the batch's keys hash into — at 100 TB a point upsert touches a
few index buckets plus the one data partition that actually holds the
key, instead of every file in the table.

Reference parity: the reference tunes Hudi's bloom index for exactly
this lookup cost (java-client/.../JavaClientHive2Hudi.java:167-180);
the record index is the stronger successor to that mechanism.

Design (append-only, hint-with-completeness):
- Layout: ``<table>/_index/keys/__bucket=N/*.parquet`` with columns
  (key, partition). Bucket = ``pmod(xxhash64(key), num_buckets)`` —
  deterministic, so both writes and lookups prune buckets.
- Entries are APPEND-ONLY. Correctness needs completeness (no false
  negatives): every committed (key, partition) pair must be present.
  Stale pairs (key deleted, or moved by a later global upsert) are
  harmless false positives — they only widen pruning.
- A ``_complete`` marker gates trust: lookups refuse an index without
  it. The marker is written when the index is built from a snapshot
  (empty table at create time, or an explicit rebuild); enabling the
  prop on an already-written table without rebuilding cannot cause a
  missed duplicate.
- Rollback/restore truncate the index (a rolled-back commit's entries
  are unwanted only as false positives, but restore can also LOSE
  entries' source commits wholesale — truncation is the safe reset);
  the next write rebuilds from the live snapshot.
- ``compact()`` folds the append log to distinct pairs, bounding index
  size at #live-keys (+ stale pairs until a rebuild).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_demo_spark.engine.config import (
    PARTITION_PATH_META,
    RECORD_KEY_META,
    TableConfig,
)

BUCKET_COL = "__bucket"
MARKER = "_complete"


def index_path(cfg) -> "Path":
    """Single source of truth for the on-disk layout — reused by the
    sessionless format('hudi') writers' invalidation."""
    return Path(cfg.path) / "_index" / "keys"


def enabled(cfg) -> bool:
    """Whether the table declares the record-level index."""
    return str(cfg.props.get("index.record_level", "")).lower() in (
        "1", "true", "yes",
    )


class RecordIndex:
    def __init__(self, spark: SparkSession, cfg: TableConfig):
        self.spark = spark
        self.path = index_path(cfg)
        self.buckets = int(cfg.props.get("index.record_level.buckets", 64))

    # ---------------- state ----------------

    def usable(self) -> bool:
        """True when lookups may trust the index (completeness marker)."""
        return (self.path / MARKER).is_file()

    def truncate(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    def _mark_complete(self) -> None:
        self.path.mkdir(parents=True, exist_ok=True)
        (self.path / MARKER).touch()

    # ---------------- write side ----------------

    def _bucket(self, col) -> Column:
        return F.pmod(F.xxhash64(col), F.lit(self.buckets))

    def append(self, df: DataFrame) -> None:
        """Append the distinct (key, partition) pairs of a stamped batch.
        ONE shuffle keyed by bucket (AQE coalesces tiny batches): it
        already co-locates equal pairs, so the distinct needs no second
        exchange, and each touched bucket gains one file per commit;
        `compact` bounds the accumulation."""
        (
            df.select(
                F.col(RECORD_KEY_META).alias("key"),
                F.col(PARTITION_PATH_META).alias("partition"),
            )
            .withColumn(BUCKET_COL, self._bucket(F.col("key")))
            .repartition(F.col(BUCKET_COL))
            .distinct()
            .write.mode("append")
            .partitionBy(BUCKET_COL)
            .parquet(str(self.path))
        )

    def build(self, snapshot: DataFrame) -> None:
        """(Re)build from a full table snapshot and mark complete."""
        self.truncate()
        self.append(snapshot)
        self._mark_complete()

    def compact(self) -> None:
        """Fold the append log to distinct pairs (size bound): one
        bucket-keyed shuffle, one file per bucket."""
        if not self.usable() or not any(self.path.rglob("*.parquet")):
            return
        tmp = self.path.parent / "keys_compacting"
        shutil.rmtree(tmp, ignore_errors=True)
        (
            self.spark.read.parquet(str(self.path))
            .repartition(F.col(BUCKET_COL))
            .distinct()
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(str(tmp))
        )
        old = self.path.parent / "keys_old"
        shutil.rmtree(old, ignore_errors=True)
        self.path.rename(old)
        tmp.rename(self.path)
        shutil.rmtree(old, ignore_errors=True)
        self._mark_complete()

    # ---------------- read side ----------------

    def lookup_partitions(self, keys: DataFrame) -> set[str]:
        """Partitions that may hold any of the batch's keys. Reads ONLY
        the index buckets the keys hash into (partition-pruned scan of
        the index dataset), then a semi-join against the batch keys.
        Returns a driver-side set — bounded by the table's partition
        count (a distinct-partition-paths collect)."""
        if not any(self.path.rglob("*.parquet")):
            return set()  # complete-but-empty index (empty table)
        kdf = keys.select(F.col(RECORD_KEY_META).alias("key")).distinct()
        bs = [r[0] for r in kdf.select(self._bucket(F.col("key"))).distinct().collect()]
        idx = self.spark.read.parquet(str(self.path)).filter(
            F.col(BUCKET_COL).isin(bs)
        )
        hit = idx.join(kdf, "key", "left_semi")  # AQE broadcasts small batches
        return {r[0] for r in hit.select("partition").distinct().collect()}
