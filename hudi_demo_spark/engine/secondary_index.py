"""Secondary index — the Hudi 1.0 ``CREATE INDEX ... USING
secondary_index(col)`` analog: point-lookup pruning on NON-key columns.

Why it exists: per-file column stats (``write.stats_cols`` /
clustering) prune range predicates, but on a high-cardinality column
that is uniformly spread across files every file's [min, max] spans the
whole value space and stats pruning degenerates to a full scan — the
same failure mode the record-level index solves for record keys
(``record_index.py``). The secondary index stores an explicit
value → partition mapping for one data column, hash-bucketed so a point
lookup reads only the buckets the probed values hash into. At 100 TB a
``WHERE city = 'x'`` scan touches a few index buckets plus the
partitions that actually contain the value, instead of the whole table.

Reference parity: the reference tunes Hudi's bloom index lookup for the
same read-cost problem (java-client/.../JavaClientHive2Hudi.java:167-180);
Hudi 1.0 generalizes that machinery to secondary keys — this module is
that surface re-expressed over the engine's layout.

Design (append-only, hint-with-completeness — same contract as RLI):
- Layout: ``<table>/_index/secondary/<col>/__bucket=N/*.parquet`` with
  columns (value string, partition). Bucket =
  ``pmod(crc32(value), num_buckets)`` — CRC32 deliberately, because the
  probe side runs in the Python data source's PLANNING worker (no
  SparkSession, no JVM): ``zlib.crc32`` reproduces Spark's ``crc32``
  bit-for-bit, so both sides agree on bucket placement and the lookup
  is a pure pyarrow read of only the probed buckets' files.
- Entries are APPEND-ONLY; completeness (no false negatives) is the
  correctness invariant. Stale pairs (value deleted/moved) are harmless
  false positives — the actual predicate still runs after pruning.
- A ``_complete`` marker gates trust; it is written by a full-snapshot
  build. Writes on a marked index append the batch's pairs; writes on
  an unmarked one rebuild from the snapshot.
- Rollback/restore truncate (next write rebuilds); ``compact`` folds
  the append log to distinct pairs.
- Values are indexed as strings (cast once at append); probe values are
  cast the same way, so numeric columns index correctly as long as the
  probe uses the same literal type.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_demo_spark.engine.config import PARTITION_PATH_META, TableConfig

BUCKET_COL = "__bucket"
MARKER = "_complete"
PROP = "index.secondary"  # comma-separated list of indexed columns


def index_path(cfg: TableConfig, col: str) -> Path:
    """Single source of truth for the on-disk layout — reused by the
    sessionless format('hudi') writers' invalidation."""
    return Path(cfg.path) / "_index" / "secondary" / col


def indexed_columns(cfg: TableConfig) -> list[str]:
    return [
        c.strip()
        for c in str(cfg.props.get(PROP, "")).split(",")
        if c.strip()
    ]


class SecondaryIndex:
    def __init__(self, spark: SparkSession, cfg: TableConfig, col: str):
        self.spark = spark
        self.col = col
        self.path = index_path(cfg, col)
        self.buckets = int(cfg.props.get("index.secondary.buckets", 64))

    # ---------------- state ----------------

    def usable(self) -> bool:
        return (self.path / MARKER).is_file()

    def truncate(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    def _mark_complete(self) -> None:
        self.path.mkdir(parents=True, exist_ok=True)
        (self.path / MARKER).touch()

    # ---------------- write side ----------------

    def _bucket(self, col) -> Column:
        return F.pmod(F.crc32(col.cast("binary")), F.lit(self.buckets))

    def _bucket_py(self, value: str) -> int:
        import zlib

        return zlib.crc32(value.encode("utf-8")) % self.buckets

    def append(self, df: DataFrame, small: bool = False) -> None:
        """Append the distinct (value, partition) pairs of a stamped
        batch. A `small` batch takes RecordIndex.append's shape: ONE
        shuffle, keyed by bucket, which already co-locates equal pairs,
        so the distinct runs in the write stage without a second
        exchange. That exchange carries every batch row, so a larger
        batch first drops duplicate pairs map-side, one shuffle more: a
        low-cardinality column's rows collapse to its (value, partition)
        pairs before the exchange (4 cores, 1M rows over 100 values:
        1.19 s with the map-side distinct, 1.74 s without)."""
        pairs = df.select(
            F.col(self.col).cast("string").alias("value"),
            F.col(PARTITION_PATH_META).alias("partition"),
        )
        if not small:
            pairs = pairs.distinct()
        (
            pairs.withColumn(BUCKET_COL, self._bucket(F.col("value")))
            .repartition(F.col(BUCKET_COL))
            .distinct()
            .write.mode("append")
            .partitionBy(BUCKET_COL)
            .parquet(str(self.path))
        )

    def build(self, snapshot: DataFrame) -> None:
        self.truncate()
        self.append(snapshot)
        self._mark_complete()

    def compact(self) -> None:
        """Fold the append log to distinct pairs (size bound): one
        bucket-keyed shuffle, one file per bucket."""
        if not self.usable() or not any(self.path.rglob("*.parquet")):
            return
        tmp = self.path.parent / f"{self.col}_compacting"
        shutil.rmtree(tmp, ignore_errors=True)
        (
            self.spark.read.parquet(str(self.path))
            .repartition(F.col(BUCKET_COL))
            .distinct()
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(str(tmp))
        )
        old = self.path.parent / f"{self.col}_old"
        shutil.rmtree(old, ignore_errors=True)
        self.path.rename(old)
        tmp.rename(self.path)
        shutil.rmtree(old, ignore_errors=True)
        self._mark_complete()

    # ---------------- read side ----------------

    def lookup_partitions_range(
        self, lo, hi, cast_type: str | None
    ) -> set[str]:
        """Partitions that may contain a value in [lo, hi] for the
        indexed column — the RANGE-probe side (Hudi 1.0 secondary
        indexes serve eq/IN; range reuses the same layout). Hash buckets
        cannot narrow a range, so this scans the INDEX — distinct
        value→partition pairs, orders of magnitude smaller than the
        table — distributively with Spark, casting the stored string
        values back to the column's type so ordering is the column's,
        not lexicographic. Requires a SparkSession (range probes run
        engine-side, not in the sessionless planning worker); open
        bounds pass None."""
        if not any(self.path.rglob("*.parquet")):
            return set()
        df = self.spark.read.parquet(str(self.path))
        v = F.col("value").cast(cast_type) if cast_type else F.col("value")
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (v >= F.lit(lo))
        if hi is not None:
            cond = cond & (v <= F.lit(hi))
        rows = df.filter(cond).select("partition").distinct().collect()
        return {r[0] for r in rows}

    def lookup_partitions(self, values: list) -> set[str]:
        """Partitions that may contain any of `values` for the indexed
        column. Pure pyarrow (no SparkSession needed — callable from
        the data source's planning worker): reads ONLY the buckets the
        probed values hash into, IN-filters on value. Returns a set
        bounded by the table's partition count."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        vals = [str(v) for v in values]
        files = [
            f
            for b in sorted({self._bucket_py(v) for v in vals})
            for f in (self.path / f"{BUCKET_COL}={b}").glob("*.parquet")
        ]
        val_arr = pa.array(vals, type=pa.string())
        parts: set[str] = set()
        for f in files:
            t = pq.read_table(f, columns=["value", "partition"])
            hit = t.filter(pc.is_in(t.column("value"), value_set=val_arr))
            parts.update(hit.column("partition").to_pylist())
        return parts
