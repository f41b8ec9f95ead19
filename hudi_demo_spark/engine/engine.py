"""The lakehouse engine: keyed/partitioned/versioned parquet tables.

Spark-first re-expression of the Hudi semantics the reference exercises
(SURVEY.md §2): every operator below is a stock DataFrame plan handed to
Catalyst — no RDDs, no custom rules, no row loops. File/commit bookkeeping
is driver-side metadata (JSON timeline), mirroring Hudi's timeline-server
design: reads never list directories, they read the file set named by the
timeline, so partition pruning happens at metadata level before any scan.

Write-path scale notes (100 TB design intent):
- upsert/delete/update/merge rewrite ONLY partitions present in the
  incoming batch (partition-scoped COW, like Hudi's upsert index scoping —
  java-client/.../JavaClientHive2Hudi.java:167-180). The list of affected
  partitions is a tiny driver-side collect of distinct partition paths.
- intra-batch dedup + base-vs-batch merge are single-shuffle window
  functions over (partition_path, record_key) — map-side combinable and
  AQE-skew-handled.
- MOR writes append delta files (no read of base) and defer the merge to
  read/compaction, the right trade at high write rates.
- file sizing: `write.parallelism` / `bucket.num` props repartition before
  write; AQE coalesces small shuffle partitions otherwise (M5/M6/T6).
"""

from __future__ import annotations

import json
import re
import shutil
import urllib.parse
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hudi_demo_spark.engine import timeline as tlmod
from hudi_demo_spark.engine.config import (
    COMMIT_TIME_META,
    COW,
    DATA_DIR,
    DELETED_META,
    META_COLS,
    MOR,
    PARTITION_PATH_META,
    PAYLOAD_DEFAULT,
    PAYLOAD_PARTIAL,
    RECORD_KEY_META,
    TableConfig,
)
from hudi_demo_spark.engine.keys import partition_path_col, record_key_col
from hudi_demo_spark.engine.timeline import Timeline, new_instant
from hudi_demo_spark.operators.util import rows_df as _rows_df

# (files, bytes): the most a pruned file set may hold for `_read_small`
# to read it on the driver. Measured on 4 cores (median of 3), a 3-term
# postings read of N copies of one file with pyarrow vs the BM25
# search's 4-job Spark plan over them: 60 KB files 23 ms vs 1.1 s at
# 64, 79 ms vs 2.2 s at 256, 165 ms vs 3.2 s at 512; 1 MB files 254 ms
# vs 2.5 s at 256; 7.5 MB files 105 ms vs 0.67 s at 16 (120 MB). What
# bounds the driver's cost is the rows the filter keeps, and the bytes
# bound those: scoring postings that all match took 0.23 s per 100k and
# 0.65 s per 1M, so 32 MB (~1.5M postings at ~20 B each) is where that
# worst case meets the Spark plan's ~0.5-1 s floor. 256 files keeps
# every read of an inline-clustered index (16-48 files) on the driver.
_SMALL_READ_CUT = (256, 32 << 20)


def _as_cond(cond: str | Column) -> Column:
    return F.expr(cond) if isinstance(cond, str) else cond


def _check_key_assigns(cfg: TableConfig, assigns: dict, same=()) -> None:
    """Refuse an assignment to a record-key field, as Hudi does: the
    stored `_hoodie_record_key` is not recomputed on update, and the
    record-key probes of `_where_probes` rely on it rendering the key
    columns. `same` names the aliases whose own column (`s.id` for key
    `id`) is an identity assignment and passes."""
    fields = {f.lower() for f in cfg.record_key_fields or []}
    for k, v in assigns.items():
        ident = isinstance(v, str) and v.replace("`", "").strip().lower() in {
            f"{a}.{k}".lower() for a in same
        }
        if k.lower() in fields and not ident:
            raise ValueError(f"cannot update record key column {k}")


def _file_instant(name: str) -> str:
    """Owning instant of a data file from its name
    (``b_<instant>_<idx>.parquet`` / ``d_...``); "" if not engine-named."""
    parts = name.split("_")
    return parts[1] if len(parts) >= 3 and parts[0] in ("b", "d") else ""


def _values(vals) -> list:
    """A point probe's values as a list; a bare scalar is one value."""
    return list(vals) if isinstance(vals, (list, tuple, set)) else [vals]


def _in_partitions(files: dict[str, dict], parts: set) -> dict[str, dict]:
    return {p: m for p, m in files.items() if m.get("partition", "") in parts}


def _footer_minmax(md, cols: list[str]) -> dict[str, list]:
    """{col: [min, max]} from one parquet footer's row-group stats. A
    column whose stats are missing, or whose min/max is not a JSON-safe
    scalar, is simply absent — callers treat that as un-prunable."""
    name_to_idx = {
        md.schema.column(i).name: i for i in range(md.num_columns)
    }
    out: dict[str, list] = {}
    for c in cols:
        idx = name_to_idx.get(c)
        if idx is None:
            continue
        try:
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mins, maxs = [], []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if not mins:
                continue
            lo, hi = min(mins), max(maxs)
            if isinstance(lo, bytes):
                lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
            if not isinstance(lo, (int, float, str)):
                continue
            out[c] = [lo, hi]
        except Exception:
            continue
    return out


def _scan_written(
    path: str, cols: list[str], sidecar: str | None, fpp: float, cap: int
) -> dict:
    """The metadata tail of one just-written parquet file, in ONE open:
    footer row count, [min, max] of `cols`, and — when `sidecar` is
    given and the file has rows — the bloom filter over its record-key
    column, written to `sidecar` (tmp + rename, so a reader never sees a
    torn blob). Module-level so the executor pass can pickle it; the
    result is a few scalars, never the bitmap. rows = -1 when the footer
    is unreadable (the file is then kept, never taken for empty)."""
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
    except (OSError, ValueError):  # pragma: no cover
        return {"rows": -1, "stats": {}, "bloom": False}
    with pf:
        md = pf.metadata
        out = {"rows": md.num_rows, "stats": _footer_minmax(md, cols),
               "bloom": False}
        if not (sidecar and md.num_rows):
            return out
        keys = pf.read(columns=[RECORD_KEY_META]).column(0).to_pylist()
    from hudi_demo_spark.engine import bloom as B

    side = Path(sidecar)
    side.parent.mkdir(parents=True, exist_ok=True)
    tmp = side.parent / (side.name + ".tmp")
    tmp.write_bytes(B.build(keys, fpp, cap))
    tmp.replace(side)
    out["bloom"] = True
    return out


def _bloom_keep(root: str, rel: str, h) -> bool:
    """False only when the bloom sidecar of data file `rel` PROVES none
    of the probed keys (`h`: an (n, 2) uint64 array of `key_hashes`
    pairs) are in the file. A missing or unreadable sidecar keeps the
    file. Module-level so the executor pass can pickle it."""
    from hudi_demo_spark.engine import bloom as B

    if h is None or not len(h):
        return True
    bl = B.load(B.sidecar_path(root, rel))
    return bl is None or B.might_contain_any(bl, h[:, 0], h[:, 1])


class PreCommitValidationError(RuntimeError):
    """A pre-commit validator rejected a write; nothing was published."""


class IncrementalRangeCleanedError(RuntimeError):
    """An incremental range references commits whose files `clean()`
    already deleted: the changeset would be silently incomplete. Hudi
    throws here too (retention shorter than the consumer's lag is a
    misconfig). Re-read with `allow_cleaned=True` to accept a partial
    changeset; the skip count is then recorded in
    `engine.last_incremental_stats`."""


class Engine:
    """Facade over a directory of tables (the Flink 'hudi catalog' analog,
    hudi0.13_flink1.15/.../Configurations.java:84-91)."""

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # stats of the most recent read_incremental (documented attribute)
        self.last_incremental_stats = {"cleaned_files_skipped": 0}
        # _prepare's projection-column cache: unresolved Column ASTs per
        # (table, evolved schema, input shape) — see _prepare
        self._prep_cols_cache: dict = {}

    # ------------------------------------------------------------------
    # catalog / DDL  (D1-D7)
    # ------------------------------------------------------------------

    def create_table(
        self,
        name: str,
        record_key: str | list[str] | None = None,
        precombine: str | None = None,
        partition_by: str | list[str] | None = None,
        table_type: str = COW,
        payload: str | None = None,
        hive_style: bool = True,
        schema: T.StructType | None = None,
        props: dict | None = None,
        path: str | None = None,
        if_not_exists: bool = False,
    ) -> TableConfig:
        """CREATE TABLE (D1) — SparkSQLDemo.scala:36-53 options surface."""
        tpath = Path(path) if path else self.root / name
        if TableConfig.exists(tpath):
            if if_not_exists:
                return TableConfig.load(tpath)
            raise ValueError(f"table exists: {tpath}")
        keys = [record_key] if isinstance(record_key, str) else record_key
        parts = (
            [partition_by] if isinstance(partition_by, str) else (partition_by or [])
        )
        schema_json = None
        if schema is not None:
            schema_json = json.dumps(self._full_schema(schema, table_type).jsonValue())
        cfg = TableConfig(
            name=name,
            path=str(tpath),
            record_key_fields=keys,
            precombine_field=precombine,
            partition_fields=parts,
            table_type=table_type,
            # Payload selection mirrors JavaClientHive2Hudi.java:145-148:
            # an ordering (preCombine) field selects the ordering-aware
            # DefaultHoodieRecordPayload analog, so concurrent same-key
            # versions resolve by the ordering value — deterministic
            # under NBCC — not by whichever writer got the later instant.
            payload=payload
            or (
                PAYLOAD_DEFAULT
                if precombine and precombine != COMMIT_TIME_META
                else TableConfig.__dataclass_fields__["payload"].default
            ),
            hive_style=hive_style,
            schema_json=schema_json,
            props=props or {},
        )
        cfg.save()
        return cfg

    def drop_table(self, name: str) -> None:
        """DROP TABLE IF EXISTS (D2) — SparkSQLDemo.scala:31."""
        cfg = self._maybe_resolve(name)
        if cfg is not None:
            shutil.rmtree(cfg.path, ignore_errors=True)
        try:
            self.spark.catalog.dropTempView(name)
        except Exception:
            pass

    def list_tables(self) -> list[str]:
        """SHOW TABLES (D7)."""
        return sorted(
            p.parent.name for p in self.root.glob("*/_catalog.json")
        )

    def sync_catalog(self, database: str | None = None) -> list[str]:
        """Hive meta-sync (D5) — SyncHiveWithDatabase.scala:37-76: walk
        the catalog root and register every table. Always registers a
        session-scoped temp view (the exact snapshot read). With
        `database` set on a hive-enabled session (get_spark(hive=True)),
        ALSO pushes each table into the Hive metastore as a real
        external table — schema, column comments, partition list, and
        hudi.* TBLPROPERTIES — which persists across SparkSessions and
        processes, like the reference's HMS sync.

        Raw `SELECT` through the metastore table scans `data/` — for a
        COW table after `clean(retain_commits=1)` that is exactly the
        snapshot (one live version per file group); with retained
        history or MOR deltas, metastore-table scans see file history
        and snapshot reads must go through the engine (the same caveat
        Hudi's Hive sync solves with its custom InputFormat)."""
        names = []
        hive = False
        if database is not None:
            try:
                hive = (
                    self.spark.conf.get("spark.sql.catalogImplementation")
                    == "hive"
                )
            except Exception:
                hive = False
            if not hive:
                raise ValueError(
                    "sync_catalog(database=...) needs a hive-enabled "
                    "session — build it with get_spark(hive=True)"
                )
        for name in self.list_tables():
            self.read(name).createOrReplaceTempView(name)
            if hive:
                self._hms_sync_table(name, database)
            names.append(name)
        return names

    def _hms_sync_table(self, name: str, database: str) -> None:
        """Push one table's definition into the Hive metastore
        (SyncHiveWithDatabase.scala:37-76 + comment propagation per
        SyncCommentsAcrossClusters.scala:100-113). Drop/recreate is
        metadata-only (EXTERNAL location — no data touched); MSCK
        discovers hive-style partition dirs."""
        cfg = self._resolve(name)
        schema = self._stored_schema(cfg)
        if schema is None:
            return
        comments = cfg.props.get("column_comments", {}) or {}

        def esc(s: str) -> str:
            return str(s).replace("'", "''")

        part_cols = list(cfg.partition_fields or [])
        cols_ddl = []
        for f in schema.fields:
            if f.name == DELETED_META:
                continue  # MOR-internal tombstone marker
            c = f"`{f.name}` {f.dataType.simpleString()}"
            if f.name in comments:
                c += f" COMMENT '{esc(comments[f.name])}'"
            cols_ddl.append(c)
        loc = (Path(cfg.path) / DATA_DIR).resolve().as_uri()
        props = {
            "hudi.table.type": cfg.table_type,
            "hudi.record.key": ",".join(cfg.record_key_fields or []),
            "hudi.precombine.field": cfg.precombine_field or "",
        }
        tbl = f"`{database}`.`{name}`"
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{database}`")
        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        ddl = f"CREATE TABLE {tbl} ({', '.join(cols_ddl)}) USING parquet "
        if part_cols:
            ddl += "PARTITIONED BY (" + ", ".join(
                f"`{c}`" for c in part_cols
            ) + ") "
        ddl += f"LOCATION '{loc}' TBLPROPERTIES (" + ", ".join(
            f"'{esc(k)}'='{esc(v)}'" for k, v in props.items()
        ) + ")"
        self.spark.sql(ddl)
        if part_cols and cfg.hive_style:
            self.spark.sql(f"MSCK REPAIR TABLE {tbl}")
        elif part_cols:
            # value-only partition dirs: MSCK cannot discover them, but
            # the timeline knows every live partition — register each
            # explicitly so metastore SELECTs see the data
            parts = sorted({
                m.get("partition", "")
                for m in Timeline(cfg.path).live_files().values()
                if m.get("partition")
            })
            data = Path(cfg.path) / DATA_DIR
            for pp in parts:
                segs = pp.split("/")
                if len(segs) != len(part_cols):
                    continue  # unexpected layout: leave undiscovered
                spec = ", ".join(
                    f"`{c}`='{esc(v)}'" for c, v in zip(part_cols, segs)
                )
                self.spark.sql(
                    f"ALTER TABLE {tbl} ADD IF NOT EXISTS PARTITION "
                    f"({spec}) LOCATION '{(data / pp).resolve().as_uri()}'"
                )

    # ------------------------------------------------------------------
    # resolution / schema
    # ------------------------------------------------------------------

    def _maybe_resolve(self, table: str | TableConfig) -> TableConfig | None:
        if isinstance(table, TableConfig):
            return TableConfig.load(table.path)  # re-read: schema may evolve
        p = Path(table)
        if TableConfig.exists(p):
            return TableConfig.load(p)
        if TableConfig.exists(self.root / table):
            return TableConfig.load(self.root / table)
        return None

    def _resolve(self, table: str | TableConfig) -> TableConfig:
        cfg = self._maybe_resolve(table)
        if cfg is None:
            raise ValueError(f"no such table: {table}")
        return cfg

    @staticmethod
    def _full_schema(data_schema: T.StructType, table_type: str) -> T.StructType:
        fields = [
            T.StructField(COMMIT_TIME_META, T.StringType()),
            T.StructField(RECORD_KEY_META, T.StringType()),
            T.StructField(PARTITION_PATH_META, T.StringType()),
        ]
        fields += [
            f
            for f in data_schema.fields
            if f.name not in META_COLS and f.name != DELETED_META
        ]
        if table_type == MOR:
            fields.append(T.StructField(DELETED_META, T.BooleanType()))
        return T.StructType(fields)

    def _stored_schema(self, cfg: TableConfig) -> T.StructType | None:
        if cfg.schema_json is None:
            return None
        return T.StructType.fromJson(json.loads(cfg.schema_json))

    def _stamp(self, df: DataFrame, cfg: TableConfig, instant: str) -> DataFrame:
        """Add meta columns (W11/W12/W13): record key, partition path,
        commit time — all codegen'd Column expressions, no UDFs."""
        out = (
            df.withColumn(RECORD_KEY_META, record_key_col(cfg.record_key_fields))
            .withColumn(
                PARTITION_PATH_META,
                partition_path_col(cfg.partition_fields, cfg.hive_style),
            )
            .withColumn(COMMIT_TIME_META, F.lit(instant))
        )
        if cfg.table_type == MOR and DELETED_META not in out.columns:
            out = out.withColumn(DELETED_META, F.lit(False))
        return out

    def _conform(
        self, df: DataFrame, cfg: TableConfig, keep_deleted: bool = False
    ) -> DataFrame:
        """Align a stamped frame to the table schema; additive schema
        evolution (new columns appended — the Flink `_WIDER` fixture).

        `_hoodie_is_deleted` is a RESERVED marker column (the public Hudi
        soft-delete field), never evolved into a COW table's stored
        schema; with `keep_deleted` it rides through the projection so
        the upsert merge can apply tombstones, and the COW write path
        strips it again before materializing."""
        stored = self._stored_schema(cfg)
        if stored is None:
            evolved = self._full_schema(df.schema, cfg.table_type)
        else:
            names = set(stored.names)
            extra = [
                f
                for f in df.schema.fields
                if f.name not in names and f.name != DELETED_META
            ]
            evolved = T.StructType(list(stored.fields) + extra)
        cols = []
        have = set(df.columns)
        for fld in evolved.fields:
            if fld.name in have:
                cols.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
            else:
                cols.append(F.lit(None).cast(fld.dataType).alias(fld.name))
        if (
            keep_deleted
            and DELETED_META in have
            and DELETED_META not in {f.name for f in evolved.fields}
        ):
            cols.append(
                F.coalesce(F.col(DELETED_META).cast("boolean"), F.lit(False))
                .alias(DELETED_META)
            )
        new_json = json.dumps(evolved.jsonValue())
        if new_json != cfg.schema_json:
            cfg.schema_json = new_json
            cfg.save()
        return df.select(*cols)

    def _prepare(
        self,
        df: DataFrame,
        cfg: TableConfig,
        instant: str,
        keep_deleted: bool = False,
    ) -> DataFrame:
        """`_conform(_stamp(df), …)` fused into ONE projection — the hot
        write path's batch preparation. Spark Datasets analyze EAGERLY
        on the JVM at every transformation, and each chained withColumn
        in `_stamp` re-analyzes the batch's whole plan tree (refresh
        batches carry deep lineages: incremental reads, signing
        pipelines, CDC unions) — the unfused pair cost ~4 full-tree
        analyses per commit, a measurable slice of the per-commit floor
        profiled in SCALE.md. Semantics are pinned to the unfused pair
        (schema, column order, values, schema-evolution save) by
        tests/test_properties.py::test_prepare_equals_stamp_conform;
        `_stamp`/`_conform` remain for the call sites that need only
        one half (marker frames, read-side conforms). Relies on the
        invariant that every stored schema carries the three meta
        columns (create_table writes them via `_full_schema`)."""
        stored = self._stored_schema(cfg)
        if stored is None:
            evolved = self._full_schema(df.schema, cfg.table_type)
        else:
            names = set(stored.names)
            extra = [
                f
                for f in df.schema.fields
                if f.name not in names and f.name != DELETED_META
            ]
            evolved = T.StructType(list(stored.fields) + extra)
        have = set(df.columns)
        is_mor = cfg.table_type == MOR
        new_json = json.dumps(evolved.jsonValue())
        # Every Column construction (col/cast/alias) is a py4j round
        # trip, and the list below costs ~hundreds of them per commit —
        # a measured ~0.3 s/commit of pure gateway chatter on loaded
        # boxes. All of it is instant-INDEPENDENT (unresolved ASTs that
        # re-resolve per plan; even keyless uuid() re-evaluates per
        # query), so the built list is cached per (table, evolved
        # schema, input shape) with the commit-time slot left as a
        # placeholder to fill per call. A lifecycle's 2nd..Nth commits
        # pay one literal instead of the whole list.
        ck = (
            cfg.path,
            new_json,
            tuple(df.columns),
            keep_deleted,
            is_mor,
            tuple(cfg.record_key_fields or ()),
            tuple(cfg.partition_fields or ()),
            cfg.hive_style,
        )
        cached = self._prep_cols_cache.get(ck)
        if cached is None:

            def _src(name: str) -> Column | None:
                if name == RECORD_KEY_META:
                    return record_key_col(cfg.record_key_fields)
                if name == PARTITION_PATH_META:
                    return partition_path_col(
                        cfg.partition_fields, cfg.hive_style
                    )
                if name == COMMIT_TIME_META:
                    return None  # placeholder — filled per instant below
                if name in have:
                    return F.col(name)
                if name == DELETED_META and is_mor:
                    return F.lit(False)
                return F.lit(None)

            cached = [
                (
                    src.cast(fld.dataType).alias(fld.name)
                    if (src := _src(fld.name)) is not None
                    else None,
                    fld.dataType,
                    fld.name,
                )
                for fld in evolved.fields
            ]
            if (
                keep_deleted
                and DELETED_META in have
                and DELETED_META not in {f.name for f in evolved.fields}
            ):
                cached.append(
                    (
                        F.coalesce(
                            F.col(DELETED_META).cast("boolean"), F.lit(False)
                        ).alias(DELETED_META),
                        None,
                        DELETED_META,
                    )
                )
            self._prep_cols_cache[ck] = cached
            while len(self._prep_cols_cache) > 256:
                self._prep_cols_cache.pop(
                    next(iter(self._prep_cols_cache))
                )
        cols = [
            c if c is not None
            else F.lit(instant).cast(dtype).alias(name)
            for c, dtype, name in cached
        ]
        if new_json != cfg.schema_json:
            cfg.schema_json = new_json
            cfg.save()
        return df.select(*cols)

    # ------------------------------------------------------------------
    # physical file IO
    # ------------------------------------------------------------------

    def _materialize(
        self, df: DataFrame, cfg: TableConfig, instant: str, kind: str,
        pre_arranged: bool = False, approx_bytes: int | None = None,
        stats_cols: list[str] | None = None,
    ) -> tuple[list[dict], int]:
        """Write df into the table layout: hive-style partition dirs,
        files named by instant (the Hudi file-slice naming analog).
        One partitioned Spark write + driver-side renames (metadata ops).
        `pre_arranged` skips the key-hash repartitions (parallelism /
        bucket props) — clustering arranges rows by sort range and a hash
        repartition here would destroy that layout. `stats_cols` adds
        columns to the recorded [min, max] stats (clustering's sort
        columns).

        Returns (added file metas, rows written). Rows written is Hudi's
        numWrites, the commit's `rows_written` stat: the footer row
        counts of the new files (a COW rewrite counts the rows it
        carries over, a MOR delta its log rows); -1 if a footer was
        unreadable."""
        par = cfg.props.get("write.parallelism")
        if par and not pre_arranged:
            df = df.repartition(int(par), F.col(RECORD_KEY_META))
        bucket = cfg.props.get("bucket.num")
        if bucket and not pre_arranged:
            # bucket hash index (T6) — TestStreamingMOR.java:52-53: key→bucket
            # placement bounds files per partition and co-locates upserts.
            df = df.repartition(int(bucket), F.col(RECORD_KEY_META))
        if cfg.props.get("write.sort_mode") == "partition_sort" and not pre_arranged:
            # Hudi bulk-insert GLOBAL_SORT analog: without a shuffle, a
            # write of S input splits into P hive partitions emits up to
            # S×P files (AQE size-coalescing only acts on shuffle reads)
            # — the classic small-files explosion at high S. The range
            # shuffle groups each hive partition's rows contiguously,
            # key-sorts within, and gives AQE a shuffle to coalesce to
            # the target file size. Opt-in: worth one shuffle for bulk
            # ingests of pre-split data, pointless for post-shuffle
            # writes (upsert/merge already arrive shuffled).
            keys = [F.col(PARTITION_PATH_META)]
            if cfg.record_key_fields:
                keys.append(F.col(RECORD_KEY_META))
            df = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
        # staging dir carries the instant as its name PREFIX (clean()'s
        # live-writer protection parses it back) plus a random token:
        # even a cross-process instant collision (caught later at commit
        # publish) must not let one writer's mode("overwrite") staging
        # clobber another's in-flight files
        import uuid as _uuid

        tmp = (
            Path(cfg.path) / "_tmp" / f"{instant}-{_uuid.uuid4().hex[:8]}"
        )
        prefix = {"base": "b", "delta": "d"}[kind]
        # announce the write before any data lands (Hudi marker analog):
        # clean() protects this instant's staged/unreferenced files while
        # the marker is fresh, and reclaims them promptly — by instant,
        # not by blanket age — if this writer dies before committing
        tl_marker = Timeline(cfg.path)
        tl_marker.start_inflight(instant, kind)
        # parquet codec / row-group sizing (hoodie.parquet.compression.
        # codec / hoodie.parquet.block.size analogs): codec trades CPU
        # for bytes scanned — at 100 TB, zstd over the default snappy is
        # routinely ~30% less IO on text-heavy columns
        wopts = {}
        if cfg.props.get("write.parquet.codec"):
            wopts["compression"] = str(cfg.props["write.parquet.codec"])
        if cfg.props.get("write.parquet.block_size"):
            wopts["parquet.block.size"] = str(
                int(cfg.props["write.parquet.block_size"])
            )
        with self._file_sizing(cfg, approx_bytes):
            if cfg.partition_fields:
                (
                    df.withColumn("__pp", F.col(PARTITION_PATH_META))
                    .write.mode("overwrite")
                    .options(**wopts)
                    .partitionBy("__pp")
                    .parquet(str(tmp))
                )
            else:
                df.write.mode("overwrite").options(**wopts).parquet(str(tmp))
        # the distributed write finished: refresh the marker so the
        # metadata tail (renames, footer stats, bloom build) runs under a
        # fresh liveness window even after a long Spark job
        tl_marker.heartbeat_inflight(instant)
        from hudi_demo_spark.engine import bloom as B

        data = Path(cfg.path) / DATA_DIR
        srcs = sorted(tmp.rglob("*.parquet"))
        bloom = kind == "base" and self._truthy(
            cfg.props.get("index.bloom.enabled")
        )
        # the metadata tail in ONE scan per file (driver-side for
        # ordinary commits, one executor job for bulk ones): footer row
        # count, key range + column stats, and the bloom sidecar, staged
        # beside the file and published with it by the renames below
        scans = self._scan_files(
            [(str(s), str(s) + ".bf" if bloom else None) for s in srcs],
            [RECORD_KEY_META, *self._stats_cols(cfg, stats_cols)],
            cfg.props,
        )
        added: list[dict] = []
        for src in srcs:
            scan = scans[str(src)]
            if scan["rows"] == 0:
                # empty part files (empty input slices) are dead weight:
                # never prunable, opened by every snapshot read forever
                src.unlink()
                continue
            rel = src.parent.relative_to(tmp)
            pp = ""
            if rel.name.startswith("__pp="):
                pp = urllib.parse.unquote(rel.name[len("__pp=") :])
            tdir = data / pp if pp else data
            tdir.mkdir(parents=True, exist_ok=True)
            fname = f"{prefix}_{instant}_{len(added):05d}.parquet"
            shutil.move(str(src), str(tdir / fname))
            f = {
                "path": f"{pp}/{fname}" if pp else fname,
                "kind": kind,
                "partition": pp,
                "bytes": (tdir / fname).stat().st_size,
            }
            # per-file key range: the engine's range index (M1 —
            # JavaClientHive2Hudi.java:167-180) — upserts prune files
            # whose range cannot intersect the batch; col stats back
            # `read(range_filter=...)` file skipping
            st = dict(scan["stats"])
            kr = st.pop(RECORD_KEY_META, None)
            if kr is not None:
                f["key_min"], f["key_max"] = kr
            if st:
                f["col_stats"] = st
            if scan["bloom"]:
                side = B.sidecar_path(cfg.path, f["path"])
                side.parent.mkdir(parents=True, exist_ok=True)
                Path(str(src) + ".bf").replace(side)
                f["bloom"] = True
            added.append(f)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            # staging parent is SHARED across concurrent writers (one
            # subdir per instant): remove it only when empty — an rmtree
            # here would clobber another writer's in-flight job
            (Path(cfg.path) / "_tmp").rmdir()
        except OSError:
            pass
        if kind == "base":
            from hudi_demo_spark.engine import functional_index as fi

            for name, expr in fi.indexed_exprs(cfg).items():
                fi.FunctionalIndex(self.spark, cfg, name, expr).append(
                    [f["path"] for f in added], instant
                )
        rows = [scan["rows"] for scan in scans.values()]
        return added, -1 if any(n < 0 for n in rows) else sum(rows)

    @contextmanager
    def _file_sizing(self, cfg: TableConfig, approx_bytes: int | None = None):
        """Small-file handling (M5 — parquetMaxFileSize/compactionSmallFileSize,
        JavaClientHive2Hudi.java:92-95,181-187): for the duration of a write
        job, steer AQE to coalesce the final shuffle read by SIZE (target ≈
        one parquet file per task) instead of preferring parallelism. No
        extra shuffle; file count stays bounded at any scale.

        Adaptive: when the caller knows the write is small (`approx_bytes`
        from commit metadata, ≲ a few target files), the coalesce is
        SKIPPED — size-first coalescing would collapse a tiny write to one
        task and serialize the window+encode for no file-count benefit
        (measured 0.4s of a 1.0s upsert at sf0.1). At real scale
        approx_bytes exceeds the threshold and sizing engages."""
        target_mb = int(cfg.props.get("write.target_file_mb", 128))
        if approx_bytes is not None and approx_bytes < 4 * target_mb * 1024 * 1024:
            yield
            return
        conf = self.spark.conf
        keys = {
            "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
                target_mb * 1024 * 1024
            ),
        }
        old = {}
        for k, v in keys.items():
            try:
                old[k] = conf.get(k)
            except Exception:
                old[k] = None
            conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)

    # files per call from which per-file metadata work runs as ONE
    # parallelize job instead of a driver loop (`_per_file`): the write's
    # metadata tail (footers, stats, bloom sidecars) and the key probe's
    # bloom step. One pyarrow footer or sidecar read is ~1 ms, so a
    # driver loop is fine for ordinary commits and probes but serializes
    # a bulk ingest (a 1 TB commit at 128 MB targets lands ~8k files →
    # ~8 s driver stall, growing with commit size, not cluster size) or
    # a probe of a uuid-keyed table whose key ranges all overlap
    _FOOTER_DISTRIBUTE_MIN = 64
    # footer rows per commit from which a tail that builds bloom sidecars
    # runs executor-side at ANY file count: hashing costs ~5 µs per key
    # on one driver core, and one job spreading it over min(files, cores)
    # tasks costs ~0.4 s to launch (4 cores, 4 files: 50k keys took
    # 0.24 s on the driver vs 0.49 s as a job, 100k 0.48 s vs 0.46 s,
    # 400k 2.09 s vs 0.67 s)
    _BLOOM_BUILD_DISTRIBUTE_ROWS = 100_000

    def _per_file(self, fn, items: list, distribute: bool = False) -> list:
        """[fn(x) for x in items], on the driver with no job launch, or
        as ONE parallelize job from `_FOOTER_DISTRIBUTE_MIN` items on (or
        when `distribute`), so the work is O(#items / cluster), not
        O(#items) on the driver. `fn` must pickle (a module-level
        function, or a closure over plain values) and return a few
        scalars: bitmaps are written or read by the executors, never
        shipped."""
        sc = self.spark.sparkContext
        if not distribute and len(items) < self._FOOTER_DISTRIBUTE_MIN:
            return [fn(x) for x in items]
        slices = min(
            len(items), max(len(items) // 16, sc.defaultParallelism), 256
        )
        return sc.parallelize(items, slices).map(fn).collect()

    def _scan_files(
        self, files: list[tuple[str, str | None]], cols: list[str],
        props: dict,
    ) -> dict[str, dict]:
        """{path: `_scan_written` result} for (path, sidecar or None)
        pairs, sidecars sized by the table `props`' bloom settings, run
        by `_per_file`: past its file count, or past
        `_BLOOM_BUILD_DISTRIBUTE_ROWS` footer rows when sidecars are
        built, the commit-time metadata work is one executor job."""
        import pyarrow.parquet as pq

        from hudi_demo_spark.engine import bloom as B

        fpp = float(props.get("index.bloom.fpp", B.DEFAULT_FPP))
        cap = int(props.get("index.bloom.max_entries", B.DEFAULT_MAX_ENTRIES))

        def rows(path: str) -> int:
            try:
                return pq.read_metadata(path).num_rows
            except (OSError, ValueError):  # pragma: no cover
                return 0  # `_scan_written` reports it as rows = -1

        # footer rows are only counted below the file-count switch
        many_keys = len(files) < self._FOOTER_DISTRIBUTE_MIN and (
            sum(rows(p) for p, side in files if side)
            >= self._BLOOM_BUILD_DISTRIBUTE_ROWS
        )
        return dict(self._per_file(
            lambda f: (f[0], _scan_written(f[0], cols, f[1], fpp, cap)),
            files, many_keys,
        ))

    def _stats_cols(
        self, cfg: TableConfig, extra: list[str] | None = None
    ) -> list[str]:
        """Columns whose [min, max] every write records (the Hudi
        metadata-table col_stats analog, `write.stats_cols`): file
        skipping for `read(range_filter=...)` on never-clustered tables,
        surviving post-clustering rewrites. "*" means every scalar data
        column (non-scalar ones are skipped footer-side); `extra`
        appends columns not already listed."""
        raw = str(cfg.props.get("write.stats_cols", "")).strip()
        if raw == "*":
            schema = self._stored_schema(cfg)
            cols = (
                [
                    f.name
                    for f in schema.fields
                    if f.name not in META_COLS and f.name != DELETED_META
                ]
                if schema is not None
                else []
            )
        else:
            cols = [c.strip() for c in raw.split(",") if c.strip()]
        return cols + [c for c in extra or [] if c not in cols]

    @staticmethod
    def _truthy(v) -> bool:
        return str(v or "").lower() in ("1", "true", "yes")

    def _key_probe(
        self,
        cfg: TableConfig,
        files: dict[str, dict],
        intervals: dict,
        n: int | None = None,
        keys: dict | None = None,
        batch: DataFrame | None = None,
        current: bool = True,
    ) -> dict[str, dict]:
        """The one record-key pruning stage: the files that may hold one
        of the probed keys, for write tagging (`_tag_files`), record-key
        point reads (`_prune_pass`) and compaction's global widening
        (`_compaction_scope`). The probed keys are `batch` (a frame with
        `_hoodie_record_key` and `_hoodie_partition_path`) and/or `keys`
        ({scope: [key]}), `n` of them; scopes as in `intervals`. Three
        steps, each keeping every file it cannot rule out, so the stage
        never changes rows:

        1. the record index, on a global table, for probes of the
           current state (`current`; `as_of` reads pass False): it looks
           up `batch`, else the keys of `keys[None]`;
        2. key intervals: `intervals` maps a scope (a partition path, or
           None for any partition) to [(lo, hi)] record-key intervals, a
           point key being (k, k). A file is kept when its scope is
           probed and one interval meets its [key_min, key_max] (sorted,
           merged intervals + bisect: O(files · log intervals)). A None
           bound, or a file without a key range, keeps the file;
        3. the bloom probe of every kept base file with a sidecar, when
           `n` is given: `_bloom_hashes` hashes the keys — only then, as
           hashing a big batch is a Spark job — and `_bloom_keep` runs
           per file through `_per_file`: on the driver, or as one job
           from `_FOOTER_DISTRIBUTE_MIN` sidecars on."""
        import bisect

        probe = batch if batch is not None else (keys or {}).get(None)
        ridx = self._record_index(cfg) if current and probe is not None else None
        if ridx is not None and ridx.usable():
            if isinstance(probe, list):
                probe = _rows_df(
                    self.spark, [(k,) for k in probe], f"{RECORD_KEY_META} string"
                )
            files = _in_partitions(files, ridx.lookup_partitions(probe))
        spans: dict = {}
        for scope, ivs in intervals.items():
            spans[scope] = None  # unbounded: keeps every file in scope
            if any(lo is None or hi is None for lo, hi in ivs):
                continue
            los, his = [], []
            for lo, hi in sorted(ivs):
                if his and lo <= his[-1]:
                    his[-1] = max(his[-1], hi)
                else:
                    los.append(lo)
                    his.append(hi)
            spans[scope] = (los, his)
        out: dict[str, dict] = {}
        for p, m in files.items():
            scope = None if None in spans else m.get("partition", "")
            if scope not in spans:
                continue
            kmin, kmax = m.get("key_min"), m.get("key_max")
            if spans[scope] and kmin is not None and kmax is not None:
                los, his = spans[scope]
                i = bisect.bisect_right(los, kmax) - 1
                if i < 0 or his[i] < kmin:
                    continue
            out[p] = m
        probed = [
            (p, m.get("partition", ""))
            for p, m in out.items()
            if m.get("bloom") and m.get("kind") == "base"
        ]
        hs = (
            self._bloom_hashes(cfg, n, keys, batch)
            if probed and n is not None else None
        )
        if not hs:
            return out
        root = str(cfg.path)
        keep = self._per_file(
            lambda f: _bloom_keep(root, f[0], hs.get(None, hs.get(f[1]))),
            probed,
        )
        drop = {p for (p, _), k in zip(probed, keep) if not k}
        return {p: m for p, m in out.items() if p not in drop}

    def _bloom_hashes(
        self, cfg: TableConfig, n: int, keys: dict | None, batch=None
    ) -> dict | None:
        """{scope: (n, 2) uint64 `key_hashes` pairs} for `_key_probe`'s
        bloom step, scopes as in its `intervals`. None when the table
        keeps no blooms, or when the probe's `n` keys exceed
        `index.bloom.lookup.max_keys` (default 100k —
        JavaClientHive2Hudi.java:194's batch guidance): that is the
        point-lookup regime where overlapping key ranges keep everything
        and the bloom is the only thing standing between a 20-key upsert
        and a whole-partition rewrite; larger batches touch most files
        anyway. `keys` ({scope: [key]}) hash on the driver (~10 ms for a
        summary-sized batch). With keys None the `batch` hashes on the
        executors, vectorized in Arrow batches, and ONE bounded Arrow
        transfer of fixed-width pairs (≤ max_keys × 16 B) comes back —
        the driver never loops over raw keys."""
        import numpy as np

        from hudi_demo_spark.engine import bloom as B

        if not self._truthy(cfg.props.get("index.bloom.enabled")) or n > int(
            cfg.props.get("index.bloom.lookup.max_keys",
                          B.DEFAULT_LOOKUP_MAX_KEYS)
        ):
            return None
        if keys is not None:
            return {
                s: np.array([B.key_hashes(k) for k in ks], dtype=np.uint64)
                for s, ks in keys.items()
            }
        glob = self._is_global(cfg)
        scope = F.coalesce(F.col(PARTITION_PATH_META).cast("string"), F.lit(""))
        distinct_pairs = batch.select(
            (F.lit("") if glob else scope).alias("__pp"),
            F.col(RECORD_KEY_META).cast("string").alias("__k"),
        ).distinct()

        def _hash_pairs(it):
            # uint64 rides the wire as two's-complement int64
            # (reinterpret) — Arrow longs are signed
            import pandas as pd

            from hudi_demo_spark.engine import bloom as BB

            for pdf in it:
                hs = [BB.key_hashes(k) for k in pdf["__k"]]
                yield pd.DataFrame(
                    {
                        "__pp": pdf["__pp"],
                        "__h1": np.array(
                            [h[0] for h in hs], dtype=np.uint64
                        ).view(np.int64),
                        "__h2": np.array(
                            [h[1] for h in hs], dtype=np.uint64
                        ).view(np.int64),
                    }
                )

        pairs_pdf = distinct_pairs.mapInPandas(
            _hash_pairs, "__pp string, __h1 long, __h2 long"
        ).toPandas()
        return {
            None if glob else pp: np.stack(
                [
                    g["__h1"].to_numpy().view(np.uint64),
                    g["__h2"].to_numpy().view(np.uint64),
                ],
                axis=1,
            )
            for pp, g in pairs_pdf.groupby("__pp", sort=False)
        }

    def _empty(self, cfg: TableConfig) -> DataFrame:
        schema = self._stored_schema(cfg) or T.StructType(
            [
                T.StructField(COMMIT_TIME_META, T.StringType()),
                T.StructField(RECORD_KEY_META, T.StringType()),
                T.StructField(PARTITION_PATH_META, T.StringType()),
            ]
        )
        return _rows_df(self.spark, [], schema)

    def _read_files(self, cfg: TableConfig, files: dict[str, dict]) -> DataFrame:
        """Read an explicit file set with the pinned table schema (missing
        columns in old files surface as nulls — schema evolution without
        mergeSchema footer scans). External (bootstrap) files get meta
        columns and partition columns computed lazily on scan (W9)."""
        native = [p for p, m in files.items() if m.get("kind") != "external"]
        ext = {p: m for p, m in files.items() if m.get("kind") == "external"}
        data = Path(cfg.path) / DATA_DIR
        dfs = []
        if native:
            hist = cfg.schema_history or []
            if not hist:
                schema = self._stored_schema(cfg)
                reader = self.spark.read
                if schema is not None:
                    reader = reader.schema(schema)
                dfs.append(reader.parquet(*[str(data / p) for p in native]))
            else:
                # schema evolution: group files by schema epoch (the
                # catalog keeps one entry per ALTER), read each group
                # with ITS pinned schema, and project to the current
                # schema (rename chains composed, widened types cast,
                # added columns null). One spark.read per epoch — the
                # epoch count is the number of alters ever made, not a
                # function of file count.
                groups: dict[int, list[str]] = {}
                for p in native:
                    c = files[p].get("commit") or "~"  # unknown → current
                    idx = len(hist)
                    for i, h in enumerate(hist):
                        if c < h["until"]:
                            idx = i
                            break
                    groups.setdefault(idx, []).append(p)
                for idx, paths in sorted(groups.items()):
                    dfs.append(
                        self._read_epoch(cfg, hist, idx, [
                            str(data / p) for p in paths
                        ])
                    )
        if ext:
            dfs.append(self._read_external(cfg, ext))
        if not dfs:
            return self._empty(cfg)
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
        )

    def _read_epoch(
        self,
        cfg: TableConfig,
        hist: list[dict],
        idx: int,
        paths: list[str],
    ) -> DataFrame:
        """Read one schema epoch's files and project them to the CURRENT
        schema: epoch column names are mapped forward through the
        rename_to_next chain, types cast where widened, columns added
        later come back null, dropped columns are simply not selected."""
        current = self._stored_schema(cfg)
        if idx >= len(hist):
            return self.spark.read.schema(current).parquet(*paths)
        epoch_schema = T.StructType.fromJson(json.loads(hist[idx]["schema"]))
        df = self.spark.read.schema(epoch_schema).parquet(*paths)
        # forward-compose renames from this epoch to now
        fwd = {f.name: f.name for f in epoch_schema.fields}
        for h in hist[idx:]:
            ren = h.get("rename_to_next") or {}
            fwd = {old: ren.get(cur, cur) for old, cur in fwd.items()}
        rev = {cur: old for old, cur in fwd.items()}
        cols = []
        for f in current.fields:
            src = rev.get(f.name)
            if src is None:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(src).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    def _read_external(self, cfg: TableConfig, files: dict[str, dict]) -> DataFrame:
        """Metadata-bootstrap scan (W9 — BootstrapDemo.scala:207-232): the
        source parquet stays in place; record key / partition path / commit
        time are computed at read. Partition columns absent from the files
        (partitionBy-stripped sources) are reconstructed from dir names.
        Grouped per partition dir; at cluster scale the hive-style case
        would use one `basePath` read instead."""
        by_pp: dict[str, list[dict]] = {}
        for m in files.values():
            by_pp.setdefault(m.get("partition", ""), []).append(m)
        parts_dfs = []
        for pp, ms in by_pp.items():
            df = self.spark.read.parquet(*[m["abs_path"] for m in ms])
            # reconstruct partition columns missing from the files
            if cfg.partition_fields and pp:
                segs = pp.split("/")
                for i, fld in enumerate(cfg.partition_fields):
                    if fld in df.columns or i >= len(segs):
                        continue
                    val = segs[i]
                    if "=" in val:
                        val = val.split("=", 1)[1]
                    df = df.withColumn(fld, F.lit(val))
            commit = ms[0].get("commit", "0")
            df = (
                df.withColumn(RECORD_KEY_META, record_key_col(cfg.record_key_fields))
                .withColumn(PARTITION_PATH_META, F.lit(pp))
                .withColumn(COMMIT_TIME_META, F.lit(commit))
            )
            parts_dfs.append(df)
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts_dfs
        )

    # ------------------------------------------------------------------
    # read path  (S1-S5, R23)
    # ------------------------------------------------------------------

    def read(
        self,
        table: str | TableConfig,
        as_of: str | None = None,
        query_type: str = "snapshot",
        partition_filter: str | Column | None = None,
        range_filter: tuple | None = None,
        point_filter: tuple | None = None,
        func_filter: tuple | None = None,
        point_prune: tuple | None = None,
        where: str | Column | None = None,
    ) -> DataFrame:
        """Snapshot read (S1/S2). `as_of` time-travels to an instant;
        `query_type="read_optimized"` skips MOR deltas.

        The other arguments are predicates:

        - `partition_filter`: any predicate on `_hoodie_partition_path`;
          it prunes files only, rows are not filtered.
        - `point_filter=(col, values)`: `col IN values`.
        - `point_prune=(col, values)`: the same file pruning with no row
          filter, for callers that join on the probed identity next
          (derived-view maintenance), where a thousands-of-literals IN
          would only bloat the plan.
        - `range_filter=(col, lo, hi)`, or a list of such tuples (the
          z-order read path): `lo <= col <= hi`.
        - `func_filter=(index_name, lo, hi)`: `lo <= expr <= hi` on a
          functional index's expression; None is an open bound.
        - `where`: any row predicate. A string is also routed by
          `_where_probes` into partition, point and range probes; what
          the router cannot parse still filters rows, unpruned.

        All of them prune the file list in ONE ordered pass
        (`_prune_pass`) where every probe composes and none wins over
        another: partition, record keys (record index, key ranges,
        blooms), secondary index, col stats, functional index. Each
        pruner keeps the files it knows nothing about, so pruning never
        changes the rows."""
        cfg = self._resolve(table)
        ranges = (
            range_filter if isinstance(range_filter, list)
            else [] if range_filter is None else [range_filter]
        )
        probes = [("range", *r) for r in ranges] + [
            ("point", p[0], _values(p[1]))
            for p in (point_filter, point_prune) if p is not None
        ]
        func = None
        if func_filter is not None:
            fname, flo, fhi = func_filter
            fidx = self._functional_index(cfg, fname)
            if fidx is None:
                raise ValueError(f"no functional index named {fname!r}")
            func = (fidx, flo, fhi)
        files = Timeline(cfg.path).live_files(as_of)
        if query_type == "read_optimized":
            files = {p: m for p, m in files.items() if m.get("kind") != "delta"}
        files = self._prune_pass(
            cfg, files, probes + self._where_probes(cfg, where),
            partition_filter, func, as_of,
        )
        has_delta = any(m.get("kind") == "delta" for m in files.values())
        df = self._read_files(cfg, files)
        if cfg.table_type == MOR and query_type == "snapshot" and has_delta:
            df = self._merge_view(df, cfg)
        df = self._drop_tombstones(df)
        if DELETED_META in df.columns:
            df = df.drop(DELETED_META)
        for col, lo, hi in ranges:
            df = df.filter(F.col(col).between(lo, hi))
        if point_filter is not None:
            df = df.filter(F.col(point_filter[0]).isin(_values(point_filter[1])))
        if func is not None:
            e = F.expr(fidx.expr)
            if flo is not None:
                df = df.filter(e >= F.lit(flo))
            if fhi is not None:
                df = df.filter(e <= F.lit(fhi))
        if where is not None:
            df = df.filter(_as_cond(where))
        return df

    def _read_small(
        self, cfg: TableConfig, probes: list[tuple], columns: list[str],
        files: dict[str, dict] | None = None,
    ):
        """The driver read route: `columns` of the current snapshot's
        rows matching every probe, as a pyarrow Table read without a
        Spark job — or None, and the caller runs its Spark plan.
        `probes` are ``("part" | "point", col, vals)`` tuples: they
        prune the live files through `_prune_pass`, as in `read`, and
        filter the rows as ``col IN vals`` inside the parquet scan.
        `files`, when given, is the set read instead of the pruned live
        files: an insert-only incremental window (`_incr_window`).

        Served only when the pruned set is plain native base files (no
        MOR delta to merge, no external bootstrap file, no schema
        history to project) within `_SMALL_READ_CUT`'s file count and
        byte total, both taken from the commit metadata of the live
        files: deciding reads no footer."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if files is None:
            files = self._prune_pass(
                cfg, Timeline(cfg.path).live_files(), probes, None, None,
                None,
            )
        max_files, max_bytes = _SMALL_READ_CUT
        if (
            cfg.schema_history
            or any(m.get("kind") != "base" for m in files.values())
            or len(files) > max_files
            or sum(m["bytes"] for m in files.values()) > max_bytes
        ):
            return None
        schema = to_arrow_schema(self._stored_schema(cfg))
        keep = ds.scalar(True)
        for _, col, vals in probes:
            keep &= ds.field(col).isin([v for v in vals if v is not None])
        if DELETED_META in schema.names:
            keep &= ~pc.coalesce(ds.field(DELETED_META), False)
        data = Path(cfg.path) / DATA_DIR
        return pq.read_table(
            [str(data / p) for p in sorted(files)], schema=schema,
            columns=columns, filters=keep, partitioning=None,
        )

    def _prune_pass(
        self,
        cfg: TableConfig,
        files: dict[str, dict],
        probes: list[tuple],
        partition_filter,
        func: tuple | None,
        as_of: str | None,
    ) -> dict[str, dict]:
        """`read`'s one ordered file-pruning pass. `probes` are
        `_where_probes` tuples; `func` is (functional index, lo, hi).

        1. partition: `partition_filter` (evaluated over the distinct
           paths), then partition-segment probes;
        2. point probes on `_hoodie_record_key`: the key-probe stage
           (`_key_probe`), any partition — the record-level index on
           current-state reads of global tables, then per-file key
           ranges and blooms (per-file facts, valid for time travel too);
        3. secondary index on point and range probes, current-state
           reads only: the index may lack values that existed
           historically;
        4. col stats on point and range probes;
        5. the functional index.

        When the remaining files hold any delta (a MOR snapshot; a
        read-optimized read has none), layers 4 and 5 keep every file:
        their ranges describe one file version, and a row's current
        version may sit in a delta they would skip, leaving the stale
        base row (or, with an out-of-order preCombine, a stale delta row
        that DML would then tombstone). Layers 1-3 are partition- or
        key-grained, so a key's base and deltas survive them together."""
        if partition_filter is not None:
            # honored for unpartitioned tables too (partition path is ""):
            # silently ignoring it would widen a caller's delete/update
            # scope to the whole table.
            files = self._prune_files(files, partition_filter)
        for kind, col, *arg in probes:
            if kind == "part":
                files = self._prune_segments(cfg, files, col, *arg)
        for kind, col, *arg in probes:
            if kind == "point" and col == RECORD_KEY_META and (
                ks := sorted({str(v) for v in arg[0] if v is not None})
            ):
                files = self._key_probe(
                    cfg, files, {None: [(k, k) for k in ks]},
                    len(ks), {None: ks}, current=as_of is None,
                )
        for kind, col, *arg in probes if as_of is None else []:
            if kind == "range":
                files = self._secondary_range_prune(cfg, files, col, *arg)
            elif kind == "point":
                idx = self._secondary_index(cfg, col)
                if idx is not None and idx.usable():
                    files = _in_partitions(files, idx.lookup_partitions(arg[0]))
        if any(m.get("kind") == "delta" for m in files.values()):
            return files
        for kind, col, *arg in probes:
            if kind == "point":
                files = self._prune_by_stats_set(files, col, *arg)
            elif kind == "range":
                files = self._prune_by_stats(files, col, *arg)
        if func is not None and func[0].usable():
            files = func[0].prune(files, *func[1:])
        return files

    # types whose `cast(cast(x as string) as T)` round-trip is exact in
    # Spark — the secondary index stores values as cast-to-string, so a
    # range probe may only cast back for these (a lossy round-trip would
    # prune partitions that DO contain matches: lost rows)
    _RANGE_CASTABLE = (
        T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
        T.DoubleType, T.FloatType, T.DateType,
    )

    def _secondary_range_prune(
        self, cfg: TableConfig, files: dict[str, dict], col: str, lo, hi
    ) -> dict[str, dict]:
        """Partition-level RANGE pruning through a secondary index:
        col-stats skipping (above) degenerates on high-cardinality
        columns spread uniformly across files — every file's [min, max]
        spans the range. The index knows exactly which partitions hold
        in-range values; intersect. No-op without a usable index or for
        types whose string round-trip is inexact."""
        idx = self._secondary_index(cfg, col)
        if idx is None or not idx.usable():
            return files
        schema = self._stored_schema(cfg)
        if schema is None:
            return files
        try:
            dt = schema[col].dataType
        except KeyError:
            return files
        if not isinstance(dt, self._RANGE_CASTABLE):
            return files
        return _in_partitions(
            files, idx.lookup_partitions_range(lo, hi, dt.simpleString())
        )

    @staticmethod
    def _prune_by_stats(
        files: dict[str, dict], col: str, lo, hi
    ) -> dict[str, dict]:
        """Column-stats file skipping: drop files whose recorded
        [min, max] for `col` cannot intersect [lo, hi]. Files without
        stats for the column (never clustered, delta logs, incomparable
        types) are kept — pruning is an optimization, never a filter."""
        out: dict[str, dict] = {}
        for p, m in files.items():
            rng = (m.get("col_stats") or {}).get(col)
            if rng is not None:
                try:
                    if rng[1] < lo or rng[0] > hi:
                        continue
                except TypeError:
                    pass
            out[p] = m
        return out

    @staticmethod
    def _prune_by_stats_set(
        files: dict[str, dict], col: str, vals: list
    ) -> dict[str, dict]:
        """Column-stats file skipping for a VALUE SET: drop files whose
        recorded [min, max] for `col` cannot contain any probed value —
        sorted probe set + bisect, O(files · log values), so a 30k-key
        CDC delta prunes in milliseconds instead of a per-value scan.
        Unsortable/mixed-type probes or stats keep the file
        (conservative)."""
        import bisect

        try:
            sv = sorted(v for v in vals if v is not None)
        except TypeError:
            return files
        if not sv:
            return files
        out: dict[str, dict] = {}
        for p, m in files.items():
            rng = (m.get("col_stats") or {}).get(col)
            if rng is not None:
                try:
                    i = bisect.bisect_left(sv, rng[0])
                    if i >= len(sv) or sv[i] > rng[1]:
                        continue
                except TypeError:
                    pass
            out[p] = m
        return out

    def _prune_files(
        self, files: dict[str, dict], partition_filter
    ) -> dict[str, dict]:
        """Metadata-level partition pruning: evaluate the predicate on
        the distinct partition-path strings, keep matching files. At
        100 TB this is the difference between scanning the table and
        scanning one partition."""
        pps = sorted({m.get("partition", "") for m in files.values()})
        pdf = _rows_df(
            self.spark,
            [(p,) for p in pps],
            T.StructType(
                [T.StructField(PARTITION_PATH_META, T.StringType())]
            ),
        )
        return _in_partitions(
            files,
            {r[0] for r in pdf.filter(_as_cond(partition_filter)).collect()},
        )

    @staticmethod
    def _prune_segments(
        cfg: TableConfig, files: dict[str, dict], col: str, vals: list
    ) -> dict[str, dict]:
        """Partition pruning for `col IN vals` on a partition column, on
        the driver (no Spark job): keep files whose path holds the exact
        segment, `col=value` hive-style and positional otherwise, so a
        value that prefixes another never over-matches."""
        want = {f"{col}={v}" if cfg.hive_style else str(v) for v in vals}
        i = cfg.partition_fields.index(col)

        def hit(pp: str) -> bool:
            segs = pp.split("/")
            if cfg.hive_style:
                return not want.isdisjoint(segs)
            return i < len(segs) and segs[i] in want

        return {p: m for p, m in files.items() if hit(m.get("partition", ""))}

    @staticmethod
    def _is_global(cfg: TableConfig) -> bool:
        """Global index (Hudi GLOBAL_BLOOM/GLOBAL_SIMPLE with
        `hoodie.bloom.index.update.partition.path=true`): record keys are
        unique across the WHOLE table, and an upsert that changes a
        record's partition columns moves it — the old-partition copy
        loses the merge instead of surviving as a duplicate."""
        return str(cfg.props.get("index.global", "")).lower() in (
            "1", "true", "yes",
        )

    def _record_index(self, cfg: TableConfig):
        """RecordIndex when enabled (`index.record_level` prop on a
        global-index table); None otherwise. Non-global tables derive the
        partition from the row itself — the index would be dead weight."""
        if not self._is_global(cfg):
            return None
        from hudi_demo_spark.engine import record_index as ri

        if not ri.enabled(cfg):
            return None
        return ri.RecordIndex(self.spark, cfg)

    def _precommit_validate(
        self,
        cfg: TableConfig,
        instant: str,
        added: list[dict],
        removed: list[str] | str,
    ) -> None:
        """Pre-commit validator (the Hudi ``hoodie.precommit.validators``
        analog): with table prop ``precommit.validator.sql`` set, the
        SQL runs over the CANDIDATE snapshot — what the table would look
        like if this write published — exposed as temp view
        ``__candidate``. Any returned row is a violation: the staged
        files are deleted, the inflight marker retired, and the write
        aborts with PreCommitValidationError — nothing ever reaches the
        timeline, so readers never see the bad data (the quality-gate
        property Hudi's validators provide)."""
        sql = cfg.props.get("precommit.validator.sql")
        if not sql:
            return
        tl = Timeline(cfg.path)
        live = tl.live_files()
        removed_set = (
            set(live) if removed == "*" else set(removed)
        )
        cand = {p: m for p, m in live.items() if p not in removed_set}
        for f in added:
            cand[f["path"]] = f
        df = self._read_files(cfg, cand)
        if cfg.table_type == MOR and any(
            m.get("kind") == "delta" for m in cand.values()
        ):
            df = self._merge_view(df, cfg)
        self._drop_tombstones(df).createOrReplaceTempView("__candidate")
        bad = self.spark.sql(sql)
        sample = bad.limit(3).collect()
        if sample:
            data = Path(cfg.path) / DATA_DIR
            from hudi_demo_spark.engine import bloom as B

            for f in added:
                (data / f["path"]).unlink(missing_ok=True)
                B.sidecar_path(cfg.path, f["path"]).unlink(missing_ok=True)
            tl.finish_inflight(instant)
            raise PreCommitValidationError(
                "pre-commit validator rejected the write; first "
                f"violations: {[r.asDict() for r in sample]}"
            )

    def _index_append(
        self, cfg: TableConfig, stamped: DataFrame, rows: int,
        rebuild: bool = False,
    ) -> None:
        """Maintain the record index and any secondary indexes after a
        committed write: append the batch's pairs (`rows`: the batch's
        row count or an upper bound, -1 if unknown; it picks the
        secondary-index append shape). First write on an
        index-less table builds from the live snapshot instead, so
        completeness is guaranteed even when the prop is enabled on an
        existing table. A whole-table replace (`rebuild`) makes every
        prior entry stale: the record index is rebuilt from the batch
        and the secondary indexes are truncated, then rebuilt from the
        snapshot. Soft-delete tombstone rows are dropped first —
        the commit just evicted those keys, so indexing them would only
        grow the index with permanently-dead entries (and hand
        secondary indexes (null, partition) rows from the tombstones'
        null data columns), matching delete_keys which appends
        nothing."""
        stamped = self._drop_tombstones(stamped)
        idx = self._record_index(cfg)
        if idx is not None:
            if rebuild:
                idx.build(stamped.select(RECORD_KEY_META, PARTITION_PATH_META))
            elif not idx.usable():
                idx.build(
                    self.read(cfg).select(RECORD_KEY_META, PARTITION_PATH_META)
                )
            else:
                idx.append(stamped)
        if rebuild:
            self._secondary_truncate(cfg)
        self._secondary_append(cfg, stamped, rows)

    def _secondary_index(self, cfg: TableConfig, col: str):
        """SecondaryIndex for `col` when declared (`index.secondary`
        prop, set by `create_index`); None otherwise."""
        from hudi_demo_spark.engine import secondary_index as si

        if col not in si.indexed_columns(cfg):
            return None
        return si.SecondaryIndex(self.spark, cfg, col)

    def _drop_tombstones(self, df: DataFrame) -> DataFrame:
        """`df` without its tombstones: rows carrying `_hoodie_is_deleted
        = true` evict their key, so no read, candidate snapshot, rewrite
        or index append keeps them. The marker column stays."""
        if DELETED_META in df.columns:
            df = df.filter(~F.coalesce(F.col(DELETED_META), F.lit(False)))
        return df

    def _secondary_append(
        self, cfg: TableConfig, stamped: DataFrame, rows: int
    ) -> None:
        from hudi_demo_spark.engine import secondary_index as si

        stamped = self._drop_tombstones(stamped)
        for col in si.indexed_columns(cfg):
            if col not in stamped.columns:
                continue  # e.g. key-only delete batches: nothing to add
            idx = si.SecondaryIndex(self.spark, cfg, col)
            if not idx.usable():
                idx.build(self.read(cfg).select(col, PARTITION_PATH_META))
            else:
                idx.append(stamped, small=0 <= rows <= self._summary_bound(cfg))

    def _secondary_append_updated(
        self, cfg: TableConfig, batch: DataFrame, set_cols, rows: int
    ) -> None:
        """After an in-place rewrite (UPDATE / MERGE with explicit SET
        maps), append the REWRITTEN rows' (value, partition) pairs for
        any secondary-indexed column the assignment touched.
        `_index_append(src)` only sees source-row values; without this
        the index would lack the newly-assigned values and point-reads
        / index-routed DML on them would prune every partition away —
        silent lost reads and lost rows (the index's no-false-negatives
        invariant)."""
        from hudi_demo_spark.engine import secondary_index as si

        touched = [c for c in si.indexed_columns(cfg) if c in set_cols]
        if not touched:
            return
        self._secondary_append(
            cfg, batch.select(*touched, PARTITION_PATH_META), rows
        )

    def _secondary_truncate(self, cfg: TableConfig) -> None:
        from hudi_demo_spark.engine import secondary_index as si

        for col in si.indexed_columns(cfg):
            si.SecondaryIndex(self.spark, cfg, col).truncate()

    def create_index(self, table: str | TableConfig, col: str) -> None:
        """Hudi 1.0 ``CREATE INDEX ... USING secondary_index(col)``:
        declare + build a value→partition index on a non-key data
        column, maintained on every subsequent write and used by
        `read(point_filter=...)` to prune the scan."""
        from hudi_demo_spark.engine import secondary_index as si

        cfg = self._resolve(table)
        if col in (cfg.record_key_fields or []):
            raise ValueError(
                f"{col} is a record-key field; use the record-level "
                "index (index.record_level) for key lookups"
            )
        cols = si.indexed_columns(cfg)
        if col not in cols:
            cfg.props[si.PROP] = ",".join(cols + [col])
            cfg.save()
        idx = si.SecondaryIndex(self.spark, cfg, col)
        snap = self.read(cfg)
        if col not in snap.columns:
            raise ValueError(f"no such column: {col}")
        idx.build(snap.select(col, PARTITION_PATH_META))

    _LIT = r"(?:'([^'\\]*)'|(-?\d+))"
    _EQ_COND = re.compile(rf"^`?(\w+)`?\s*=\s*{_LIT}$")
    _IN_COND = re.compile(r"^`?(\w+)`?\s+in\s*\(([^()]*)\)$", re.I)
    _BETWEEN_COND = re.compile(
        rf"^`?(\w+)`?\s+between\s+{_LIT}\s+and\s+{_LIT}$", re.I
    )
    _BOUND_COND = re.compile(rf"^`?(\w+)`?\s*(>=|<=)\s*{_LIT}$")
    _TOKEN = re.compile(
        r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`[^`]*`|[()\[\]]|\w+", re.S
    )

    @classmethod
    def _routable_conjuncts(cls, condition) -> list[str]:
        """Top-level AND-conjuncts of `condition`: the full condition
        implies each one, so pruning by any parsed conjunct keeps a
        superset of the matches, and unparsed ones are simply skipped.
        Returns [] when routing is unsafe: a TOP-LEVEL OR binds looser
        than AND, so a conjunct-based prune would drop the other
        disjunct's rows (lost DML). Quoted literals and identifiers
        (backslash escapes included) are single tokens here, and
        parenthesised groups and CASE ... END nest, so neither OR
        detection nor the split ever lands inside them; the AND of a
        `BETWEEN lo AND hi` is not a split point. Unbalanced nesting
        (say, a bare column named `end`) also returns []."""
        if not isinstance(condition, str):
            return []
        parts, start, depth, between = [], 0, 0, False
        for m in cls._TOKEN.finditer(condition):
            tok = m.group().lower()
            if tok in ("(", "[", "case"):
                depth += 1
            elif tok in (")", "]", "end"):
                depth -= 1
                if depth < 0:
                    return []
            elif depth:
                continue
            elif tok == "or":
                return []
            elif tok == "between":
                between = True
            elif tok == "and" and between:
                between = False
            elif tok == "and":
                parts.append(condition[start:m.start()].strip())
                start = m.end()
        return [] if depth else parts + [condition[start:].strip()]

    def _where_probes(self, cfg: TableConfig, where) -> list[tuple]:
        """The one where-router: the typed pruning probes a `where`
        string implies, for `read`'s prune pass.

        - ``("part", col, vals)``: ``col = lit`` / ``col IN (lits)`` on a
          partition column, a partition-segment probe;
        - ``("point", col, vals)``: the same shapes on any other column;
          the pass decides between secondary index and col stats. On the
          single record-key field the same values also probe
          ``_hoodie_record_key`` as strings (`_key_probe`): the gate below
          admits exactly the literals whose `str` is the key's
          cast-to-string form (`keys.record_key_col`);
        - ``("range", col, lo, hi)``: ``col BETWEEN lo AND hi``, or a
          ``col >= lo`` and a ``col <= hi`` conjunct on one column.

        Every probe is implied by the full condition (see
        `_routable_conjuncts`); the caller still applies it as the row
        filter. Literal typing is conservative because partition paths
        and the secondary index store Spark's cast-to-string form:
        quoted literals match only string columns and bare integers
        only integral columns, normalised with int() ('007' is stored
        as '7'). A coerced literal ('05' against an int column) could
        stringify differently and prune matching files: lost rows. So
        anything else (floats, expressions) yields no probe, and an
        empty-string or 'default' partition value neither, since both
        are stored under the 'default' sentinel with NULL rows."""
        from hudi_demo_spark.engine.keys import DEFAULT_PARTITION

        conjuncts = self._routable_conjuncts(where)
        schema = self._stored_schema(cfg) if conjuncts else None
        if schema is None:
            return []
        types = {f.name: f.dataType for f in schema.fields}

        def lit(col, quoted, num):
            dt = types.get(col)
            if quoted is not None:
                return quoted if isinstance(dt, T.StringType) else None
            if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
                return int(num)
            return None

        probes, lows, highs = [], {}, {}
        for c in conjuncts:
            if m := self._BETWEEN_COND.match(c):
                lo, hi = lit(m[1], m[2], m[3]), lit(m[1], m[4], m[5])
                if lo is not None and hi is not None:
                    probes.append(("range", m[1], lo, hi))
                continue
            if m := self._BOUND_COND.match(c):
                v = lit(m[1], m[3], m[4])
                if v is not None:
                    (lows if m[2] == ">=" else highs)[m[1]] = v
                continue
            if m := self._EQ_COND.match(c):
                vals = [lit(m[1], m[2], m[3])]
            elif m := self._IN_COND.match(c):
                lits = [re.fullmatch(self._LIT, v.strip()) for v in m[2].split(",")]
                vals = [lit(m[1], *x.groups()) if x else None for x in lits]
            else:
                continue
            if None in vals:
                continue
            if cfg.record_key_fields == [m[1]]:
                probes.append(("point", RECORD_KEY_META, [str(v) for v in vals]))
            if m[1] not in cfg.partition_fields:
                probes.append(("point", m[1], vals))
            elif not {"", DEFAULT_PARTITION} & set(vals):
                probes.append(("part", m[1], vals))
        return probes + [("range", c, lows[c], highs[c]) for c in lows if c in highs]

    def create_functional_index(
        self, table: str | TableConfig, name: str, expr: str
    ) -> None:
        """Hudi 1.0 ``CREATE INDEX ... USING functional_index(expr)``:
        per-base-file [min, max] of an arbitrary expression, maintained
        on every base write and used by `read(func_filter=...)` to skip
        files whose range cannot match."""
        from hudi_demo_spark.engine import functional_index as fi

        cfg = self._resolve(table)
        F.expr(expr)  # fail fast on unparseable expressions
        cfg.props[fi.PROP_PREFIX + name] = expr
        cfg.save()
        idx = fi.FunctionalIndex(self.spark, cfg, name, expr)
        tl = Timeline(cfg.path)
        base = [
            p
            for p, m in tl.live_files().items()
            # deltas carry no entries by design (MOR-merge safety);
            # external bootstrap files live outside data/ — left
            # un-indexed, so they are never skipped
            if m.get("kind") not in ("delta", "external")
        ]
        idx.build(base, new_instant())

    def _functional_index(self, cfg: TableConfig, name: str):
        from hudi_demo_spark.engine import functional_index as fi

        expr = fi.indexed_exprs(cfg).get(name)
        if expr is None:
            return None
        return fi.FunctionalIndex(self.spark, cfg, name, expr)

    def drop_index(self, table: str | TableConfig, col: str) -> bool:
        from hudi_demo_spark.engine import functional_index as fi
        from hudi_demo_spark.engine import secondary_index as si

        cfg = self._resolve(table)
        if fi.PROP_PREFIX + col in cfg.props:
            fi.FunctionalIndex(
                self.spark, cfg, col, cfg.props[fi.PROP_PREFIX + col]
            ).truncate()
            del cfg.props[fi.PROP_PREFIX + col]
            cfg.save()
            return True
        cols = si.indexed_columns(cfg)
        if col not in cols:
            return False
        si.SecondaryIndex(self.spark, cfg, col).truncate()
        cfg.props[si.PROP] = ",".join(c for c in cols if c != col)
        cfg.save()
        return True

    def show_indexes(self, table: str | TableConfig) -> DataFrame:
        from hudi_demo_spark.engine import functional_index as fi
        from hudi_demo_spark.engine import secondary_index as si

        cfg = self._resolve(table)
        rows = [
            (col, "secondary_index",
             si.SecondaryIndex(self.spark, cfg, col).usable())
            for col in si.indexed_columns(cfg)
        ] + [
            (f"{name} ({expr})", "functional_index",
             fi.FunctionalIndex(self.spark, cfg, name, expr).usable())
            for name, expr in sorted(fi.indexed_exprs(cfg).items())
        ]
        return _rows_df(self.spark, 
            rows, "column string, index_type string, usable boolean"
        )

    def rebuild_record_index(self, table: str | TableConfig) -> bool:
        """Rebuild the record index from the current snapshot (also
        drops stale pairs accumulated by deletes/moves). Returns False
        when the table doesn't use the record index."""
        cfg = self._resolve(table)
        idx = self._record_index(cfg)
        if idx is None:
            return False
        idx.build(self.read(cfg).select(RECORD_KEY_META, PARTITION_PATH_META))
        return True

    def _merge_key_cols(self, cfg: TableConfig) -> list[str]:
        """Key-identity columns for payload merges: (partition, key) for
        the default partition-scoped index, key alone under the global
        index. Partition-scoped is the scale default — the merge shuffle
        then co-partitions with the table layout."""
        if self._is_global(cfg):
            return [RECORD_KEY_META]
        return [PARTITION_PATH_META, RECORD_KEY_META]

    def _order_cols(self, cfg: TableConfig) -> list[Column]:
        """Merge ordering per payload (JavaClientHive2Hudi.java:145-148)."""
        commit_desc = F.col(COMMIT_TIME_META).desc()
        if cfg.precombine_field and cfg.precombine_field != COMMIT_TIME_META:
            pc_desc = F.col(cfg.precombine_field).desc_nulls_last()
            if cfg.payload in (PAYLOAD_DEFAULT, PAYLOAD_PARTIAL):
                return [pc_desc, commit_desc]
            return [commit_desc, pc_desc]
        return [commit_desc]

    def _merge_view(self, df: DataFrame, cfg: TableConfig) -> DataFrame:
        """MOR read-time merge: latest version per key (one shuffle).

        PARTIAL payload (PartialUpdateAvroPayload analog): the winning
        row's null data columns are filled from older versions — per
        column, the newest non-null value in merge order. Same single
        window shuffle: `first(col, ignorenulls)` over an unbounded frame
        shares the partitioning/ordering of the row_number, so Catalyst
        plans ONE Window operator.

        Caveat (same as Hudi's): partial-update results are well-defined
        when ordering values are NON-DECREASING per key (the CDC shape,
        property-tested for COW and MOR). With out-of-order orderings
        the merged value is inherently fold-order dependent — COW folds
        per commit (an absorbed column rides the winner's rank), while
        an uncompacted MOR merge sees the flat history.

        Delete-era fencing: a DELETE tombstone ends the key's history
        (Hudi log semantics — delete blocks apply in log order), so
        versions written AFTER the latest tombstone's commit compete
        only among themselves and always beat the tombstone, EVEN with
        a lower preCombine value (the tombstone copies the dead row's
        ordering value; without the fence a delete-then-reinsert with
        a lower ts would stay deleted on MOR while COW — which
        physically removed the row — resurrects it; snapshot semantics
        must not depend on table type). Versions from before the
        tombstone are discarded so they can neither win nor leak into
        partial-update fills."""
        keys = self._merge_key_cols(cfg)
        order = self._order_cols(cfg)
        drop_cols = ["__rn"]
        if DELETED_META in df.columns:
            is_del = F.coalesce(F.col(DELETED_META), F.lit(False))
            era = F.max(
                F.when(is_del, F.col(COMMIT_TIME_META))
            ).over(Window.partitionBy(*keys))
            df = (
                df.withColumn("__era", era)
                .filter(
                    F.col("__era").isNull()
                    | (F.col(COMMIT_TIME_META) >= F.col("__era"))
                )
                .withColumn(
                    "__post",
                    F.when(
                        F.col("__era").isNull()
                        | (F.col(COMMIT_TIME_META) > F.col("__era")),
                        F.lit(1),
                    ).otherwise(F.lit(0)),
                )
            )
            order = [F.col("__post").desc()] + list(order)
            drop_cols += ["__era", "__post"]
        w = Window.partitionBy(*keys).orderBy(*order)
        if cfg.payload == PAYLOAD_PARTIAL:
            wf = w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            skip = set(META_COLS) | {DELETED_META, "__era", "__post"}
            # a tombstone's data columns are the DEAD row's values —
            # they must not fill a re-inserted row's nulls
            masked = (
                (lambda c: F.when(
                    F.coalesce(F.col(DELETED_META), F.lit(False)),
                    F.lit(None),
                ).otherwise(F.col(c)))
                if DELETED_META in df.columns
                else (lambda c: F.col(c))
            )
            sel = [
                F.first(masked(c), ignorenulls=True).over(wf).alias(c)
                if c not in skip
                else F.col(c)
                for c in df.columns
            ]
            return (
                df.select(*sel, F.row_number().over(w).alias("__rn"))
                .filter(F.col("__rn") == 1)
                .drop(*drop_cols)
            )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop(*drop_cols)
        )

    def show_fsview(self, table: str | TableConfig) -> DataFrame:
        """Hudi `show_fsview_all` procedure analog: the LIVE file set as
        a DataFrame — (partition, file, kind, commit, bytes, key_min,
        key_max). Metadata-only (timeline replay, no fs listing)."""
        cfg = self._resolve(table)
        rows = [
            (
                m.get("partition", ""),
                p,
                m.get("kind", "base"),
                m.get("commit", ""),
                int(m.get("bytes") or 0),
                m.get("key_min"),
                m.get("key_max"),
            )
            for p, m in sorted(Timeline(cfg.path).live_files().items())
        ]
        schema = T.StructType(
            [
                T.StructField("partition", T.StringType()),
                T.StructField("file", T.StringType()),
                T.StructField("kind", T.StringType()),
                T.StructField("commit_time", T.StringType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("key_min", T.StringType()),
                T.StructField("key_max", T.StringType()),
            ]
        )
        return _rows_df(self.spark, rows, schema)

    def show_blooms(self, table: str | TableConfig) -> DataFrame:
        """Hudi `show_bloom_filters` analog: one row per live base file
        that carries a bloom sidecar — (partition, file, m_bits,
        k_hashes, n_keys, sidecar_bytes). Driver-side header reads only
        (the bitmap itself is not loaded)."""
        import json as _json

        from hudi_demo_spark.engine import bloom as B

        cfg = self._resolve(table)
        rows = []
        for p, m in sorted(Timeline(cfg.path).live_files().items()):
            if not m.get("bloom"):
                continue
            side = B.sidecar_path(cfg.path, p)
            try:
                with open(side, "rb") as fh:
                    hdr = _json.loads(fh.readline())
                rows.append(
                    (
                        m.get("partition", ""),
                        p,
                        int(hdr["m"]),
                        int(hdr["k"]),
                        int(hdr["n"]),
                        side.stat().st_size,
                    )
                )
            except Exception:
                continue
        schema = T.StructType(
            [
                T.StructField("partition", T.StringType()),
                T.StructField("file", T.StringType()),
                T.StructField("m_bits", T.LongType()),
                T.StructField("k_hashes", T.IntegerType()),
                T.StructField("n_keys", T.LongType()),
                T.StructField("sidecar_bytes", T.LongType()),
            ]
        )
        return _rows_df(self.spark, rows, schema)

    def show_inflight(self, table: str | TableConfig) -> DataFrame:
        """Writes announced (marker present) but not yet committed —
        (instant, operation, age_s). An old entry here is either a slow
        bulk writer or a dead one clean() will reclaim."""
        cfg = self._resolve(table)
        rows = [
            (m["instant"], m.get("operation", ""), float(m["age_s"]))
            for m in Timeline(cfg.path).inflight()
        ]
        schema = T.StructType(
            [
                T.StructField("instant", T.StringType()),
                T.StructField("operation", T.StringType()),
                T.StructField("age_s", T.DoubleType()),
            ]
        )
        return _rows_df(self.spark, rows, schema)

    def validate(self, table: str | TableConfig) -> DataFrame:
        """Consistency checker (the `hudi-cli` table-validation analog):
        metadata-level invariants as a (check, status, detail) report —
        every live file present on disk with its committed size, bloom
        sidecars present where flagged, timeline instants unique and
        monotonic, catalog schema (and every schema-history epoch)
        parseable. Driver-side metadata only; no data scan."""
        cfg = self._resolve(table)
        tl = Timeline(cfg.path)
        data = Path(cfg.path) / DATA_DIR
        checks: list[tuple[str, str, str]] = []

        def add(name: str, problems: list[str]) -> None:
            checks.append(
                (name, "FAIL" if problems else "OK",
                 "; ".join(problems[:5]))
            )

        live = tl.live_files()
        missing, sized = [], []
        for p, m in live.items():
            if m.get("kind") == "external":
                continue
            f = data / p
            if not f.is_file():
                missing.append(p)
            elif m.get("bytes") and f.stat().st_size != m["bytes"]:
                sized.append(p)
        add("live_files_exist", missing)
        add("live_file_sizes_match_commit", sized)

        from hudi_demo_spark.engine import bloom as B

        add(
            "bloom_sidecars_present",
            [
                p
                for p, m in live.items()
                if m.get("bloom")
                and not B.sidecar_path(cfg.path, p).is_file()
            ],
        )
        ins = tl.instants(include_archived=True)
        seen: set[str] = set()
        dup = [m["instant"] for m in ins if m["instant"] in seen
               or seen.add(m["instant"])]
        add("instants_unique", dup)
        from hudi_demo_spark.engine import functional_index as fi
        from hudi_demo_spark.engine import secondary_index as si

        add(
            "secondary_indexes_complete",
            [
                col
                for col in si.indexed_columns(cfg)
                if not si.SecondaryIndex(self.spark, cfg, col).usable()
            ],
        )
        fidx_problems = []
        live_base = [
            p for p, m in live.items()
            if m.get("kind") not in ("delta", "external")
        ]
        for name, expr in fi.indexed_exprs(cfg).items():
            idx = fi.FunctionalIndex(self.spark, cfg, name, expr)
            if not idx.usable():
                fidx_problems.append(f"{name}: not built")
                continue
            rng = idx.ranges()
            uncovered = [p for p in live_base if p not in rng]
            if uncovered:
                # un-indexed files are never skipped (correct, but the
                # index is doing less than it could) — surface it
                fidx_problems.append(
                    f"{name}: {len(uncovered)} live base files unindexed"
                )
        add("functional_indexes_cover_base_files", fidx_problems)
        bad_schema = []
        try:
            if cfg.schema_json:
                T.StructType.fromJson(json.loads(cfg.schema_json))
            for i, h in enumerate(cfg.schema_history or []):
                T.StructType.fromJson(json.loads(h["schema"]))
                if "until" not in h:
                    bad_schema.append(f"epoch {i}: no boundary instant")
        except Exception as ex:
            bad_schema.append(str(ex))
        add("schemas_parse", bad_schema)
        schema = T.StructType(
            [
                T.StructField("check", T.StringType()),
                T.StructField("status", T.StringType()),
                T.StructField("detail", T.StringType()),
            ]
        )
        return _rows_df(self.spark, checks, schema)

    def file_metadata(self, table: str | TableConfig) -> DataFrame:
        """The metadata table as a QUERYABLE DataFrame (the Hudi
        `hudi_table_changes`-style files view): one row per LIVE file —
        path, commit, kind, partition, bytes, key range, bloom flag.
        When an archive checkpoint exists, its parquet is read by SPARK
        (distributed columnar scan) and only the bounded post-checkpoint
        JSON tail is replayed driver-side — at 1M files the heavy part
        never materializes as Python objects."""
        cfg = self._resolve(table)
        tl = Timeline(cfg.path)
        cols = ["path", "commit", "kind", "partition", "bytes",
                "key_min", "key_max", "bloom"]
        schema = T.StructType(
            [T.StructField(c, T.LongType() if c == "bytes"
                           else (T.BooleanType() if c == "bloom"
                                 else T.StringType()))
             for c in cols]
        )
        cps = tl.checkpoint_parquets()
        if cps:
            cp_as_of = cps[-1].stem
            base = self.spark.read.parquet(str(cps[-1])).select(
                "path", "commit", "kind", "partition",
                F.col("bytes").cast("long"),
                "key_min", "key_max", F.col("bloom").cast("boolean"),
            )
            # replay only the post-checkpoint tail driver-side
            tail: dict[str, dict] = {}
            removed: set[str] = set()
            wiped = False
            for m in tl.instants():
                if m["instant"] <= cp_as_of:
                    continue
                if m["files_removed"] == "*":
                    wiped, tail, removed = True, {}, set()
                else:
                    for rp in m["files_removed"]:
                        tail.pop(rp, None)
                        removed.add(rp)
                for f in m["files_added"]:
                    tail[f["path"]] = {**f, "commit": m["instant"]}
            if wiped:
                base = base.limit(0)
            elif removed or tail:
                # re-added paths supersede their checkpoint row; a bulk
                # tail can hold thousands of paths, so anti-join against
                # a (broadcast) frame instead of an N-literal isin plan
                gone = sorted(removed | set(tail))
                gone_df = _rows_df(self.spark, 
                    [(p,) for p in gone], "path string"
                )
                base = base.join(F.broadcast(gone_df), "path", "left_anti")
            live_tail = tail
        else:
            base = _rows_df(self.spark, [], schema)
            live_tail = tl.live_files()
        def _row(p: str, m: dict) -> tuple:
            return (
                p,
                m.get("commit"),
                m.get("kind"),
                m.get("partition"),
                int(m["bytes"]) if m.get("bytes") is not None else None,
                None if m.get("key_min") is None else str(m["key_min"]),
                None if m.get("key_max") is None else str(m["key_max"]),
                bool(m.get("bloom")),
            )

        rows = [_row(p, m) for p, m in live_tail.items()]
        return base.unionByName(
            _rows_df(self.spark, rows, schema)
        ).orderBy("path")

    def show_commits(self, table: str | TableConfig) -> DataFrame:
        """`call show_commits(table => ...)` (R23) —
        IncrementalQuery.scala:36-37; newest-first like the reference."""
        cfg = self._resolve(table)
        rows = []
        for m in Timeline(cfg.path).instants(include_archived=True):
            removed = m["files_removed"]
            # commits that record no row count (metadata-only actions,
            # the sessionless writers' None) show -1
            written = m.get("stats", {}).get("rows_written")
            rows.append(
                (
                    m["instant"],
                    m["action"],
                    m["operation"],
                    -1 if written is None else int(written),
                    len(m["files_added"]),
                    -1 if removed == "*" else len(removed),
                )
            )
        schema = T.StructType(
            [
                T.StructField("commit_time", T.StringType()),
                T.StructField("action", T.StringType()),
                T.StructField("operation", T.StringType()),
                T.StructField("total_records", T.LongType()),
                T.StructField("files_added", T.IntegerType()),
                T.StructField("files_removed", T.IntegerType()),
            ]
        )
        return _rows_df(self.spark, rows, schema).orderBy(
            F.col("commit_time").desc()
        )

    def _cleaned_gate(
        self, cfg: TableConfig, files: dict[str, dict], allow_cleaned: bool,
        what: str,
    ) -> dict[str, dict]:
        """The cleaned-file gate of the incremental reads (`read_incremental`,
        `read_cdc`, `changed_keys`): `files` minus those `clean()` already
        deleted. A gone file makes the read silently incomplete, so it
        raises `IncrementalRangeCleanedError` (`what` names the read and
        its range) unless `allow_cleaned`; the skip count accumulates in
        `self.last_incremental_stats["cleaned_files_skipped"]`."""
        data = Path(cfg.path) / DATA_DIR
        gone = {
            p
            for p, m in files.items()
            if m.get("kind") != "external" and not (data / p).is_file()
        }
        if gone and not allow_cleaned:
            raise IncrementalRangeCleanedError(
                f"{what} needs {len(gone)} file(s) already removed by "
                f"clean() — the result would be incomplete (first gone: "
                f"{min(gone)}). Widen the clean retention or pass "
                "allow_cleaned=True to accept a partial result."
            )
        self.last_incremental_stats["cleaned_files_skipped"] += len(gone)
        return {p: m for p, m in files.items() if p not in gone}

    def _incr_window(
        self, cfg: TableConfig, begin: str | None, end: str | None,
        allow_cleaned: bool = False, path_glob: str | None = None,
    ) -> tuple[list[dict], dict[str, dict], bool]:
        """An incremental window's file selection, shared by
        `read_incremental` and the driver route of the index folds: the
        data instants in `(begin, end]`, the files they added (matching
        `path_glob`) past `_cleaned_gate`, and whether the window is
        insert-shaped. Only an insert-shaped window skips the key-dedup
        merge: a pure-insert range cannot hold two versions of a key
        (and Hudi's INSERT op deliberately keeps duplicate keys).
        Replacecommits are excluded: an insert_overwrite in range can
        shadow a key written by an earlier in-range commit, so the range
        is not duplicate-free even though each commit is insert-shaped."""
        import fnmatch

        sel = [
            m
            for m in Timeline(cfg.path).instants(include_archived=True)
            if m["action"]
            in (tlmod.COMMIT, tlmod.DELTACOMMIT, tlmod.REPLACECOMMIT)
            and (begin is None or m["instant"] > begin)
            and (end is None or m["instant"] <= end)
        ]
        files: dict[str, dict] = {}
        for m in sel:
            for f in m["files_added"]:
                files[f["path"]] = {**f, "commit": m["instant"]}
        if path_glob:
            g = path_glob if path_glob.startswith("/") else "/" + path_glob
            files = {
                p: m for p, m in files.items() if fnmatch.fnmatch("/" + p, g)
            }
        self.last_incremental_stats = {"cleaned_files_skipped": 0}
        kept = self._cleaned_gate(
            cfg, files, allow_cleaned, f"incremental range ({begin}, {end}]"
        )
        insert_only = all(
            m["operation"] in ("insert", "bootstrap")
            and m["action"] != tlmod.REPLACECOMMIT
            for m in sel
        )
        return sel, kept, insert_only

    def read_incremental(
        self,
        table: str | TableConfig,
        begin: str | None = None,
        end: str | None = None,
        path_glob: str | None = None,
        allow_cleaned: bool = False,
        fallback_full_scan: bool = False,
    ) -> DataFrame:
        """Incremental query (S3/S4) — IncrementalQuery.scala:48-53:
        latest state of rows changed in `(begin, end]`. File set comes from
        the commits in range (metadata pruning); the row-level
        `_hoodie_commit_time` filter makes the bound exact; a window dedup
        returns one row per changed key (Hudi's latest-file-slice read).

        If `clean()` already deleted in-range files, the changeset would
        be silently incomplete — raise `IncrementalRangeCleanedError`
        (Hudi throws here too) unless `allow_cleaned=True`, which skips
        the gone files and records the skip count in
        `self.last_incremental_stats["cleaned_files_skipped"]`, or
        `fallback_full_scan=True` (Hudi's
        `read.incr.fallback.fulltablescan.enable`), which answers from
        the CURRENT snapshot filtered by `_hoodie_commit_time` in range
        — complete for every row still live (a row whose change was
        cleaned AND later overwritten reports its surviving version),
        at full-scan cost instead of commit-pruned IO."""
        cfg = self._resolve(table)
        _, kept, insert_only = self._incr_window(
            cfg, begin, end, allow_cleaned or fallback_full_scan, path_glob
        )
        skipped = self.last_incremental_stats["cleaned_files_skipped"]
        if fallback_full_scan and skipped:
            if path_glob:
                raise ValueError(
                    "path_glob is not supported with fallback_full_scan "
                    "(the fallback reads the whole snapshot)"
                )
            # Hudi's fulltablescan fallback: the snapshot always holds
            # every LIVE row, so filtering it on commit time recovers
            # the changeset without the cleaned files
            self.last_incremental_stats["full_scan_fallback"] = True
            snap = self.read(cfg)
            if begin is not None:
                snap = snap.filter(F.col(COMMIT_TIME_META) > begin)
            if end is not None:
                snap = snap.filter(F.col(COMMIT_TIME_META) <= end)
            return snap
        df = self._read_files(cfg, kept)
        if COMMIT_TIME_META in df.columns:
            if begin is not None:
                df = df.filter(F.col(COMMIT_TIME_META) > begin)
            if end is not None:
                df = df.filter(F.col(COMMIT_TIME_META) <= end)
        if not insert_only:
            df = self._merge_view(df, cfg)
        df = self._drop_tombstones(df)
        return df.drop(DELETED_META) if DELETED_META in df.columns else df

    def read_cdc(
        self,
        table: str | TableConfig,
        begin: str | None = None,
        end: str | None = None,
        images: str = "after",
        allow_cleaned: bool = False,
    ) -> DataFrame:
        """Change-data-capture read: per-key row changes in `(begin, end]`
        (end defaults to the latest instant) — the engine analog of Hudi's
        incremental CDC query (`hoodie.datasource.query.incremental
        .format=cdc`), re-expressed as a snapshot diff. Output: the data
        columns (after-image; before-image for deletes) plus
        `_change_type` ∈ {insert, update, delete} — or, with
        `images="both"`, Hudi's cdc-file shape: (record key,
        _change_type, before struct, after struct) with a null struct on
        the absent side. Requires a record key (CDC needs row identity).

        Scale: for COW tables every live key lives in exactly one base
        file, so files present in BOTH snapshots cannot hold changed rows
        — only the file-set DIFFERENCE is scanned (the two sides of the
        diff join are the rewritten file groups, not the table). MOR
        falls back to two merged snapshot reads. If `clean()` already
        deleted files either snapshot needs, the diff would silently
        miss changes (e.g. deletes whose before-image is gone) — raise
        `IncrementalRangeCleanedError` like `read_incremental`, unless
        `allow_cleaned=True` accepts the partial diff.
        """
        cfg = self._resolve(table)
        if not cfg.record_key_fields:
            raise ValueError("read_cdc requires a table with a record key")
        tl = Timeline(cfg.path)
        end = end or tl.last_instant()
        # both snapshot sides accumulate into the counter
        self.last_incremental_stats = {"cleaned_files_skipped": 0}

        def _on_disk(files: dict[str, dict]) -> dict[str, dict]:
            return self._cleaned_gate(
                cfg, files, allow_cleaned, f"CDC range ({begin}, {end}]"
            )

        if cfg.table_type == COW:
            b_files = _on_disk(tl.live_files(as_of=begin)) if begin else {}
            a_files = _on_disk(tl.live_files(as_of=end))
            common = set(b_files) & set(a_files)
            before = self._read_files(
                cfg, {p: m for p, m in b_files.items() if p not in common}
            )
            after = self._read_files(
                cfg, {p: m for p, m in a_files.items() if p not in common}
            )
        else:
            before = self.read(cfg, as_of=begin) if begin else self._empty(cfg)
            after = self.read(cfg, as_of=end)
        # a side with no exclusive files reads as a schema-less empty
        # frame when the table has no stored schema (meta columns only);
        # conform it to the other side so the data-column projection
        # below stays resolvable — e.g. begin=None (before side is
        # nothing) or an insert-only window (no before-only files)
        meta = set(META_COLS) | {DELETED_META}
        if not (set(before.columns) - meta) and (set(after.columns) - meta):
            before = after.limit(0)
        elif not (set(after.columns) - meta) and (set(before.columns) - meta):
            after = before.limit(0)
        before = self._drop_tombstones(before)
        after = self._drop_tombstones(after)
        data_cols = [c for c in after.columns if c not in meta]
        b = before.select(
            F.col(RECORD_KEY_META), F.struct(*data_cols).alias("__before")
        )
        a = after.select(
            F.col(RECORD_KEY_META), F.struct(*data_cols).alias("__after")
        )
        j = b.join(a, RECORD_KEY_META, "full_outer")
        change = (
            F.when(F.col("__before").isNull(), F.lit("insert"))
            .when(F.col("__after").isNull(), F.lit("delete"))
            .when(
                ~F.col("__before").eqNullSafe(F.col("__after")), F.lit("update")
            )
        )
        out = j.withColumn("_change_type", change).filter(
            F.col("_change_type").isNotNull()
        )
        if images == "both":
            # Hudi cdc-format parity (op + before + after): full images
            # as struct columns, null struct on the absent side
            return out.select(
                RECORD_KEY_META,
                "_change_type",
                F.col("__before").alias("before"),
                F.col("__after").alias("after"),
            )
        return (
            out.withColumn("__img", F.coalesce("__after", "__before"))
            .select(RECORD_KEY_META, "_change_type", "__img.*")
        )

    def changed_keys(
        self,
        table: str | TableConfig,
        begin: str | None = None,
        end: str | None = None,
        allow_cleaned: bool = False,
        key_columns: bool = False,
    ) -> DataFrame:
        """Distinct `_hoodie_record_key` values whose stored row was
        added, rewritten, or removed in `(begin, end]` — the key set
        every incremental derived-table refresh consumes (minhash /
        vector index, filter views, rollups all re-derive exactly these
        ids). Equivalent to
        ``read_cdc(...).select(_hoodie_record_key).distinct()`` except
        that a rewrite to a bit-identical value (an upsert whose winner
        is the re-stamped batch row) is also included — idempotent for
        every refresh consumer, which re-derives the same rows.

        Scale: `read_cdc` must build full before/after row images and
        full-outer-join them to CLASSIFY each change; the key set needs
        none of that. Carried-over rows in rewritten COW file groups
        keep their original `_hoodie_commit_time`, so the touched keys
        are just the after-diff rows stamped inside the window, plus
        the before-diff keys that vanished (deletes) — two scans that
        parquet-prune to the (key, commit_time) columns of the DIFF
        file groups, never the data columns, and one anti-join on keys.
        Same cleaned-file contract as `read_cdc`
        (`IncrementalRangeCleanedError` / `allow_cleaned`).

        ``key_columns=True`` returns the table's record-key COLUMN(S)
        — typed and decomposed — instead of the composed
        `_hoodie_record_key` string. This is what derived-view
        maintenance joins back on: composite keys come out as separate
        columns (no string parsing), and every key dtype round-trips
        exactly (no string cast — a lossy binary/decimal round-trip
        under the string mode would NULL out and silently drop changed
        ids). The scan widens from (composed key, commit_time) to
        (key columns, commit_time); it still never reads a non-key
        data column."""
        cfg = self._resolve(table)
        if not cfg.record_key_fields:
            raise ValueError("changed_keys requires a table with a record key")
        tl = Timeline(cfg.path)
        end = end or tl.last_instant()
        self.last_incremental_stats = {"cleaned_files_skipped": 0}

        def _on_disk(files: dict[str, dict]) -> dict[str, dict]:
            return self._cleaned_gate(
                cfg, files, allow_cleaned,
                f"changed_keys range ({begin}, {end}]",
            )

        if cfg.table_type == COW:
            b_files = _on_disk(tl.live_files(as_of=begin)) if begin else {}
            a_files = _on_disk(tl.live_files(as_of=end))
            common = set(b_files) & set(a_files)
            before = (
                self._read_files(
                    cfg, {p: m for p, m in b_files.items() if p not in common}
                )
                if b_files
                else None
            )
            after = self._read_files(
                cfg, {p: m for p, m in a_files.items() if p not in common}
            )
        else:
            # MOR merge resolves winners, so stamps are the winner's —
            # both sides still prune to (key, commit_time) post-merge
            before = self.read(cfg, as_of=begin) if begin else None
            after = self.read(cfg, as_of=end)
        after = self._drop_tombstones(after)
        if before is not None:
            before = self._drop_tombstones(before)
        # identity for the diff is always the composed meta key (exact,
        # collision-free); the OUTPUT columns are either that string or
        # the typed key fields carried alongside through the same scan
        out_cols = (
            list(cfg.record_key_fields) if key_columns else [RECORD_KEY_META]
        )
        a_keys = after.select(
            RECORD_KEY_META, *[c for c in out_cols if c != RECORD_KEY_META],
            COMMIT_TIME_META,
        )
        touched = (
            a_keys.filter(F.col(COMMIT_TIME_META) > begin) if begin else a_keys
        ).select(*out_cols)
        if before is not None:
            removed = (
                before.select(
                    RECORD_KEY_META,
                    *[c for c in out_cols if c != RECORD_KEY_META],
                )
                .join(
                    after.select(RECORD_KEY_META), RECORD_KEY_META, "left_anti"
                )
                .select(*out_cols)
            )
            touched = touched.unionByName(removed)
        return touched.distinct()

    # ------------------------------------------------------------------
    # write path  (W1-W14)
    # ------------------------------------------------------------------

    def _commit_write(
        self,
        cfg: TableConfig,
        instant: str,
        operation: str,
        df: DataFrame | None,
        kind: str = "base",
        replaces: dict[str, dict] | str | Callable | None = None,
        *,
        index: DataFrame | None = None,
        index_rows: int | None = None,
        assigned: tuple[DataFrame, Iterable[str]] | None = None,
        batch_id: int | None = None,
        empty_noop: bool = False,
    ) -> dict:
        """The commit protocol of every data write, Hudi's write-client
        commit (HoodieJavaWriteClientExample.java): insert, upsert,
        delete, delete_keys, update, merge, overwrite and
        insert_overwrite each end in one call. In order:

        1. `_materialize` the stamped `df` as `kind` files. `replaces`
           is what the write replaces: nothing (None), the live files it
           rewrites (a {path: meta} dict, whose bytes size the write),
           the whole table ("*"), or a function from the added files to
           the replaced paths (insert_overwrite's written partitions);
        2. `_precommit_validate` the candidate snapshot;
        3. `Timeline.commit`: a replacecommit when the write replaces
           "*" or whole partitions, else a commit for base files and a
           deltacommit for delta files, with `rows_written`;
        4. index maintenance: append the batch `index` (`index_rows`,
           default the rows written, is its row bound and picks the
           secondary-index append shape), rebuilt instead when the write
           replaces "*"; then the values an UPDATE / MERGE map wrote,
           `assigned` = (rows, assigned columns);
        5. the inline table services: compaction, clustering, TTL.

        `df` None, or an `empty_noop` write that added no file, is a
        DML statement that matched nothing: it records a no-op commit
        with `rows_written` 0 and skips steps 2, 4 and 5."""
        tl = Timeline(cfg.path)
        added, written = [], 0
        if df is not None:
            approx = None
            if isinstance(replaces, dict):
                approx = sum(m.get("bytes") or 0 for m in replaces.values())
            added, written = self._materialize(
                df, cfg, instant, kind, approx_bytes=approx
            )
        if df is None or (empty_noop and not added):
            return tl.commit(
                instant, tlmod.COMMIT, operation, [], [], {"rows_written": 0}
            )
        if callable(replaces):
            removed = replaces(added)
        elif isinstance(replaces, dict):
            removed = sorted(replaces)
        else:
            removed = replaces or []
        self._precommit_validate(cfg, instant, added, removed)
        action = (
            tlmod.REPLACECOMMIT if removed == "*" or callable(replaces)
            else tlmod.COMMIT if kind == "base" else tlmod.DELTACOMMIT
        )
        meta = tl.commit(
            instant, action, operation, added, removed,
            {"rows_written": written}, batch_id=batch_id,
        )
        if index is not None:
            self._index_append(
                cfg, index, written if index_rows is None else index_rows,
                rebuild=removed == "*",
            )
        if assigned is not None:
            self._secondary_append_updated(cfg, *assigned, written)
        self._maybe_compact(cfg)
        self._maybe_cluster(cfg)
        self._maybe_ttl(cfg)
        return meta

    def insert(
        self,
        df: DataFrame,
        table: str | TableConfig,
        batch_id: int | None = None,
        operation: str = "insert",
        drop_duplicates: bool | None = None,
    ) -> dict:
        """INSERT (W1/W2/W7): plain append, no key dedup — Hudi's INSERT
        operation (HoodieJavaWriteClientExample.java:93-97).

        `drop_duplicates` (or table prop `insert.drop_duplicates`) is
        Hudi's `hoodie.datasource.write.insert.drop.duplicates`: dedup
        the batch by key and drop rows whose key already exists in the
        table — the existing-key lookup reads only files whose footer
        key range intersects the batch (the M1 index pruning), so the
        anti-join sees a candidate set bounded by the batch's key range,
        not the whole base."""
        cfg = self._resolve(table)
        if drop_duplicates is None:
            drop_duplicates = str(
                cfg.props.get("insert.drop_duplicates", "")
            ).lower() in ("1", "true", "yes")
        instant = new_instant()
        if DELETED_META in df.columns:
            # INSERT cannot delete, on EITHER table type: a deleted
            # payload yields no insert (Hudi payload semantics). COW
            # would otherwise land the row as live data once the
            # conform projection strips the reserved marker; MOR would
            # write it as a delta delete marker — snapshot semantics
            # must not depend on the physical layout, so both skip the
            # row. Route deletions through upsert (tombstones) or
            # delete/delete_keys. (Filtered on the raw input — the
            # marker column is untouched by stamping.)
            df = self._drop_tombstones(df)
        out = self._prepare(df, cfg, instant)
        if drop_duplicates:
            out = self._dedup_batch(out, cfg)
            candidates, _ = self._tag_files(
                cfg, Timeline(cfg.path).live_files(), out
            )
            if candidates:
                on = self._merge_key_cols(cfg)
                existing = self._read_files(cfg, candidates)
                if cfg.table_type == MOR and any(
                    m.get("kind") == "delta" for m in candidates.values()
                ):
                    # respect delete markers: a key whose latest version is
                    # a delete is NOT live and must not block the insert
                    existing = self._merge_view(existing, cfg)
                existing = self._drop_tombstones(existing)
                out = out.join(existing.select(*on), on, "left_anti")
        kind = "base" if cfg.table_type == COW else "delta"
        return self._commit_write(
            cfg, instant, operation, out, kind, index=out, batch_id=batch_id
        )

    def _maybe_ttl(self, cfg: TableConfig) -> None:
        """Inline partition TTL (the Hudi partition-TTL table-service
        shape: `hoodie.partition.ttl.*` run as part of the writer):
        opt-in via `ttl.inline` with `ttl.retain_hours`; after each
        write, partitions whose last data commit is older than the
        retention expire as a metadata-only replacecommit. A no-op
        expiry costs one timeline replay — driver-side metadata, no
        Spark job — so running it per write is free at any table
        size."""
        if not self._truthy(cfg.props.get("ttl.inline")):
            return
        hours = cfg.props.get("ttl.retain_hours")
        if not hours:
            return
        # pre-check so a write with nothing expired never pollutes the
        # timeline with empty replacecommits (a manual run_ttl DOES
        # record one, for auditability)
        parts = self._ttl_expired_partitions(cfg, None, float(hours))
        if parts:
            self.delete_partition(cfg, parts)

    def _maybe_cluster(self, cfg: TableConfig) -> None:
        """Inline clustering (Hudi `hoodie.clustering.inline` +
        `...inline.max.commits`): after N write commits since the last
        clustering, rewrite into `cluster.sort_cols` order — the
        continuous-ingest small-file + locality service. Runs in the
        commit tail of every data write (`_commit_write`), as the
        reference runs its services inside the write. Opt-in via
        `cluster.inline`; strategy from `cluster.strategy`
        (linear|zorder)."""
        if not self._truthy(cfg.props.get("cluster.inline")):
            return
        cols = [
            c.strip()
            for c in str(cfg.props.get("cluster.sort_cols", "")).split(",")
            if c.strip()
        ]
        if not cols:
            return
        n_max = int(cfg.props.get("cluster.inline.max_commits", 4))
        tl = Timeline(cfg.path)
        n = 0
        for m in reversed(tl.instants(include_archived=True)):
            if m["operation"] == "cluster":
                break
            if m["action"] in (tlmod.COMMIT, tlmod.DELTACOMMIT):
                n += 1
        if n >= n_max:
            self.cluster(
                cfg, cols,
                strategy=str(cfg.props.get("cluster.strategy", "linear")),
            )

    def show_partition_stats(self, table: str | TableConfig) -> DataFrame:
        """Operational per-partition summary from commit metadata alone
        (no fs listing, no scan): (partition, n_files, n_delta_files,
        bytes, latest_commit)."""
        cfg = self._resolve(table)
        agg: dict[str, list] = {}
        for m in Timeline(cfg.path).live_files().values():
            pp = m.get("partition", "")
            a = agg.setdefault(pp, [0, 0, 0, ""])
            a[0] += 1
            a[1] += 1 if m.get("kind") == "delta" else 0
            a[2] += int(m.get("bytes") or 0)
            a[3] = max(a[3], m.get("commit", ""))
        rows = [(pp, *vals) for pp, vals in sorted(agg.items())]
        schema = T.StructType(
            [
                T.StructField("partition", T.StringType()),
                T.StructField("n_files", T.IntegerType()),
                T.StructField("n_delta_files", T.IntegerType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("latest_commit", T.StringType()),
            ]
        )
        return _rows_df(self.spark, rows, schema)

    def overwrite(self, df: DataFrame, table: str | TableConfig) -> dict:
        """INSERT OVERWRITE TABLE / mode(Overwrite) (W14) —
        BootstrapDemo.scala:230; Hudi WriteOperationType.INSERT_OVERWRITE_TABLE."""
        cfg = self._resolve(table)
        instant = new_instant()
        out = self._prepare(df, cfg, instant)
        return self._commit_write(
            cfg, instant, "insert_overwrite_table", out, "base", "*", index=out
        )

    def insert_overwrite(self, df: DataFrame, table: str | TableConfig) -> dict:
        """Partition-scoped INSERT OVERWRITE (Hudi
        WriteOperationType.INSERT_OVERWRITE): replace ONLY the partitions
        the batch writes into; every other partition is untouched. The
        replacement is a metadata operation — a replacecommit listing the
        prior live files of the written partitions as removed — so at
        100 TB overwriting one partition of a 10k-partition table costs
        one partition's write, zero rewrites elsewhere. For a
        non-partitioned table this degenerates to `overwrite`."""
        cfg = self._resolve(table)
        if not cfg.partition_fields:
            return self.overwrite(df, table)
        instant = new_instant()
        out = self._prepare(df, cfg, instant)
        live = Timeline(cfg.path).live_files()

        def replaced(added: list[dict]) -> list[str]:
            # partitions actually written (empty input slices are dropped
            # by _materialize, matching Hudi: only partitions receiving
            # data are replaced)
            parts = {f["partition"] for f in added}
            return [
                rp for rp, m in live.items() if m.get("partition", "") in parts
            ]

        return self._commit_write(
            cfg, instant, "insert_overwrite", out, "base", replaced, index=out
        )

    def delete_partition(
        self, table: str | TableConfig, partitions: str | list[str]
    ) -> dict:
        """Hudi WriteOperationType.DELETE_PARTITION: drop whole partitions
        as a replacecommit that lists their live files as removed. Pure
        metadata — zero data files read or written, so dropping one
        partition of a 10k-partition 100 TB table is O(#files-in-
        partition) driver-side JSON, not a scan. The files stay on disk
        for time travel until `clean` reclaims them."""
        cfg = self._resolve(table)
        parts = {partitions} if isinstance(partitions, str) else set(partitions)
        tl = Timeline(cfg.path)
        removed = sorted(
            p
            for p, m in tl.live_files().items()
            if m.get("partition", "") in parts
        )
        instant = new_instant()
        self._precommit_validate(cfg, instant, [], removed)
        return tl.commit(
            instant,
            tlmod.REPLACECOMMIT,
            "delete_partition",
            [],
            removed,
            {"partitions_deleted": sorted(parts), "files_removed": len(removed)},
        )

    def truncate(
        self, table: str | TableConfig, partitions: list[str] | None = None
    ) -> dict:
        """Hudi Spark-SQL ``TRUNCATE TABLE t [PARTITION (k=v, ...)]``:
        empty the table (or the named partitions) as a metadata-only
        replacecommit — schema, key config, and timeline history are
        kept; files stay on disk for time travel until `clean`."""
        cfg = self._resolve(table)
        if partitions:
            return self.delete_partition(cfg, partitions)
        instant = new_instant()
        self._precommit_validate(cfg, instant, [], "*")
        meta = Timeline(cfg.path).commit(
            instant, tlmod.REPLACECOMMIT, "truncate", [], "*", {}
        )
        idx = self._record_index(cfg)
        if idx is not None:
            idx.build(
                self.read(cfg).select(RECORD_KEY_META, PARTITION_PATH_META)
            )
        from hudi_demo_spark.engine import secondary_index as si

        for col in si.indexed_columns(cfg):
            si.SecondaryIndex(self.spark, cfg, col).build(
                self.read(cfg).select(col, PARTITION_PATH_META)
            )
        return meta

    def expire_partitions(
        self, table: str | TableConfig, condition: str | Column
    ) -> dict:
        """Partition lifecycle / TTL (Hudi RFC-65 partition TTL analog):
        drop every partition whose PATH matches `condition` — a predicate
        over `_hoodie_partition_path`, e.g.
        ``"_hoodie_partition_path < 'dt=2020-01-01'"`` — as ONE
        metadata-only replacecommit. The predicate is evaluated on the
        distinct partition-path strings (driver-side tiny DataFrame), so
        expiring a year of dailies from a 100 TB table is metadata work;
        `clean` reclaims the bytes later."""
        cfg = self._resolve(table)
        tl = Timeline(cfg.path)
        matched = self._prune_files(tl.live_files(), condition)
        parts = sorted({m.get("partition", "") for m in matched.values()})
        if not parts:
            instant = new_instant()
            return tl.commit(
                instant, tlmod.REPLACECOMMIT, "delete_partition", [], [],
                {"partitions_deleted": [], "files_removed": 0},
            )
        return self.delete_partition(cfg, parts)

    def ttl_partitions(
        self,
        table: str | TableConfig,
        older_than: str | None = None,
        retain_hours: float | None = None,
    ) -> dict:
        """Time-based partition TTL (Hudi 0.14 partition-TTL KEEP_BY_TIME
        strategy, `hoodie.partition.ttl.*`): expire every partition whose
        LAST data commit — the newest commit instant among its live
        files — is <= the cutoff. A partition stays alive as long as any
        write keeps touching it; cold partitions age out. Cutoff is
        `older_than` (an instant string) or now minus `retain_hours`.
        Last-touch times come from the timeline's live-file replay
        (metadata only — no data scan), and the expiry itself is the
        metadata-only delete_partition replacecommit, so aging a year of
        dailies out of a 100 TB table is driver-side JSON; `clean`
        reclaims the bytes later. Expired partitions stay time-travel
        readable until then."""
        cfg = self._resolve(table)
        parts = self._ttl_expired_partitions(cfg, older_than, retain_hours)
        if not parts:
            instant = new_instant()
            return Timeline(cfg.path).commit(
                instant, tlmod.REPLACECOMMIT, "delete_partition", [], [],
                {"partitions_deleted": [], "files_removed": 0},
            )
        return self.delete_partition(cfg, parts)

    def _ttl_expired_partitions(
        self,
        cfg: TableConfig,
        older_than: str | None,
        retain_hours: float | None,
    ) -> list[str]:
        """Partitions whose newest DATA commit is <= the cutoff — a
        timeline replay, no data IO. Table services (compaction, log
        compaction, clustering) rewrite files under fresh instants but
        are not writes: a cold partition that merely got clustered must
        still expire, so last-touch is the max over data commits'
        files_added, not over live-file commit stamps."""
        if (older_than is None) == (retain_hours is None):
            raise ValueError("pass exactly one of older_than / retain_hours")
        if older_than is None:
            cutoff = (
                datetime.now(timezone.utc) - timedelta(hours=retain_hours)
            ).strftime("%Y%m%d%H%M%S%f")
        else:
            cutoff = older_than
        tl = Timeline(cfg.path)
        # every row-preserving table service (incl. bucket_resize, clean,
        # archive) is a non-write for TTL purposes — shared set with the
        # derived-table refresher so the two can't drift
        from hudi_demo_spark.engine.derived import _ROW_PRESERVING

        service_ops = _ROW_PRESERVING
        last: dict[str, str] = {}
        for m in tl.instants(include_archived=True):
            if m.get("operation") in service_ops:
                continue
            for f in m.get("files_added", []):
                p = f.get("partition", "")
                if m["instant"] > last.get(p, ""):
                    last[p] = m["instant"]
        # only currently-live partitions are candidates; a live partition
        # with no replayed data commit (fully service-rewritten history
        # past a pruned archive) falls back to its live-file stamp
        live_last: dict[str, str] = {}
        for fm in tl.live_files().values():
            p = fm.get("partition", "")
            c = fm.get("commit", "")
            if c > live_last.get(p, ""):
                live_last[p] = c
        return sorted(
            p
            for p in live_last
            if p and last.get(p, live_last[p]) <= cutoff
        )

    def _dedup_batch(self, batch: DataFrame, cfg: TableConfig) -> DataFrame:
        """preCombine dedup within the incoming batch (W6).

        Key-skew guard (`write.skew_salt` = N): a window keyed by
        record key puts ALL versions of one hot key on one task — a
        90%-one-key event batch serializes there. With the prop set,
        a salted PRE-REDUCE window (keys + pmod(id, N)) spreads the
        hot key over N tasks and leaves ≤N candidates per key for the
        final window — same winner (the ordering is applied in both
        phases), bounded task size. Off by default: two shuffles only
        pay for themselves on genuinely skewed batches."""
        keys = self._merge_key_cols(cfg)
        if cfg.precombine_field and cfg.precombine_field in batch.columns:
            order = F.col(cfg.precombine_field).desc_nulls_last()
            salt_n = int(cfg.props.get("write.skew_salt", 0) or 0)
            if salt_n > 1:
                # nondeterministic exprs can't live in a window spec —
                # project the salt first, then window over the column
                batch = batch.withColumn(
                    "__salt",
                    F.pmod(F.monotonically_increasing_id(), F.lit(salt_n)),
                )
                w1 = Window.partitionBy(*keys, "__salt").orderBy(order)
                batch = (
                    batch.withColumn("__rn", F.row_number().over(w1))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn", "__salt")
                )
            w = Window.partitionBy(*keys).orderBy(order)
            return (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        return batch.dropDuplicates(keys)

    # past this many distinct matched files, a broad-predicate DML stops
    # shipping URI strings to the driver and falls back to the
    # partition-granular rewrite set (pruning is advisory, so the cap is
    # always sound); override with table prop `write.dml.file_prune_cap`
    _FILE_PRUNE_CAP = 10_000

    def _file_prune_cap(self, cfg: TableConfig) -> int:
        return int(
            cfg.props.get("write.dml.file_prune_cap", self._FILE_PRUNE_CAP)
        )

    def _matched_scan_footprint(
        self, matched: DataFrame, cap: int = _FILE_PRUNE_CAP
    ) -> tuple[set, set | None]:
        """(partitions, source files) of the rows a predicate DML matched —
        ONE distinct over (input_file_name, partition_path), result size
        bounded by the matched FILE count, not row count. The file set
        narrows the COW rewrite to the file groups that actually contain
        matched rows (the same pruning discipline upsert gets from key
        ranges and blooms): a one-row DELETE in a 1 TB partition rewrites
        one file group, not the partition. Returns files=None — caller
        keeps the partition-granular set — if any row lost file lineage
        (`input_file_name() = ''`, or a URI form that doesn't resolve to
        a live file: Hadoop emits both 'file:///p' and 'file:/p'), or if
        the matched file count exceeds `cap` (a broad predicate over a
        ~1M-file table would otherwise ship ~100 MB of URI strings to
        the driver for a prune that saves nothing). Pruning is then
        skipped, never unsound. Reference intent: Hudi tags records to
        their owning file group before rewriting
        (JavaClientHive2Hudi.java:167-180)."""
        from urllib.parse import unquote

        rows = (
            matched.select(
                F.input_file_name().alias("__f"),
                F.col(PARTITION_PATH_META).alias("__pp"),
            )
            .distinct()
            .limit(cap + 1)
            .collect()
        )
        parts = {r["__pp"] for r in rows}
        if len(rows) > cap:
            # partitions may be under-reported past the limit — recover
            # the complete partition set with a cheap dedicated distinct
            parts = {
                r["__pp"]
                for r in matched.select(
                    F.col(PARTITION_PATH_META).alias("__pp")
                )
                .distinct()
                .collect()
            }
            return parts, None
        uris = {r["__f"] for r in rows}
        if not uris or "" in uris or None in uris:
            return parts, None
        hit = set()
        for u in uris:
            p = unquote(u)
            if "://" in p:
                p = p.split("://", 1)[-1]
            elif p.startswith("file:"):
                # single-slash Hadoop form 'file:/path'
                p = p[len("file:"):]
            rp = Path(p)
            if not rp.is_file():
                # unrecognized URI form — treat as lost lineage rather
                # than prune against a path that matches nothing
                return parts, None
            hit.add(str(rp.resolve()))
        return parts, hit

    def _dml_rewrite_set(
        self, cfg: TableConfig, live: dict[str, dict], matched: DataFrame
    ) -> dict[str, dict]:
        """The files a COW predicate DML rewrites ({} when nothing
        matched): the `live` files of the partitions the matched scan
        hit, narrowed to the files it read rows from; the others carry
        forward live and un-rewritten in the commit. Without file
        lineage, or past `write.dml.file_prune_cap` matched files, the
        set stays partition-granular. Safety net: if the narrowing
        empties a partition the scan matched rows in (path-normalization
        mismatch — symlinked data dir, exotic URI scheme), it is
        abandoned for the partition-granular set; a silent empty prune
        here would commit a successful-looking no-op DELETE/UPDATE and
        lose the DML."""
        parts, hit = self._matched_scan_footprint(
            matched, cap=self._file_prune_cap(cfg)
        )
        affected = {
            p: m for p, m in live.items() if m.get("partition", "") in parts
        }
        if hit is None:
            return affected
        data = Path(cfg.path) / DATA_DIR
        out = {
            p: m
            for p, m in affected.items()
            if str(Path(
                m.get("abs_path") if m.get("kind") == "external" else data / p
            ).resolve()) in hit
        }
        if {m.get("partition", "") for m in affected.values()} - {
            m.get("partition", "") for m in out.values()
        }:
            return affected
        return out

    @staticmethod
    def _summary_bound(cfg: TableConfig) -> int:
        """Batch rows small enough to summarize with one collect:
        `index.bloom.hash.distribute_min` (default 20k). The prop first
        bounded the bloom probe's driver-side key hashing; it now also
        picks `_tag_files`' per-key (not per-partition) key intervals on
        EVERY table, bloom or not, and the secondary-index append shape
        (`_secondary_append`)."""
        return int(cfg.props.get("index.bloom.hash.distribute_min", 20_000))

    def _tag_files(
        self, cfg: TableConfig, live: dict[str, dict], batch: DataFrame
    ) -> tuple[dict[str, dict], int]:
        """Upsert tagging, Hudi's index lookup (JavaClientHive2Hudi.java:
        167-180) shared by insert-dedup, upsert, delete_keys and merge:
        (live files that may hold one of the batch's keys, batch rows).

        The batch is summarized by ONE bounded collect of its (partition,
        key) rows, at most `_summary_bound` of them: the point keys per
        partition (any partition under the global index), the row count
        and the bloom probe keys all come from it, one Spark job where an
        aggregate plus a pair collect took five. A batch past the bound
        falls back to one key interval per partition from an aggregate,
        and executor-side bloom hashing; the discarded collect then costs
        one job more than the aggregate alone. `_key_probe` then keeps
        the live files that may hold a key."""
        bound = self._summary_bound(cfg)
        pairs = (
            batch.select(PARTITION_PATH_META, RECORD_KEY_META)
            .limit(bound + 1)
            .collect()
        )
        glob = self._is_global(cfg)
        if len(pairs) <= bound:
            keys: dict = {}
            for pp, k in pairs:
                keys.setdefault(None if glob else pp, set()).add(k)
            intervals = {s: [(k, k) for k in ks] for s, ks in keys.items()}
            n_rows = len(pairs)
        else:
            rows = (
                batch.groupBy(PARTITION_PATH_META)
                .agg(F.min(RECORD_KEY_META), F.max(RECORD_KEY_META), F.count("*"))
                .collect()
            )
            intervals, keys = {}, None
            for pp, lo, hi, _ in rows:
                intervals.setdefault(None if glob else pp, []).append((lo, hi))
            n_rows = sum(r[3] for r in rows)
        return self._key_probe(
            cfg, live, intervals, n_rows, keys, batch
        ), n_rows

    def upsert(
        self, df: DataFrame, table: str | TableConfig, batch_id: int | None = None
    ) -> dict:
        """UPSERT (W6) — the default Hudi write (BootstrapDemo.scala:264-273,
        HoodieJavaWriteClientExample.java:102-107). COW: partition-scoped
        rewrite, payload-ordered winner per key. MOR: append delta only.

        SOFT DELETE (the public Hudi `_hoodie_is_deleted` convention):
        batch rows carrying `_hoodie_is_deleted = true` are tombstones —
        the write evicts those keys in the SAME commit that upserts the
        rest, so an incremental index/view refresh that replaces some
        keys and retires others is one atomic commit instead of an
        upsert followed by a delete (with an observable inconsistent
        state between them). COW strips the marker before materializing
        (it is never part of the stored schema); MOR writes it into the
        delta as an ordinary delete marker. A tombstone ends the key's
        history REGARDLESS of its ordering value (delete-era fencing,
        identical to DELETE — property-tested against the dict model);
        only a strictly later commit re-inserts the key."""
        cfg = self._resolve(table)
        instant = new_instant()
        batch = self._prepare(df, cfg, instant, keep_deleted=True)
        if cfg.table_type == MOR:
            batch = self._dedup_batch(batch, cfg)
            return self._commit_write(
                cfg, instant, "upsert", batch, "delta", index=batch,
                batch_id=batch_id,
            )
        batch = batch.persist()
        try:
            live = Timeline(cfg.path).live_files()
            if live:
                affected, batch_rows = self._tag_files(cfg, live, batch)
            else:
                # first write (every derived view's bootstrap refresh):
                # nothing to prune or merge against, so skip the batch
                # summary — it would execute the batch's whole lineage
                # (often an expensive recompute) just to learn bounds
                # nobody consumes. The write below is then the lineage's
                # single execution.
                affected, batch_rows = {}, 0
            # cost-based merge strategy: when the affected base is LARGE
            # and the batch small, shuffling every affected file through
            # the payload window dominates — switch to the broadcast
            # plan. Below the threshold the single window is cheaper
            # (the broadcast plan pays two base scans + two broadcast
            # builds in fixed overhead). File bytes come from commit
            # metadata — no filesystem calls.
            affected_bytes = sum(m.get("bytes") or 0 for m in affected.values())
            min_base = int(
                cfg.props.get(
                    "upsert.broadcast.min_base_bytes", 512 * 1024 * 1024
                )
            )
            if (
                affected
                and batch_rows <= 1_000_000
                and affected_bytes >= min_base
            ):
                # broadcast merge fast path (batch ≪ base): dedup the
                # batch alone (small window), broadcast its keys, and
                # split base map-side into untouched (anti) and
                # contested (semi) rows — only contested ∪ batch goes
                # through the payload-ordering window. The base NEVER
                # shuffles. Key groups are either fully untouched or
                # fully contested, so the result is identical to the
                # one-window formulation.
                base = self._read_files(cfg, affected)
                # persisted: the deduped batch feeds two broadcast builds
                # and the contested union — without it the dedup window
                # executes three times
                deduped = self._merge_view(batch, cfg).persist()
                on = self._merge_key_cols(cfg)
                keys = deduped.select(*on)
                untouched = base.join(F.broadcast(keys), on, "left_anti")
                contested = base.join(F.broadcast(keys), on, "left_semi")
                winner = untouched.unionByName(
                    self._merge_view(
                        contested.unionByName(deduped, allowMissingColumns=True),
                        cfg,
                    ),
                    allowMissingColumns=True,
                )
            else:
                if affected:
                    base = self._read_files(cfg, affected)
                    combined = base.unionByName(batch, allowMissingColumns=True)
                else:
                    combined = batch
                # big-batch path: _merge_view applies the payload ordering
                # (precombine/commit) over base ∪ batch in ONE keyed
                # shuffle; intra-batch winners fall out of the same window.
                winner = self._merge_view(combined, cfg)
            winner = self._drop_tombstones(winner)
            if DELETED_META in winner.columns:
                stored = self._stored_schema(cfg)
                if stored is None or DELETED_META not in stored.names:
                    # reserved marker, applied above — never persisted
                    # into COW base files
                    winner = winner.drop(DELETED_META)
            return self._commit_write(
                cfg, instant, "upsert", winner, "base", affected, index=batch,
                index_rows=batch_rows if live else None, batch_id=batch_id,
            )
        finally:
            batch.unpersist()

    def delete(
        self,
        table: str | TableConfig,
        condition: str | Column,
        partition_filter: str | Column | None = None,
    ) -> dict:
        """DELETE FROM ... WHERE (W4) — SparkSQLDemo.scala:73-75.

        `partition_filter` (a predicate on `_hoodie_partition_path`)
        prunes the FILE LIST before any scan — at scale, a delete known
        to touch one partition reads one partition, not the table."""
        cfg = self._resolve(table)
        cond = _as_cond(condition)
        instant = new_instant()
        matched = self.read(
            cfg, partition_filter=partition_filter, where=condition
        )
        if cfg.table_type == MOR:
            # MOR writes delete MARKERS — no base rewrite, so the file
            # footprint is useless here; one scan materializes the
            # markers directly (an empty result writes no files and
            # records a no-op commit)
            markers = matched.withColumn(
                DELETED_META, F.lit(True)
            ).withColumn(COMMIT_TIME_META, F.lit(instant))
            markers = self._conform(markers, cfg)
            return self._commit_write(
                cfg, instant, "delete", markers, "delta", empty_noop=True
            )
        # COW: NOT persisted — caching would serve the footprint scan
        # from the InMemory columnar cache, where input_file_name()
        # returns '' and the file-group prune degrades to
        # whole-partition; matched is consumed exactly once below.
        affected = self._dml_rewrite_set(
            cfg, Timeline(cfg.path).live_files(), matched
        )
        if not affected:
            return self._commit_write(cfg, instant, "delete", None)
        # SQL DELETE removes rows where cond is TRUE; rows where it is
        # NULL must survive — a bare ~cond would drop them (NULL).
        keep = self._read_files(cfg, affected).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        return self._commit_write(
            cfg, instant, "delete", keep, "base", affected
        )

    def delete_keys(self, table: str | TableConfig, keys_df: DataFrame) -> dict:
        """DELETE by key list (W8) — client.delete(List<HoodieKey>)
        (HoodieJavaWriteClientExample.java:109-116): keys_df carries the
        record-key fields, plus the partition fields when partitioned —
        except under the GLOBAL index, where bare record keys suffice
        (the index locates the owning partition, Hudi GLOBAL_* delete
        semantics) and the lookup is range/RLI-pruned."""
        cfg = self._resolve(table)
        instant = new_instant()
        on = self._merge_key_cols(cfg)
        keyed = keys_df.withColumn(
            RECORD_KEY_META, record_key_col(cfg.record_key_fields)
        )
        if self._is_global(cfg):
            # partition unknown for a bare-key delete: range/index
            # pruning keys off the record key alone
            keyed = keyed.withColumn(PARTITION_PATH_META, F.lit(""))
        else:
            keyed = keyed.withColumn(
                PARTITION_PATH_META,
                partition_path_col(cfg.partition_fields, cfg.hive_style),
            )
        keyed = keyed.select(PARTITION_PATH_META, RECORD_KEY_META).distinct().persist()
        try:
            if cfg.table_type == MOR:
                snap = self.read(cfg)
                markers = (
                    snap.join(keyed.select(*on), on, "left_semi")
                    .withColumn(DELETED_META, F.lit(True))
                    .withColumn(COMMIT_TIME_META, F.lit(instant))
                )
                markers = self._conform(markers, cfg)
                return self._commit_write(
                    cfg, instant, "delete", markers, "delta", empty_noop=True
                )
            affected, _ = self._tag_files(
                cfg, Timeline(cfg.path).live_files(), keyed
            )
            keep = self._read_files(cfg, affected).join(
                keyed.select(*on), on, "left_anti"
            )
            return self._commit_write(
                cfg, instant, "delete", keep, "base", affected
            )
        finally:
            keyed.unpersist()

    def update(
        self,
        table: str | TableConfig,
        set: dict[str, str | Column],
        where: str | Column,
        partition_filter: str | Column | None = None,
    ) -> dict:
        """UPDATE ... SET ... WHERE (W3) — SparkSQLDemo.scala:69-71.
        Assignments are evaluated against the pre-update row (single
        projection). Partition columns cannot be reassigned (non-global
        key semantics, as in the reference demos), nor can record-key
        fields (`_check_key_assigns`). `partition_filter`
        prunes the file list before the scan, as in `delete`."""
        cfg = self._resolve(table)
        for k in set:
            if k in cfg.partition_fields:
                raise ValueError(f"cannot update partition column {k}")
        _check_key_assigns(cfg, set)
        cond = _as_cond(where)
        instant = new_instant()
        assigns = {k: _as_cond(v) for k, v in set.items()}
        matched = self.read(cfg, partition_filter=partition_filter, where=where)
        if cfg.table_type == MOR:
            # SIMULTANEOUS assignment (one projection over the pre-update
            # row, same as the COW path and SQL UPDATE semantics): a
            # sequential withColumn loop would feed later assignments
            # the already-overwritten values (SET a=b, b=a would not swap)
            updated = matched.withColumns(dict(assigns))
            updated = updated.withColumn(COMMIT_TIME_META, F.lit(instant))
            updated = self._conform(updated, cfg)
            return self._commit_write(
                cfg, instant, "update", updated, "delta",
                assigned=(updated, set), empty_noop=True,
            )
        affected = self._dml_rewrite_set(
            cfg, Timeline(cfg.path).live_files(), matched
        )
        if not affected:
            return self._commit_write(cfg, instant, "update", None)
        newcols = {
            k: F.when(cond, v).otherwise(F.col(k)) for k, v in assigns.items()
        }
        newcols[COMMIT_TIME_META] = F.when(
            cond, F.lit(instant)
        ).otherwise(F.col(COMMIT_TIME_META))
        out = self._read_files(cfg, affected).withColumns(newcols)
        # simultaneous projection, matching the written data exactly —
        # sequential withColumn would index values the write never produced
        return self._commit_write(
            cfg, instant, "update", out, "base", affected,
            assigned=(matched.withColumns(dict(assigns)), set),
        )

    def merge(
        self,
        table: str | TableConfig,
        source: DataFrame,
        matched_update_cond: str | Column | None = None,
        matched_update_set: dict[str, str | Column] | str = "*",
        matched_delete_cond: str | Column | None = None,
        matched_clauses: list[tuple] | None = None,
        not_matched_insert_cond: str | Column | None = None,
        not_matched_insert_values: dict[str, str | Column] | None = None,
        not_matched_clauses: list[tuple] | None = None,
        not_matched_by_source_delete_cond: str | Column | None = None,
        not_matched_by_source_update_set: dict[str, str | Column] | None = None,
        not_matched_by_source_update_cond: str | Column | None = None,
    ) -> dict:
        """MERGE INTO (W5) — SparkSQLDemo.scala:77-91: full-outer join on
        the record key within the source's partitions + row-level CASE.
        Clause precedence: matched-update, then matched-delete, then
        not-matched-insert (the demo's clause order). Conditions are
        expressions over aliases `t` (target) and `s` (source).
        `matched_update_set` may be "*" (take the source row) or an
        explicit {col: expr} map; `not_matched_insert_values` likewise
        narrows INSERT to an explicit column map (unmentioned data
        columns insert as NULL, the Spark SQL MERGE semantics).

        `matched_clauses` generalizes the matched side to an ORDERED
        list of `(condition, action)` where action is "*" (update from
        source), a {col: expr} map, or "delete" — multiple conditioned
        WHEN MATCHED clauses with first-true-wins precedence, the full
        Spark SQL MERGE shape. When given, it supersedes the single
        `matched_update_*`/`matched_delete_cond` parameters.

        `not_matched_by_source_*` (Spark 3.4 MERGE): act on TARGET rows
        with no source match — the sync-deletion clause. These clauses
        are inherently full-table (any target row might lack a match),
        so their presence widens the scan from the source-pruned file
        set to every live file; without them the merge stays
        file-group-scoped."""
        cfg = self._resolve(table)
        # a matched row's source and target keys are equal; an insert
        # takes the source's key; a by-source row has only the target's
        for same, amaps in (
            (("s", "t"), [a for _, a in matched_clauses]
             if matched_clauses is not None else [matched_update_set]),
            (("s",), [v for _, v in not_matched_clauses]
             if not_matched_clauses is not None
             else [not_matched_insert_values]),
            (("t",), [not_matched_by_source_update_set]),
        ):
            for amap in amaps:
                if isinstance(amap, dict):
                    _check_key_assigns(cfg, amap, same)
        instant = new_instant()
        src = self._prepare(source, cfg, instant)
        src = self._dedup_batch(src, cfg).persist()
        flagged = None
        try:
            live = Timeline(cfg.path).live_files()
            on = self._merge_key_cols(cfg)
            has_by_source = (
                not_matched_by_source_delete_cond is not None
                or not_matched_by_source_update_set is not None
            )
            if has_by_source:
                # by-source clauses can touch ANY unmatched target row:
                # pruning would hide rows from them — full live scan
                affected, src_rows = dict(live), -1
            else:
                # files pruned by key range or bloom provably hold none
                # of the source's keys: their rows would all take the
                # keep-unmatched-target branch, so leaving them live
                # unscanned is semantics-preserving. Global index: a
                # source row may match a target row in a DIFFERENT
                # partition (and a matched update moves it) — key-only
                # join over the globally pruned candidate set
                affected, src_rows = self._tag_files(cfg, live, src)
            base = self._read_files(cfg, affected)
            if cfg.table_type == MOR:
                base = self._drop_tombstones(self._merge_view(base, cfg))
            t, s = base.alias("t"), src.alias("s")
            j = t.join(s, on, "full_outer")
            t_here = F.col(f"t.{COMMIT_TIME_META}").isNotNull()
            s_here = F.col(f"s.{COMMIT_TIME_META}").isNotNull()
            matched = t_here & s_here
            # normalize the matched-side surface into an ORDERED clause
            # list — first-true wins, the Spark SQL MERGE rule; a NULL
            # condition does not fire and evaluation moves on
            if matched_clauses is None:
                norm_clauses: list[tuple] = []
                if matched_update_set is not None:
                    norm_clauses.append(
                        (matched_update_cond, matched_update_set)
                    )
                if matched_delete_cond is not None:
                    norm_clauses.append((matched_delete_cond, "delete"))
            else:
                norm_clauses = list(matched_clauses)
            remaining = F.lit(True)
            upd_branches: list[tuple] = []  # (fire_cond, set_map|None)
            do_delete = F.lit(False)
            for cond, action in norm_clauses:
                c = (
                    F.coalesce(_as_cond(cond), F.lit(False))
                    if cond is not None
                    else F.lit(True)
                )
                fire = matched & remaining & c
                if isinstance(action, str) and action.lower() == "delete":
                    do_delete = do_delete | fire
                else:
                    upd_branches.append((
                        fire,
                        None
                        if action == "*"
                        else {k: _as_cond(v) for k, v in action.items()},
                    ))
                remaining = remaining & ~c
            do_update = reduce(
                lambda a, b: a | b,
                [f for f, _ in upd_branches],
                F.lit(False),
            )
            # NOT MATCHED side, same ordered-clause normalization:
            # [(cond, values_map|"*")], first-true wins, no clause fires
            # → the source row is dropped
            if not_matched_clauses is None:
                norm_ins: list[tuple] = [(
                    not_matched_insert_cond,
                    not_matched_insert_values
                    if not_matched_insert_values is not None
                    else "*",
                )]
            else:
                norm_ins = list(not_matched_clauses)
            s_only = ~t_here & s_here
            remaining = F.lit(True)
            ins_branches: list[tuple] = []  # (fire_cond, values_map|None)
            for cond, values in norm_ins:
                c = (
                    F.coalesce(_as_cond(cond), F.lit(False))
                    if cond is not None
                    else F.lit(True)
                )
                fire = s_only & remaining & c
                ins_branches.append(
                    (fire, None if values == "*" else dict(values))
                )
                remaining = remaining & ~c
            do_insert = reduce(
                lambda a, b: a | b,
                [f for f, _ in ins_branches],
                F.lit(False),
            )
            drop_insert = s_only & ~do_insert
            t_only = t_here & ~s_here
            bs_upd_c = (
                _as_cond(not_matched_by_source_update_cond)
                if not_matched_by_source_update_cond is not None
                else F.lit(True)
            )
            do_bs_update = (
                (t_only & bs_upd_c)
                if not_matched_by_source_update_set is not None
                else F.lit(False)
            )
            do_bs_delete = (
                (t_only & ~do_bs_update
                 & _as_cond(not_matched_by_source_delete_cond))
                if not_matched_by_source_delete_cond is not None
                else F.lit(False)
            )
            keep = ~(do_delete | drop_insert | do_bs_delete)
            data_cols = [
                f.name
                for f in self._stored_schema(cfg).fields
                if f.name not in (PARTITION_PATH_META, RECORD_KEY_META)
            ]
            use_src = do_update | do_insert
            if self._is_global(cfg):
                # key-only join leaves partition path per-side: the
                # source side wins for updates/inserts (a matched update
                # MOVES the record, global partition-path-update rules)
                part_col = F.when(
                    use_src, F.col(f"s.{PARTITION_PATH_META}")
                ).otherwise(F.col(f"t.{PARTITION_PATH_META}"))
            else:
                part_col = F.col(PARTITION_PATH_META)
            sel: list[Column] = [
                part_col.alias(PARTITION_PATH_META),
                F.col(RECORD_KEY_META),
            ]
            ins_branches = [
                (
                    fire,
                    None
                    if vals is None
                    else {k: _as_cond(v) for k, v in vals.items()},
                )
                for fire, vals in ins_branches
            ]
            bs_set_map = (
                {
                    k: _as_cond(v)
                    for k, v in not_matched_by_source_update_set.items()
                }
                if not_matched_by_source_update_set is not None
                else None
            )
            dtypes = {
                f.name: f.dataType for f in self._stored_schema(cfg).fields
            }
            for c in data_cols:
                if c.startswith("_hoodie_"):
                    # meta columns always come from the stamped source
                    ins_val = upd_val = F.col(f"s.{c}")
                else:
                    # fold the ordered insert branches the same way:
                    # "*" takes the source row; an explicit column map
                    # inserts NULL for unmentioned data columns
                    ins_val = F.lit(None).cast(dtypes[c])
                    for fire, imap in reversed(ins_branches):
                        if imap is None:
                            v = F.col(f"s.{c}")  # INSERT *
                        elif c in imap:
                            v = imap[c]
                        else:
                            v = F.lit(None).cast(dtypes[c])
                        ins_val = F.when(fire, v).otherwise(ins_val)
                    # fold the ordered update branches into one CASE:
                    # first-fired clause's value wins; an explicit SET
                    # list leaves unmentioned columns at their TARGET
                    # values (Spark SQL MERGE semantics)
                    upd_val = F.col(f"t.{c}")
                    for fire, amap in reversed(upd_branches):
                        if amap is None:
                            v = F.col(f"s.{c}")  # UPDATE SET *
                        elif c in amap:
                            v = amap[c]
                        else:
                            v = F.col(f"t.{c}")
                        upd_val = F.when(fire, v).otherwise(upd_val)
                src_val = F.when(do_insert, ins_val).otherwise(upd_val)
                val = F.when(use_src, src_val).otherwise(F.col(f"t.{c}"))
                if bs_set_map is not None:
                    if c == COMMIT_TIME_META:
                        # by-source-updated rows are touched: stamp them
                        val = F.when(
                            do_bs_update, F.lit(instant)
                        ).otherwise(val)
                    elif c in bs_set_map:
                        val = F.when(
                            do_bs_update, bs_set_map[c]
                        ).otherwise(val)
                sel.append(val.alias(c))
            # explicit SET / INSERT maps and by-source updates write
            # values that are NOT source-row values, so src-based
            # _index_append misses them — when such a map touches an
            # indexed column, carry a __touched flag through ONE
            # persisted computation of the join (recomputing the
            # full-outer join for the index append would double the
            # merge's scan cost)
            explicit_cols: set[str] = set()
            for _, amap in upd_branches:
                if amap is not None:
                    explicit_cols |= set(amap)
            for _, imap in ins_branches:
                if imap is not None:
                    explicit_cols |= set(imap)
            if bs_set_map is not None:
                explicit_cols |= set(bs_set_map)
            from hudi_demo_spark.engine import secondary_index as si

            idx_cols = [
                c for c in si.indexed_columns(cfg) if c in explicit_cols
            ]
            if idx_cols:
                flagged = j.filter(keep).select(
                    *sel, (use_src | do_bs_update).alias("__touched")
                ).persist()
                out = flagged.drop("__touched")
            else:
                out = j.filter(keep).select(*sel)
            return self._commit_write(
                cfg, instant, "merge", out, "base", affected, index=src,
                index_rows=src_rows,
                assigned=None if flagged is None else (
                    flagged.filter(F.col("__touched")).drop("__touched"),
                    explicit_cols,
                ),
            )
        finally:
            src.unpersist()
            if flagged is not None:
                flagged.unpersist()

    def sql(self, statement: str):
        """SQL DML surface (SparkSQLDemo statement set) — see
        hudi_demo_spark.engine.sql.SqlRouter."""
        from hudi_demo_spark.engine.sql import SqlRouter

        return SqlRouter(self).sql(statement)

    def alter_column_comment(
        self,
        table: str | TableConfig,
        column: str,
        comment: str,
        database: str | None = None,
    ) -> None:
        """ALTER TABLE ... CHANGE col comment (D6) —
        SyncCommentsAcrossClusters.scala:100-103: column comments live
        in catalog props and flow into the metastore on sync_catalog.
        With `database` set (hive-enabled session, table already
        synced), the ALTER is ALSO pushed straight to the metastore
        table — the reference's direct cross-cluster ALTER shape."""
        cfg = self._resolve(table)
        # validate BEFORE persisting anything: a typo'd column must not
        # leave a bogus comment in catalog props (it would flow into
        # every later sync's DDL)
        col_type = None
        schema = self._stored_schema(cfg)
        if schema is not None:
            types = {f.name: f.dataType.simpleString()
                     for f in schema.fields}
            if column not in types:
                raise ValueError(f"no such column: {column}")
            col_type = types[column]
        if database is not None and col_type is None:
            raise ValueError(
                "metastore comment sync needs a written table "
                "(no stored schema yet)"
            )
        comments = cfg.props.setdefault("column_comments", {})
        comments[column] = comment
        cfg.save()
        if database is not None:
            esc = str(comment).replace("'", "''")
            self.spark.sql(
                f"ALTER TABLE `{database}`.`{cfg.name}` CHANGE COLUMN "
                f"`{column}` `{column}` {col_type} COMMENT '{esc}'"
            )

    # safe type widenings (Hudi 0.13 type-promotion matrix)
    _WIDEN_OK = {
        "smallint": {"int", "bigint", "float", "double"},
        "int": {"bigint", "float", "double"},
        "bigint": {"float", "double"},
        "float": {"double"},
    }

    def alter_table(
        self,
        table: str | TableConfig,
        rename: dict[str, str] | None = None,
        drop: list[str] | None = None,
        add: dict[str, str] | None = None,
        widen: dict[str, str] | None = None,
    ) -> TableConfig:
        """Full schema evolution (Hudi 0.13 ALTER TABLE, schema-on-read):
        rename / drop / type-widen / add columns WITHOUT rewriting any
        data file. The pre-alter schema is appended to the catalog's
        schema history with the epoch boundary instant; reads project old
        epochs to the current schema (see _read_epoch). Key, partition,
        ordering and meta columns are immutable (they define row
        identity); type changes are restricted to the safe promotion
        matrix plus any-atomic→string. Widen and rename the same column
        in separate alters."""
        cfg = self._resolve(table)
        rename = dict(rename or {})
        drop = list(drop or [])
        add = dict(add or {})
        widen = dict(widen or {})
        if not (rename or drop or add or widen):
            return cfg
        if any(
            m.get("kind") == "external"
            for m in Timeline(cfg.path).live_files().values()
        ):
            # metadata-bootstrapped files are read with lazily computed
            # meta columns outside the epoch machinery; renames would
            # silently null them out. Materialize first.
            raise ValueError(
                "cannot alter a table with metadata-bootstrapped "
                "(external) files — run a full-record bootstrap or "
                "rewrite (overwrite) first"
            )
        stored = self._stored_schema(cfg)
        if stored is None:
            raise ValueError(
                "alter_table requires a pinned schema (write first, or "
                "create the table with an explicit schema)"
            )
        protected = (
            set(META_COLS)
            | {DELETED_META}
            | set(cfg.record_key_fields or [])
            | set(cfg.partition_fields)
            | ({cfg.precombine_field} if cfg.precombine_field else set())
        )
        names = [f.name for f in stored.fields]
        for col in [*rename, *drop, *widen]:
            if col not in names:
                raise ValueError(f"no such column: {col}")
            if col in protected:
                raise ValueError(
                    f"cannot alter {col}: key/partition/ordering/meta "
                    "columns are immutable"
                )
        if set(rename) & set(widen):
            raise ValueError(
                "widen and rename the same column in separate alters"
            )
        post = [rename.get(n, n) for n in names if n not in drop]
        if len(set(post)) != len(post):
            raise ValueError("rename collides with an existing column")
        for a in add:
            if a in post:
                raise ValueError(f"column exists: {a}")

        def _dt(s: str) -> T.DataType:
            return T.StructType.fromDDL(f"__c {s}")[0].dataType

        for col, t in widen.items():
            old_s = stored[col].dataType.simpleString()
            new_s = _dt(t).simpleString()
            if new_s != "string" and new_s not in self._WIDEN_OK.get(
                old_s, set()
            ):
                raise ValueError(
                    f"unsafe type change {col}: {old_s} -> {new_s}"
                )
        new_fields = []
        for f in stored.fields:
            if f.name in drop:
                continue
            new_fields.append(
                T.StructField(
                    rename.get(f.name, f.name),
                    _dt(widen[f.name]) if f.name in widen else f.dataType,
                    True,
                )
            )
        for a, t in add.items():
            new_fields.append(T.StructField(a, _dt(t), True))
        boundary = new_instant()
        cfg.schema_history = [
            *(cfg.schema_history or []),
            {
                "until": boundary,
                "schema": cfg.schema_json,
                "rename_to_next": rename,
            },
        ]
        cfg.schema_json = json.dumps(T.StructType(new_fields).jsonValue())
        cfg.save()
        return cfg

    def bootstrap(self, source_path, name, record_key, **kwargs) -> TableConfig:
        """Adopt an existing parquet dir as a table (W9/W10) — see
        hudi_demo_spark.engine.bootstrap."""
        from hudi_demo_spark.engine.bootstrap import bootstrap as _bootstrap

        return _bootstrap(self, source_path, name, record_key, **kwargs)

    # ------------------------------------------------------------------
    # table services  (T5, M3, M4)
    # ------------------------------------------------------------------

    def _maybe_compact(self, cfg: TableConfig) -> None:
        """Inline compaction trigger (T5) — TestBatchMOR.java:40-46:
        compact after N delta commits (default 2, `compact.inline` prop)."""
        if cfg.table_type != MOR:
            return
        if not self._truthy(cfg.props.get("compact.inline")):
            return
        max_delta = int(cfg.props.get("compact.max_delta_commits", 2))
        max_bytes = int(cfg.props.get("compact.max_delta_bytes", 0))
        tl = Timeline(cfg.path)
        n, delta_bytes = 0, 0
        for m in reversed(tl.instants(include_archived=True)):
            if m["action"] == tlmod.COMPACTION:
                break
            if m["action"] == tlmod.DELTACOMMIT:
                n += 1
                delta_bytes += sum(
                    f.get("bytes") or 0 for f in m["files_added"]
                )
        # commit-count trigger (TestBatchMOR.java:40-46) OR size trigger:
        # write-amplification control for hot tables where N tiny deltas
        # are cheap to keep but one huge delta should fold promptly
        if n >= max_delta or (max_bytes and delta_bytes >= max_bytes):
            self.compact(cfg)

    def _compaction_scope(
        self,
        cfg: TableConfig,
        live: dict[str, dict],
        max_io_bytes: int | None = None,
    ) -> dict[str, dict] | None:
        """File set a compaction run must merge: every partition holding
        deltas; under the global index also any base file whose key
        range intersects the deltas' (a partition-moving delta may
        supersede a base row elsewhere — the stale copy must not
        resurface when the delta folds away).

        `max_io_bytes` is the bounded-IO strategy (Hudi
        BoundedIOCompactionStrategy + LogFileSizeBased ordering analog):
        pick partitions fattest-delta-first, greedily packing whole
        partitions (base + delta bytes) under the budget, at least one.
        On a 100 TB table one compaction run then does a predictable
        amount of IO per invocation and repeated runs drain the backlog
        in delta-size priority order, instead of one unbounded rewrite
        of every partition that ever saw a delta."""
        delta_parts = {
            m.get("partition", "")
            for m in live.values()
            if m.get("kind") == "delta"
        }
        if not delta_parts:
            return None
        if max_io_bytes:
            delta_b: dict[str, int] = {}
            total_b: dict[str, int] = {}
            for m in live.values():
                pp = m.get("partition", "")
                if pp not in delta_parts:
                    continue
                b = int(m.get("bytes") or 0)
                total_b[pp] = total_b.get(pp, 0) + b
                if m.get("kind") == "delta":
                    delta_b[pp] = delta_b.get(pp, 0) + b
            chosen: set[str] = set()
            acc = 0
            for pp in sorted(
                delta_parts, key=lambda p: (-delta_b.get(p, 0), p)
            ):
                if chosen and acc + total_b.get(pp, 0) > max_io_bytes:
                    continue
                chosen.add(pp)
                acc += total_b.get(pp, 0)
            delta_parts = chosen
        affected = {
            p: m
            for p, m in live.items()
            if m.get("partition", "") in delta_parts
        }
        if self._is_global(cfg):
            dranges = [
                (m.get("key_min"), m.get("key_max"))
                for m in live.values()
                if m.get("kind") == "delta"
                and m.get("partition", "") in delta_parts
            ]
            affected.update(self._key_probe(cfg, live, {None: dranges}))
        return affected

    def schedule_compaction(self, table: str | TableConfig) -> str | None:
        """Hudi's async-compaction SCHEDULE step
        (`hoodie.compact.schedule.inline` / `call run_compaction(op =>
        'schedule')`): capture the current delta file set as an
        immutable plan, so a SEPARATE process can execute it later
        without racing ongoing writers — new deltas landing after the
        schedule stay live and untouched by that execution, and a plan
        whose files were replaced meanwhile is dropped before it writes
        anything (`_run_plans`). Returns the plan instant, or None with
        no deltas."""
        cfg = self._resolve(table)
        tl = Timeline(cfg.path)
        scope = self._compaction_scope(
            cfg, tl.live_files(), self._compact_budget(cfg, None)
        )
        if scope is None:
            return None
        instant = new_instant()
        tl.request_plan(tlmod.COMPACTION, instant, {"files": scope})
        return instant

    def pending_compactions(self, table: str | TableConfig) -> list[str]:
        return Timeline(self._resolve(table).path).pending_plans(
            tlmod.COMPACTION
        )

    def _run_plans(
        self, cfg: TableConfig, service: str, execute: Callable,
        instant: str | None = None,
    ) -> dict | None:
        """The execute step of every planned table service: run the named
        (or oldest) pending `service` plan as `execute(instant, plan)`,
        drop it, and return the commit metadata; None when no plan is
        (or the named one is not) pending. A plan whose files a later
        write replaced can never commit (OCC), so it is checked on the
        driver first. A stale plan, or one whose commit raises
        ConcurrentWriteError, is dropped, not left to block every later
        plan: an unnamed run moves on to the next plan, a named one
        re-raises after the drop."""
        tl = Timeline(cfg.path)
        while True:
            pending = tl.pending_plans(service)
            if instant is not None:
                pending = [instant] if instant in pending else []
            if not pending:
                return None
            target = pending[0]
            plan = tl.read_plan(service, target)
            try:
                tl.require_live(target, plan["files"])
                meta = execute(target, plan)
            except tlmod.ConcurrentWriteError:
                tl.drop_plan(service, target)
                if instant is not None:
                    raise
                continue
            tl.drop_plan(service, target)
            return meta

    def _rewrite(
        self, cfg: TableConfig, instant: str, action: str, operation: str,
        files: dict[str, dict], kind: str = "base",
        arrange: Callable | None = None, stats_cols: list[str] | None = None,
    ) -> dict:
        """The rewrite tail of every row-preserving table service
        (compaction, log compaction, clustering, bucket resize): read
        `files`, fold their deltas with `_merge_view`, drop tombstones
        when writing base files (a delta `kind` keeps them: they still
        shadow base rows), let `arrange` order the rows (clustering's
        range sort; the write then keeps that layout and records
        `stats_cols`), `_materialize`, and publish `action` replacing
        `files`."""
        df = self._read_files(cfg, files)
        if any(m.get("kind") == "delta" for m in files.values()):
            df = self._merge_view(df, cfg)
        if kind == "base":
            df = self._drop_tombstones(df)
        if arrange is not None:
            df = arrange(df)
        added, written = self._materialize(
            df, cfg, instant, kind, pre_arranged=arrange is not None,
            stats_cols=stats_cols,
        )
        return Timeline(cfg.path).commit(
            instant, action, operation, added, sorted(files),
            {"rows_written": written},
        )

    def log_compact(self, table: str | TableConfig) -> dict | None:
        """Log compaction (Hudi 0.13 `log.compaction.inline`, the option
        TestBatchMOR.java's comments point at): fold a partition's MANY
        small delta files into ONE deduped delta file WITHOUT reading or
        rewriting base files. The cheap write-amplification lever for
        hot MOR tables — full compaction cost scales with base size,
        log compaction with delta size only.

        Correctness: per-key winner selection is associative for the
        overwrite/default payloads (max over a subset then max with base
        = max over all), so pre-merging deltas cannot change snapshot
        results. The PARTIAL payload is NOT associative under
        out-of-order orderings (see _merge_view) — refused."""
        cfg = self._resolve(table)
        if cfg.payload == PAYLOAD_PARTIAL:
            raise ValueError(
                "log compaction is unsafe for partial_update payloads "
                "(non-associative merge); run full compact() instead"
            )
        by_part: dict[str, dict[str, dict]] = {}
        for p, m in Timeline(cfg.path).live_files().items():
            if m.get("kind") == "delta":
                by_part.setdefault(m.get("partition", ""), {})[p] = m
        # only partitions where folding helps (≥2 delta files)
        target = {
            p: m for ds in by_part.values() if len(ds) >= 2
            for p, m in ds.items()
        }
        if not target:
            return None
        return self._rewrite(
            cfg, new_instant(), tlmod.LOGCOMPACTION, "log_compact", target,
            kind="delta",
        )

    def compact(
        self, table: str | TableConfig, max_io_mb: int | None = None
    ) -> dict | None:
        """MOR compaction (T5): merge delta files into columnar base files
        for every partition that has deltas; one shuffle per run.

        `max_io_mb` (or the `compact.max_io_mb` prop) bounds one run's
        IO: partitions are chosen fattest-delta-first under the budget
        (see _compaction_scope) — call repeatedly to drain the backlog.

        If async plans exist (`schedule_compaction`), the OLDEST pending
        plan is executed instead — its captured file set exactly, never
        deltas that arrived after the schedule (Hudi execute semantics);
        a stale plan is dropped and the next one runs (`_run_plans`).
        With no plan left, the current deltas are compacted."""
        cfg = self._resolve(table)

        def run(instant: str, files: dict[str, dict]) -> dict:
            return self._rewrite(
                cfg, instant, tlmod.COMPACTION, "compact", files
            )

        meta = self._run_plans(
            cfg, tlmod.COMPACTION, lambda i, plan: run(i, plan["files"])
        )
        if meta is not None:
            return meta
        affected = self._compaction_scope(
            cfg, Timeline(cfg.path).live_files(),
            self._compact_budget(cfg, max_io_mb),
        )
        return None if affected is None else run(new_instant(), affected)

    @staticmethod
    def _compact_budget(
        cfg: TableConfig, max_io_mb: int | None
    ) -> int | None:
        mb = (
            max_io_mb
            if max_io_mb is not None
            else cfg.props.get("compact.max_io_mb")
        )
        return int(float(mb) * 1024 * 1024) if mb else None

    @staticmethod
    def _normalized_codes(df: DataFrame, cols: list[str]) -> list[Column]:
        """Min-max normalize up to 4 numeric/temporal columns to 16-bit
        integer codes (one tiny agg for the bounds, shipped as literals
        — no join). Nulls code to 0 (sort first). Shared by the z-order
        and Hilbert clustering strategies."""
        if not 1 <= len(cols) <= 4:
            raise ValueError("space-filling curves support 1-4 columns")
        for c in cols:
            if not isinstance(
                df.schema[c].dataType,
                (
                    T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                    T.FloatType, T.DoubleType, T.DecimalType, T.DateType,
                    T.TimestampType,
                ),
            ):
                raise ValueError(f"curve column {c!r} must be numeric/temporal")
        bounds = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
            *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
        ).collect()[0]
        codes = []
        for c in cols:
            mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
            span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0
            norm = (F.col(c).cast("double") - F.lit(mn or 0.0)) / F.lit(span)
            code = F.least(
                F.greatest(F.floor(norm * 65535), F.lit(0)), F.lit(65535)
            )
            codes.append(F.coalesce(code, F.lit(0)).cast("long"))
        return codes

    @classmethod
    def _zorder_col(cls, df: DataFrame, cols: list[str]) -> Column:
        """Z-value (Morton code) of up to 4 numeric columns: interleave
        the normalized 16-bit codes so sorting by the single z-value
        clusters locality in EVERY dimension at once. Used by
        cluster(strategy='zorder'); stats-based file skipping then works
        for range predicates on ANY of the z-ordered columns."""
        codes = cls._normalized_codes(df, cols)
        # n*bits must stay <= 63: at 4 cols × 16 bits the top curve bit
        # would land on long bit 63 (the sign), splitting the key space
        # negative-first and corrupting the curve order
        bits = min(16, 63 // len(codes))
        if bits < 16:  # keep the MOST significant bits of each code
            codes = [F.shiftright(c, 16 - bits) for c in codes]
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for i, code in enumerate(codes):
                z = z + F.shiftleft(
                    F.shiftright(code, bit).bitwiseAND(F.lit(1)),
                    bit * len(codes) + i,
                )
        return z

    @staticmethod
    def _attach_hilbert(
        df: DataFrame, codes: list[Column], bits: int,
        out: str = "__hilbert",
    ) -> DataFrame:
        """Append the Hilbert index of n integer code columns in
        [0, 2^bits) as column `out` (plus `__hx*` work columns) —
        Skilling's AxesToTranspose (public-domain bit transform), STAGED
        as one projection per exchange step. A single nested Column
        expression would be exponential: each round references X[0]
        several times and Column trees share nothing, so bits=16 blows
        the driver; named-column staging keeps the plan linear in
        bits×n while whole-stage codegen still fuses every projection
        into one pass — no UDF, no shuffle."""
        n = len(codes)
        names = [f"__hx{i}" for i in range(n)]
        df = df.withColumns(
            {nm: c.cast("long") for nm, c in zip(names, codes)}
        )
        X = [F.col(nm) for nm in names]
        Q = 1 << (bits - 1)
        while Q > 1:
            P = Q - 1
            for i in range(n):
                cond = X[i].bitwiseAND(F.lit(Q)) != F.lit(0)
                t = X[0].bitwiseXOR(X[i]).bitwiseAND(F.lit(P))
                upd = {
                    names[0]: F.when(cond, X[0].bitwiseXOR(F.lit(P)))
                    .otherwise(X[0].bitwiseXOR(t))
                }
                if i:
                    upd[names[i]] = F.when(cond, X[i]).otherwise(
                        X[i].bitwiseXOR(t)
                    )
                df = df.withColumns(upd)
            Q >>= 1
        for i in range(1, n):  # Gray encode, ascending in-place
            df = df.withColumns(
                {names[i]: F.col(names[i]).bitwiseXOR(F.col(names[i - 1]))}
            )
        # XOR is associative: fold the per-bit correction terms linearly
        # (a self-referencing `t = when(c, t^k).otherwise(t)` chain
        # doubles the tree per bit — 2^15 nodes at bits=16)
        t = F.lit(0).cast("long")
        Q = 1 << (bits - 1)
        while Q > 1:
            term = F.when(
                F.col(names[n - 1]).bitwiseAND(F.lit(Q)) != F.lit(0),
                F.lit(Q - 1),
            ).otherwise(F.lit(0)).cast("long")
            t = t.bitwiseXOR(term)
            Q >>= 1
        df = df.withColumn("__ht", t).withColumns(
            {nm: F.col(nm).bitwiseXOR(F.col("__ht")) for nm in names}
        )
        # transpose -> index: bit k of X[i] lands at k*n + (n-1-i)
        # (X[0] carries the most significant bit of each group)
        h = F.lit(0).cast("long")
        for bit in range(bits):
            for i in range(n):
                h = h + F.shiftleft(
                    F.shiftright(F.col(names[i]), bit).bitwiseAND(F.lit(1)),
                    bit * n + (n - 1 - i),
                )
        return df.withColumn(out, h)

    # work columns _attach_hilbert leaves behind (dropped post-sort)
    @staticmethod
    def _hilbert_helper_cols(n: int, out: str = "__hilbert") -> list[str]:
        return [out, "__ht"] + [f"__hx{i}" for i in range(n)]

    def cluster(
        self,
        table: str | TableConfig,
        sort_cols: list[str],
        partition_filter: str | Column | None = None,
        strategy: str = "linear",
    ) -> dict | None:
        """Clustering table service (Hudi's replacecommit clustering
        analog): rewrite the live file slices range-partitioned and
        sorted on `sort_cols`, so each output file covers a disjoint
        sort-key range, then record per-file [min, max] column stats in
        the commit metadata. Subsequent `read(range_filter=...)` calls
        skip non-overlapping files at metadata level — at 100 TB this
        turns a full-table scan into a few file reads for range
        predicates on the cluster key. MOR deltas in scope are folded in
        (clustering emits base files, like Hudi's).

        Layout note: the range shuffle keys on (partition_path, sort
        cols) so hive partitions stay contiguous; AQE size coalescing
        only merges ADJACENT ranges, so per-file disjointness survives
        file sizing."""
        cfg = self._resolve(table)
        live = Timeline(cfg.path).live_files()
        if partition_filter is not None:
            live = self._prune_files(live, partition_filter)
        if not live:
            return None
        return self._execute_cluster(
            cfg, new_instant(), live, sort_cols, strategy
        )

    def _execute_cluster(
        self, cfg: TableConfig, instant: str, live: dict[str, dict],
        sort_cols: list[str], strategy: str,
    ) -> dict:
        def arrange(df: DataFrame) -> DataFrame:
            range_keys = (
                [F.col(PARTITION_PATH_META)] if cfg.partition_fields else []
            )
            drop_helpers: list[str] = []
            if strategy == "zorder":
                # multi-dimensional clustering: one interleaved sort key
                # instead of lexicographic (which only skips on the
                # leading column); per-file stats still recorded per
                # ORIGINAL column
                range_keys += [self._zorder_col(df, sort_cols)]
            elif strategy == "hilbert":
                # same layout contract as zorder under the better-locality
                # curve (every unit step on the curve is a unit step in
                # space — no z-shaped jumps), Hudi's
                # `hoodie.layout.optimize.curve.build.method=hilbert`
                # analog; same sign-bit cap as _zorder_col: n*bits <= 63
                # (4-D drops to 15 bits/axis, keeping each code's MOST
                # significant bits)
                hbits = min(16, 63 // max(1, len(sort_cols)))
                hcodes = self._normalized_codes(df, sort_cols)
                if hbits < 16:
                    hcodes = [F.shiftright(c, 16 - hbits) for c in hcodes]
                df = self._attach_hilbert(df, hcodes, hbits)
                range_keys += [F.col("__hilbert")]
                drop_helpers = self._hilbert_helper_cols(len(sort_cols))
            elif strategy == "linear":
                range_keys += [F.col(c) for c in sort_cols]
            else:
                raise ValueError(f"unknown clustering strategy: {strategy!r}")
            df = df.repartitionByRange(*range_keys).sortWithinPartitions(
                *range_keys
            )
            # projection preserves the range partitioning + sort order
            return df.drop(*drop_helpers) if drop_helpers else df

        return self._rewrite(
            cfg, instant, tlmod.REPLACECOMMIT, "cluster", live,
            arrange=arrange, stats_cols=sort_cols,
        )

    def schedule_clustering(
        self,
        table: str | TableConfig,
        sort_cols: list[str],
        partition_filter: str | Column | None = None,
        strategy: str = "linear",
    ) -> str | None:
        """Async-clustering SCHEDULE step (Hudi `call run_clustering(op
        => 'schedule')`): capture the current live file set + sort spec
        as an immutable plan for a separate process to execute.
        Files written after the schedule stay live and untouched by the
        execution; a plan whose file group was replaced meanwhile is
        dropped before it writes anything (`_run_plans`). Returns the
        plan instant, or None when empty."""
        cfg = self._resolve(table)
        tl = Timeline(cfg.path)
        live = tl.live_files()
        if partition_filter is not None:
            live = self._prune_files(live, partition_filter)
        if not live:
            return None
        instant = new_instant()
        tl.request_plan("clustering", instant, {
            "files": live, "sort_cols": list(sort_cols), "strategy": strategy,
        })
        return instant

    def pending_clusterings(self, table: str | TableConfig) -> list[str]:
        return Timeline(self._resolve(table).path).pending_plans(
            "clustering"
        )

    def run_clustering_plan(
        self, table: str | TableConfig, instant: str | None = None
    ) -> dict | None:
        """Async-clustering EXECUTE step: run the named (or earliest)
        scheduled plan and drop the plan file (`_run_plans`: a stale plan
        is dropped; unnamed execution moves on to the next, a named one
        re-raises). Returns the replacecommit metadata, or None when no
        plan is pending."""
        cfg = self._resolve(table)
        return self._run_plans(
            cfg, "clustering",
            lambda i, plan: self._execute_cluster(
                cfg, i, plan["files"], plan["sort_cols"],
                plan.get("strategy", "linear"),
            ),
            instant,
        )

    def copy_to_table(
        self,
        table: str | TableConfig,
        new_table: str,
        as_of: str | None = None,
    ) -> TableConfig:
        """Hudi `CALL copy_to_table`: clone a (possibly time-traveled)
        snapshot into a NEW managed table with the same key/partition/
        type configuration and a fresh single-commit timeline. One
        distributed read→write; the clone is independent (no shared
        files)."""
        cfg = self._resolve(table)
        clone = self.create_table(
            new_table,
            record_key=list(cfg.record_key_fields or []) or None,
            precombine=cfg.precombine_field,
            partition_by=list(cfg.partition_fields),
            table_type=cfg.table_type,
            payload=cfg.payload,
            hive_style=cfg.hive_style,
            props=dict(cfg.props),
        )
        df = self.read(cfg, as_of=as_of)
        self.insert(
            df.drop(*[c for c in df.columns if c.startswith("_hoodie_")]),
            clone,
        )
        return clone

    def resize_buckets(
        self,
        table: str | TableConfig,
        num_buckets: int,
        partition_filter: str | Column | None = None,
    ) -> dict | None:
        """Bucket-index rescale (the Hudi 0.14 consistent-hashing bucket
        resize analog, as an explicit table service): rewrite the live
        file slices hash-placed into `num_buckets` files per partition
        and update `bucket.num` so subsequent writes place by the new
        fan-out. `partition_filter` scopes the rewrite, so a 100 TB
        table rescales partition-by-partition under operator control
        (each run one replacecommit) instead of one monolithic rewrite —
        reads never depend on the bucket count, so mixed old/new layouts
        are always correct; only NEW writes use the updated count. MOR
        deltas in scope are folded in (resize emits base files, like
        clustering)."""
        cfg = self._resolve(table)
        if not cfg.props.get("bucket.num"):
            raise ValueError("table has no bucket index (`bucket.num` prop)")
        live = Timeline(cfg.path).live_files()
        if partition_filter is not None:
            live = self._prune_files(live, partition_filter)
        # persist the new fan-out first: a write racing this resize
        # already places by the new count
        cfg.props["bucket.num"] = str(int(num_buckets))
        cfg.save()
        if not live:
            return None
        return self._rewrite(
            cfg, new_instant(), tlmod.REPLACECOMMIT, "bucket_resize", live
        )

    def clean(
        self,
        table: str | TableConfig,
        retain_commits: int = 10,
        stale_staging_s: float = 3600.0,
        policy: str = "KEEP_LATEST_COMMITS",
        retain_file_versions: int = 3,
        retain_hours: float | None = None,
    ) -> dict:
        """Cleaning (M4) — retainCommits (JavaClientHive2Hudi.java:185):
        physically delete data files unreferenced by the retained
        commits. All three Hudi cleaning policies:

        - ``KEEP_LATEST_COMMITS`` (default): the last `retain_commits`
          commits stay restorable.
        - ``KEEP_LATEST_FILE_VERSIONS``: per partition, the file sets of
          its last `retain_file_versions` touching commits stay
          restorable (Hudi's file-slice version retention at our
          partition-rewrite granularity).
        - ``KEEP_LATEST_BY_HOURS``: commits within `retain_hours` of the
          newest instant stay restorable (instant-time based, so the
          decision is deterministic and replayable).

        Passing `retain_hours` selects KEEP_LATEST_BY_HOURS implicitly.

        Also sweeps `_tmp/` staging directories older than
        `stale_staging_s` (a crashed writer's leftovers — Hudi's marker
        cleanup analog). Age-gated because staging is SHARED by live
        concurrent writers; the next write must never sweep it."""
        cfg = self._resolve(table)
        tl = Timeline(cfg.path)
        # inflight markers partition uncommitted instants into live
        # writers (fresh marker — protect their files REGARDLESS of age;
        # a slow bulk write must never be reclaimed under itself) and
        # dead ones (stale marker — reclaim promptly, by instant)
        inflight = tl.inflight()
        live_writers = {
            m["instant"] for m in inflight if m["age_s"] < stale_staging_s
        }
        dead_writers = {
            m["instant"] for m in inflight if m["age_s"] >= stale_staging_s
        }
        staging = Path(cfg.path) / "_tmp"
        if staging.is_dir():
            import time as _time

            now = _time.time()
            for sub in staging.iterdir():
                # staging dirs are named {instant}-{token}
                inst = sub.name.split("-", 1)[0]
                if inst in live_writers:
                    continue
                try:
                    if (
                        inst in dead_writers
                        or now - sub.stat().st_mtime >= stale_staging_s
                    ):
                        shutil.rmtree(sub, ignore_errors=True)
                except FileNotFoundError:
                    continue
            try:
                staging.rmdir()
            except OSError:
                pass
        metas = tl.instants(include_archived=True)
        instants = [m["instant"] for m in metas]
        if retain_hours is not None:
            policy = "KEEP_LATEST_BY_HOURS"
        referenced: set[str] = set()
        if policy == "KEEP_LATEST_COMMITS":
            keep_instants = instants[-retain_commits:] if instants else []
        elif policy == "KEEP_LATEST_BY_HOURS":
            def _ts(i: str) -> "datetime":
                return datetime.strptime(i[:14], "%Y%m%d%H%M%S")

            if instants:
                cutoff = _ts(instants[-1]) - timedelta(
                    hours=retain_hours if retain_hours is not None else 24.0
                )
                keep_instants = [i for i in instants if _ts(i) >= cutoff]
            else:
                keep_instants = []
        elif policy == "KEEP_LATEST_FILE_VERSIONS":
            # per-partition version retention: replay the timeline once
            # to find which instants touched each partition, then keep
            # that partition's files at its last N touching instants.
            # Metadata-only (no data scan), like the other policies.
            keep_instants = instants[-1:] if instants else []
            touched: dict[str, list[str]] = {}
            state: dict[str, str] = {}  # relpath -> partition
            for m in metas:
                parts = {
                    f.get("partition", "") for f in m["files_added"]
                }
                if m["files_removed"] == "*":
                    parts |= set(state.values())
                    state = {}
                else:
                    for rp in m["files_removed"]:
                        pp = state.pop(rp, None)
                        if pp is not None:
                            parts.add(pp)
                for f in m["files_added"]:
                    state[f["path"]] = f.get("partition", "")
                for pp in parts:
                    touched.setdefault(pp, []).append(m["instant"])
            for pp, ins_list in touched.items():
                for i in ins_list[-retain_file_versions:]:
                    referenced |= {
                        p
                        for p, fm in tl.live_files(as_of=i).items()
                        if fm.get("partition", "") == pp
                    }
        else:
            raise ValueError(f"unknown cleaning policy: {policy}")
        for i in keep_instants:
            referenced |= set(tl.live_files(as_of=i))
        referenced |= set(tl.live_files())
        # savepointed snapshots stay restorable forever (Hudi savepoint
        # semantics): their file sets are never physically deleted
        for sp in tl.savepoints():
            referenced |= set(tl.live_files(as_of=sp))
        data = Path(cfg.path) / DATA_DIR
        removed = []
        if data.is_dir():
            import time as _time

            now = _time.time()
            for p in data.rglob("*.parquet"):
                rel = str(p.relative_to(data))
                if rel in referenced:
                    continue
                ins = _file_instant(p.name)
                if ins in live_writers:
                    # announced write still alive: its files are about to
                    # be referenced by a commit — never reclaim
                    continue
                if ins not in dead_writers:
                    # no marker (pre-marker files, foreign writers): the
                    # age gate is the conservative fallback — a writer
                    # that materialized but has not yet published may own
                    # this file
                    try:
                        if now - p.stat().st_mtime < stale_staging_s:
                            continue
                    except FileNotFoundError:
                        continue
                p.unlink()
                removed.append(rel)
        for ins in dead_writers:
            tl.finish_inflight(ins)
        if removed:
            from hudi_demo_spark.engine import bloom as B

            for rel in removed:
                B.sidecar_path(cfg.path, rel).unlink(missing_ok=True)
        # functional-index sidecars: fold per-commit entry files into one
        # and drop dead-file entries — sidecar metadata stays O(live
        # files) no matter how many commits the table has seen
        from hudi_demo_spark.engine import functional_index as fi

        fexprs = fi.indexed_exprs(cfg)
        if fexprs:
            live_base = {
                p
                for p, m in tl.live_files().items()
                if m.get("kind") not in ("delta", "external")
            }
            for name, expr in fexprs.items():
                fi.FunctionalIndex(self.spark, cfg, name, expr).compact(
                    live_base
                )
        instant = new_instant()
        return Timeline(cfg.path).commit(
            instant, tlmod.CLEAN, "clean", [], [], {"files_cleaned": len(removed)}
        )

    def rollback(
        self, table: str | TableConfig, instant: str,
        _allow_cross_clean: bool = False,
    ) -> list[str]:
        """Rollback (Hudi `call rollback_to_instant` analog): undo every
        commit AFTER `instant` — delete the data files those commits
        added and drop their timeline entries, restoring the table to
        its state as of `instant`. Files the undone commits *replaced*
        are still on disk (clean removes them physically, rollback does
        not), so the restored snapshot is complete. Refuses to cross a
        clean (physically deleted files cannot be restored) or the
        archive boundary — unless the target is savepoint-protected
        (restore path), whose file set clean never deletes. Returns the
        rolled-back instants."""
        cfg = self._resolve(table)
        tl = Timeline(cfg.path)
        active = tl.instants()
        if not any(m["instant"] == instant for m in active):
            raise ValueError(
                f"rollback target {instant} not in the active timeline "
                "(archived or unknown instant)"
            )
        undo = [m for m in active if m["instant"] > instant]
        if not _allow_cross_clean and any(
            m["action"] == tlmod.CLEAN for m in undo
        ):
            raise ValueError(
                "cannot rollback across a clean: cleaned files are "
                "physically deleted (savepoint + restore_to_savepoint "
                "protects a snapshot across cleans)"
            )
        data = Path(cfg.path) / DATA_DIR
        rolled: list[str] = []
        # newest first, so a crash mid-rollback leaves a consistent prefix
        for m in sorted(undo, key=lambda m: m["instant"], reverse=True):
            for f in m["files_added"]:
                p = data / f["path"]
                if p.exists():
                    p.unlink()
                if f.get("bloom"):
                    from hudi_demo_spark.engine import bloom as B

                    B.sidecar_path(cfg.path, f["path"]).unlink(
                        missing_ok=True
                    )
            (tl.dir / f"{m['instant']}.{m['action']}.json").unlink(
                missing_ok=True
            )
            rolled.append(m["instant"])
        if rolled:
            idx = self._record_index(cfg)
            if idx is not None:
                # the undone commits' index entries would only be false
                # positives, but a wholesale state reset deserves a clean
                # slate: truncate; the next write rebuilds from the
                # restored snapshot
                idx.truncate()
            self._secondary_truncate(cfg)
        return rolled

    def savepoint(
        self, table: str | TableConfig, instant: str | None = None
    ) -> str:
        """Savepoint (Hudi `call create_savepoint(commit_time => ...)`):
        mark a commit's snapshot — the latest by default — as
        restorable; clean will never physically delete the files that
        snapshot references."""
        cfg = self._resolve(table)
        tl = Timeline(cfg.path)
        if instant is None:
            instant = tl.last_instant()
            if instant is None:
                raise ValueError("cannot savepoint an empty table")
        elif not any(
            m["instant"] == instant
            for m in tl.instants(include_archived=True)
        ):
            raise ValueError(f"unknown instant: {instant}")
        tl.create_savepoint(instant)
        return instant

    def delete_savepoint(self, table: str | TableConfig, instant: str) -> bool:
        return Timeline(self._resolve(table).path).delete_savepoint(instant)

    def savepoints(self, table: str | TableConfig) -> list[str]:
        return Timeline(self._resolve(table).path).savepoints()

    def restore_to_savepoint(
        self, table: str | TableConfig, instant: str
    ) -> list[str]:
        """Restore (Hudi `call rollback_to_savepoint`): rollback to a
        savepointed instant — valid across cleans because savepointed
        file sets are clean-protected."""
        tl = Timeline(self._resolve(table).path)
        if instant not in tl.savepoints():
            raise ValueError(f"no savepoint at instant {instant}")
        return self.rollback(table, instant, _allow_cross_clean=True)

    def archive(self, table: str | TableConfig, keep: int = 30) -> int:
        """Timeline archival (M3) — archiveCommitsWith
        (HoodieJavaWriteClientExample.java:85)."""
        cfg = self._resolve(table)
        return Timeline(cfg.path).archive(keep)

    def export_snapshot(
        self,
        table: str | TableConfig,
        dest: str,
        as_of: str | None = None,
        fmt: str = "parquet",
        keep_meta: bool = False,
        partitioned: bool = True,
    ) -> int:
        """Hudi snapshot-exporter shape (HoodieSnapshotExporter / `CALL
        export_snapshot`): write the table's snapshot — optionally a
        time-travel snapshot — as a PLAIN dataset at `dest` for
        consumers without the engine (fmt ∈ parquet/orc/json/csv).
        Meta columns are stripped unless `keep_meta`; the source's hive
        partitioning is preserved (disable with `partitioned=False`)
        so downstream scans keep partition pruning. One distributed
        write, no driver materialization; the returned row count rides
        the write itself via an Observation, so export cost stays a
        single pass over the live file set at any table size."""
        if fmt not in ("parquet", "orc", "json", "csv"):
            raise ValueError(f"unsupported export format: {fmt}")
        from pyspark.sql import Observation

        cfg = self._resolve(table)
        df = self.read(cfg, as_of=as_of)
        if not keep_meta:
            df = df.drop(*[c for c in df.columns if c.startswith("_hoodie_")])
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        writer = df.write.mode("overwrite").format(fmt)
        if partitioned and cfg.partition_fields:
            writer = writer.partitionBy(*cfg.partition_fields)
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.save(dest)
        return int(obs.get["n"])
