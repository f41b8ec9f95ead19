"""SQL DML surface — the SparkSQLDemo statement set over engine tables.

The reference's primary UX is `spark.sql("...")` DML against Hudi tables,
enabled by HoodieSparkSessionExtension's parser rules
(hudi0.12_spark3.1/.../SparkSQLDemo.scala:17,31-91). PySpark cannot
install analyzer rules for DML against a path-based table, so the engine
ships a small statement router with the same surface: CREATE/DROP TABLE,
INSERT INTO (VALUES | SELECT), UPDATE, DELETE, MERGE INTO, CALL
show_commits, and pass-through SELECT over synced temp views.

Literal parsing is delegated to Spark itself (`SELECT ... FROM VALUES`),
expressions stay Spark SQL strings evaluated by Catalyst — the router
only recognizes statement shapes; it is not a new SQL dialect.
Unsupported shapes raise with a pointer to the Python API.
"""

from __future__ import annotations
from hudi_demo_spark.operators.util import rows_df as _rows_df

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WS = r"\s+"


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    out, depth, cur, quote = [], 0, [], None
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


class SqlRouter:
    def __init__(self, engine):
        self.engine = engine
        self.spark = engine.spark

    def sql(self, statement: str) -> DataFrame | None:
        s = statement.strip().rstrip(";").strip()
        low = s.lower()
        if low.startswith("create table"):
            return self._create(s)
        if low.startswith("drop table"):
            return self._drop(s)
        if low.startswith("insert into"):
            return self._insert(s)
        if low.startswith("insert overwrite"):
            return self._insert_overwrite(s)
        if low.startswith("update"):
            return self._update(s)
        if low.startswith("delete from"):
            return self._delete(s)
        if low.startswith("merge into"):
            return self._merge(s)
        if low.startswith("call"):
            return self._call(s)
        if low.startswith("alter table"):
            return self._alter(s)
        if low.startswith("truncate table"):
            return self._truncate(s)
        if low.startswith("create index"):
            return self._create_index(s)
        if low.startswith("drop index"):
            return self._drop_index(s)
        m = re.match(r"show\s+indexes\s+(?:from|in)\s+(\S+)$", s, re.I)
        if m:
            return self.engine.show_indexes(m.group(1))
        m = re.match(r"describe\s+(?:table\s+)?(?:extended\s+)?(\S+)$", s, re.I)
        if m and low.startswith("describe"):
            try:
                self.engine._resolve(m.group(1))
            except (KeyError, ValueError, FileNotFoundError):
                pass  # not an engine table: fall through to Catalyst
            else:
                return self._describe(m.group(1))
        m = re.match(r"show\s+create\s+table\s+(\S+)$", s, re.I)
        if m:
            return self._show_create(m.group(1))
        m = re.match(r"show\s+tblproperties\s+(\S+)$", s, re.I)
        if m:
            cfg = self.engine._resolve(m.group(1))
            return _rows_df(self.spark, 
                sorted((k, str(v)) for k, v in cfg.props.items()),
                "key string, value string",
            )
        m = re.match(r"show\s+partitions\s+(\S+)$", s, re.I)
        if m:
            try:
                self.engine._resolve(m.group(1))
            except (KeyError, ValueError, FileNotFoundError):
                pass  # not an engine table: fall through to Catalyst
            else:
                return (
                    self.engine.show_fsview(m.group(1))
                    .select("partition").distinct().orderBy("partition")
                )
        # read-side SQL: refresh temp views, let Catalyst do the rest
        # (IncrementalQuery.scala:57-59 pattern)
        self.engine.sync_catalog()
        return self.spark.sql(
            self._rewrite_tvfs(self._rewrite_time_travel(s))
        )

    # ------------------------------------------------------------------

    _TT = re.compile(r"\b(\w+)\s+timestamp\s+as\s+of\s+'([^']+)'", re.I)

    def _rewrite_time_travel(self, s: str) -> str:
        """Hudi's Spark 3.3+ time-travel SQL (`SELECT ... FROM t
        TIMESTAMP AS OF '20220101...'`): each engine-table reference
        with a TIMESTAMP AS OF clause is replaced by a temp view over
        `Engine.read(table, as_of=instant)`. Accepts raw instants and
        'yyyy-MM-dd HH:mm:ss[.SSS]' forms (separators stripped; prefix
        comparison against yyyyMMddHHmmssSSSSSS instants gives
        start-of-interval semantics, matching Hudi). Non-engine tables
        are left untouched for Catalyst to reject or resolve."""

        def repl(m: re.Match) -> str:
            table, raw = m.group(1), m.group(2)
            try:
                self.engine._resolve(table)
            except (KeyError, ValueError, FileNotFoundError):
                return m.group(0)
            instant = re.sub(r"[^0-9]", "", raw)
            view = f"{table}_asof_{instant}"
            self.engine.read(table, as_of=instant).createOrReplaceTempView(
                view
            )
            return view

        return self._TT.sub(repl, s)

    # ------------------------------------------------------------------

    def _alter(self, s: str) -> None:
        """ALTER TABLE schema evolution (Hudi 0.13 Spark-SQL surface):
        RENAME COLUMN a TO b | DROP COLUMN c | ADD COLUMNS (a type, ...)
        | ALTER COLUMN c TYPE t | CHANGE c c t COMMENT '...' (D6)."""
        m = re.match(r"alter\s+table\s+(\S+)\s+(.*)$", s, re.I | re.S)
        if not m:
            raise ValueError(f"unsupported ALTER shape: {s[:120]}")
        table, rest = m.group(1), m.group(2).strip()
        low = rest.lower()
        mm = re.match(r"rename\s+column\s+(\w+)\s+to\s+(\w+)$", rest, re.I)
        if mm:
            self.engine.alter_table(table, rename={mm.group(1): mm.group(2)})
            return None
        mm = re.match(r"drop\s+columns?\s*\(?\s*([\w\s,]+?)\s*\)?$", rest, re.I)
        if mm and low.startswith("drop"):
            cols = [c.strip() for c in mm.group(1).split(",") if c.strip()]
            self.engine.alter_table(table, drop=cols)
            return None
        mm = re.match(r"add\s+columns?\s*\((.*)\)$", rest, re.I | re.S)
        if mm:
            add = {}
            for part in _split_top_level(mm.group(1)):
                nm = re.match(r"(\w+)\s+(.+)$", part.strip(), re.S)
                if not nm:
                    raise ValueError(f"bad column spec: {part!r}")
                add[nm.group(1)] = nm.group(2).strip()
            self.engine.alter_table(table, add=add)
            return None
        mm = re.match(r"set\s+tblproperties\s*\((.*)\)$", rest, re.I | re.S)
        if mm:
            cfg = self.engine._resolve(table)
            for part in _split_top_level(mm.group(1)):
                km = re.match(
                    r"'?([\w.-]+)'?\s*=\s*'([^']*)'\s*$", part.strip()
                )
                if not km:
                    raise ValueError(f"bad property spec: {part!r}")
                cfg.props[km.group(1)] = km.group(2)
            cfg.save()
            return None
        mm = re.match(r"unset\s+tblproperties\s*\((.*)\)$", rest, re.I | re.S)
        if mm:
            cfg = self.engine._resolve(table)
            for part in _split_top_level(mm.group(1)):
                cfg.props.pop(part.strip().strip("'"), None)
            cfg.save()
            return None
        mm = re.match(r"alter\s+column\s+(\w+)\s+type\s+(.+)$", rest, re.I)
        if mm:
            self.engine.alter_table(
                table, widen={mm.group(1): mm.group(2).strip()}
            )
            return None
        # D6 — SyncCommentsAcrossClusters.scala:100-103
        mm = re.match(
            r"change\s+(\w+)\s+\w+\s+\S+\s+comment\s+'(.*)'$", rest, re.I | re.S
        )
        if mm:
            self.engine.alter_column_comment(table, mm.group(1), mm.group(2))
            return None
        raise ValueError(f"unsupported ALTER shape: {s[:120]}")

    # Hudi 1.0 table-valued functions in read SQL:
    #   hudi_table_changes(table, 'latest_state'|'cdc', startTs [, endTs])
    #   hudi_query(table, 'snapshot'|'read_optimized')
    #   hudi_timeline(table)   hudi_filesystem_view(table)
    _TVF = re.compile(
        r"\b(hudi_table_changes|hudi_query|hudi_timeline|"
        r"hudi_filesystem_view)\s*\(([^()]*)\)",
        re.I,
    )

    def _rewrite_tvfs(self, s: str) -> str:
        """Replace each Hudi TVF call with a temp view over the matching
        engine read; the surrounding SELECT then runs through Catalyst
        unchanged."""

        def repl(m: re.Match) -> str:
            fn = m.group(1).lower()
            args = [
                a.strip().strip("'\"")
                for a in _split_top_level(m.group(2))
                if a.strip()
            ]
            if not args:
                raise ValueError(f"{fn} needs a table argument")
            table = args[0]
            if fn == "hudi_timeline":
                df, view = self.engine.show_commits(table), f"{table}_tl"
            elif fn == "hudi_filesystem_view":
                df, view = self.engine.show_fsview(table), f"{table}_fsv"
            elif fn == "hudi_query":
                qt = args[1] if len(args) > 1 else "snapshot"
                df = self.engine.read(table, query_type=qt)
                view = f"{table}_q_{qt}"
            else:  # hudi_table_changes
                if len(args) < 3:
                    raise ValueError(
                        "hudi_table_changes(table, 'latest_state'|'cdc', "
                        "startTs [, endTs])"
                    )
                mode, start = args[1].lower(), args[2]
                begin = None if start.lower() == "earliest" else start
                end = args[3] if len(args) > 3 else None
                if mode == "cdc":
                    df = self.engine.read_cdc(table, begin=begin, end=end)
                elif mode == "latest_state":
                    df = self.engine.read_incremental(
                        table, begin=begin, end=end
                    )
                else:
                    raise ValueError(
                        f"unknown hudi_table_changes mode: {mode!r}"
                    )
                view = f"{table}_changes_{mode}"
            df.createOrReplaceTempView(view)
            return view

        return self._TVF.sub(repl, s)

    def _describe(self, table: str) -> DataFrame:
        """DESCRIBE [EXTENDED] t: (col_name, data_type, comment) rows for
        data columns, then partition info and the key/type config — the
        Spark DESCRIBE shape over the engine catalog."""
        cfg = self.engine._resolve(table)
        schema = self.engine._stored_schema(cfg)
        comments = cfg.props.get("column_comments", {}) or {}
        rows: list[tuple[str, str, str]] = []
        if schema is not None:
            for f in schema.fields:
                if f.name.startswith("_hoodie_"):
                    continue
                rows.append(
                    (f.name, f.dataType.simpleString(),
                     comments.get(f.name, ""))
                )
        if cfg.partition_fields:
            rows.append(("# Partition Information", "", ""))
            for c in cfg.partition_fields:
                rows.append((c, "", ""))
        rows.append(("# Detailed Table Information", "", ""))
        rows.append(("Name", cfg.name, ""))
        rows.append(("Type", cfg.table_type, ""))
        rows.append(("Primary Key", ",".join(cfg.record_key_fields or []), ""))
        rows.append(("PreCombine Field", cfg.precombine_field or "", ""))
        rows.append(("Location", cfg.path, ""))
        return _rows_df(self.spark, 
            rows, "col_name string, data_type string, comment string"
        )

    def _show_create(self, table: str) -> DataFrame:
        """SHOW CREATE TABLE t: reconstruct the reference-dialect DDL
        (SparkSQLDemo.scala:37-52 shape) from the catalog entry."""
        cfg = self.engine._resolve(table)
        schema = self.engine._stored_schema(cfg)
        cols = (
            ",\n  ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in schema.fields
                if not f.name.startswith("_hoodie_")
                and f.name != "_hoodie_is_deleted"
            )
            if schema is not None
            else ""
        )
        opts = [f"type = '{cfg.table_type}'"]
        if cfg.record_key_fields:
            opts.insert(0, f"primaryKey = '{','.join(cfg.record_key_fields)}'")
        if cfg.precombine_field:
            opts.insert(
                1 if cfg.record_key_fields else 0,
                f"preCombineField = '{cfg.precombine_field}'",
            )
        ddl = f"create table {cfg.name} (\n  {cols}\n) using hudi\n"
        if cfg.partition_fields:
            ddl += f"partitioned by ({', '.join(cfg.partition_fields)})\n"
        ddl += f"options ({', '.join(opts)})"
        return _rows_df(self.spark, [(ddl,)], "createtab_stmt string")

    def _create_index(self, s: str) -> None:
        """Hudi 1.0 index DDL:
        CREATE INDEX <name> ON <table> [USING secondary_index] (<col>)
        CREATE INDEX <name> ON <table> USING functional_index (<expr>)
        The name→column mapping is recorded so DROP INDEX resolves it."""
        m = re.match(
            r"create\s+index\s+(?:if\s+not\s+exists\s+)?(\w+)\s+on\s+(\S+)"
            r"(?:\s+using\s+(\w+))?\s*\((.*)\)\s*$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unsupported CREATE INDEX shape: {s[:120]}")
        name, table, using, arg = m.groups()
        arg = arg.strip()
        using = (using or "secondary_index").lower()
        if using == "functional_index":
            self.engine.create_functional_index(table, name, arg)
            return None
        if using != "secondary_index":
            raise ValueError(f"unsupported index type: {using}")
        if not re.fullmatch(r"\w+", arg):
            raise ValueError(
                "secondary_index takes a single column; use "
                f"functional_index for expressions: {arg!r}"
            )
        self.engine.create_index(table, arg)
        cfg = self.engine._resolve(table)
        cfg.props[f"index.secondary.name.{name.lower()}"] = arg
        cfg.save()
        return None

    def _drop_index(self, s: str) -> None:
        m = re.match(
            r"drop\s+index\s+(?:if\s+exists\s+)?(\w+)\s+on\s+(\S+)\s*$",
            s,
            re.I,
        )
        if not m:
            raise ValueError(f"unsupported DROP INDEX shape: {s[:120]}")
        name, table = m.groups()
        key = f"index.secondary.name.{name.lower()}"
        col = self.engine._resolve(table).props.get(key, name)
        self.engine.drop_index(table, col)
        # re-resolve: drop_index persisted its own config update
        cfg = self.engine._resolve(table)
        cfg.props.pop(key, None)
        cfg.save()
        return None

    def _truncate(self, s: str) -> None:
        """TRUNCATE TABLE t [PARTITION (dt='2022-10-08', ...)] — the
        Hudi Spark-SQL truncate surface. The PARTITION spec's k=v pairs
        are joined hive-style into the engine's partition path."""
        m = re.match(
            r"truncate\s+table\s+(\S+)"
            r"(?:\s+partition\s*\((.*)\))?\s*$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unsupported TRUNCATE shape: {s[:120]}")
        table, spec = m.group(1), m.group(2)
        parts = None
        if spec:
            kvs = []
            for part in _split_top_level(spec):
                km = re.match(r"(\w+)\s*=\s*'?([^']*)'?\s*$", part.strip())
                if not km:
                    raise ValueError(f"bad PARTITION spec: {part!r}")
                kvs.append(f"{km.group(1)}={km.group(2)}")
            parts = ["/".join(kvs)]
        self.engine.truncate(table, partitions=parts)
        return None

    def _call(self, s: str) -> DataFrame | None:
        """Hudi Spark-SQL procedure surface (CALL <proc>(k => 'v', ...)) —
        IncrementalQuery.scala:36-37's `call show_commits` plus the
        table-service procedures (rollback_to_instant, run_compaction,
        run_clustering, clean). `refresh_<kind>(table => 'v')` routes
        through the derived-table registry (`derived._KINDS`): every
        refresher named there is a procedure, so adding a kind means
        adding one registry entry, not a branch here."""
        m = re.match(r"call\s+(\w+)\s*\((.*)\)\s*$", s, re.I | re.S)
        if not m:
            raise ValueError(f"unsupported CALL shape: {s[:120]}")
        proc = m.group(1).lower()
        args = {}
        for kv in _split_top_level(m.group(2)):
            am = re.match(r"(\w+)\s*=>\s*'?([^']*)'?\s*$", kv.strip())
            if am:
                args[am.group(1).lower()] = am.group(2)
        table = args.get("table")
        if proc == "sync_catalog":
            # catalog-wide, no table arg — SyncHiveWithDatabase.scala's
            # runnable-job shape: CALL sync_catalog(database => 'db')
            names = self.engine.sync_catalog(
                database=args.get("database")
            )
            return _rows_df(self.engine.spark, 
                [(n,) for n in names], "table string"
            )
        if proc == "refresh_views":
            # catalog-wide, no table arg: refresh every derived table in
            # dependency order (cascading views settle in one call)
            from hudi_demo_spark.engine.derived import refresh_all

            out = refresh_all(self.engine)
            return _rows_df(self.spark, 
                [
                    (n, meta is not None, (meta or {}).get("instant"))
                    for n, meta in out.items()
                ],
                "view string, refreshed boolean, instant string",
            )
        if table is None:
            raise ValueError(f"call {proc}(table => '<name>', ...)")
        from hudi_demo_spark.engine.derived import _kind_refreshed_by

        kind = _kind_refreshed_by(proc)
        if kind is not None:
            meta = kind.refresh(self.engine, table)
            return _rows_df(
                self.spark,
                [(meta is not None, (meta or {}).get("instant"))],
                "refreshed boolean, instant string",
            )
        if proc == "show_commits":
            return self.engine.show_commits(table)
        if proc in ("show_fsview_all", "show_fsview"):
            return self.engine.show_fsview(table)
        if proc == "show_file_metadata":
            return self.engine.file_metadata(table)
        if proc == "validate_table":
            return self.engine.validate(table)
        if proc == "show_partition_stats":
            return self.engine.show_partition_stats(table)
        if proc == "show_inflight":
            return self.engine.show_inflight(table)
        if proc == "show_bloom_filters":
            return self.engine.show_blooms(table)
        if proc == "show_partitions":
            return (
                self.engine.show_fsview(table)
                .select("partition").distinct().orderBy("partition")
            )
        if proc == "rollback_to_instant":
            instant = args.get("instant_time")
            if not instant:
                raise ValueError(
                    "call rollback_to_instant(table => 't', instant_time => 'i')"
                )
            self.engine.rollback(table, instant)
            return None
        if proc == "run_compaction":
            # Hudi procedure surface: op => 'schedule' | 'run' (default)
            if args.get("op", "run").lower() == "schedule":
                i = self.engine.schedule_compaction(table)
                return _rows_df(self.spark, 
                    [(i,)], "requested_instant string"
                )
            self.engine.compact(
                table,
                max_io_mb=(
                    int(args["max_io_mb"]) if "max_io_mb" in args else None
                ),
            )
            return None
        if proc == "run_log_compaction":
            self.engine.log_compact(table)
            return None
        if proc == "show_compaction":
            return _rows_df(self.spark, 
                [(i,) for i in self.engine.pending_compactions(table)],
                "requested_instant string",
            )
        if proc == "run_clustering":
            op = args.get("op", "run").lower()
            order = [c.strip() for c in args.get("order", "").split(",")
                     if c.strip()]
            if op == "schedule":
                if not order:
                    raise ValueError(
                        "call run_clustering(table => 't', op => "
                        "'schedule', order => 'c1,c2')"
                    )
                i = self.engine.schedule_clustering(
                    table, order, strategy=args.get("strategy", "linear")
                )
                return _rows_df(self.spark, 
                    [(i,)], "requested_instant string"
                )
            if op == "execute":
                self.engine.run_clustering_plan(
                    table, instant=args.get("instant_time")
                )
                return None
            if not order:
                raise ValueError(
                    "call run_clustering(table => 't', order => 'c1,c2')"
                )
            self.engine.cluster(
                table, order, strategy=args.get("strategy", "linear")
            )
            return None
        if proc == "show_clustering":
            return _rows_df(self.spark, 
                [(i,) for i in self.engine.pending_clusterings(table)],
                "requested_instant string",
            )
        if proc == "clean":
            kw = {}
            if "policy" in args:
                kw["policy"] = args["policy"]
            if "retain_file_versions" in args:
                kw["retain_file_versions"] = int(args["retain_file_versions"])
            if "retain_hours" in args:
                kw["retain_hours"] = float(args["retain_hours"])
            self.engine.clean(
                table, retain_commits=int(args.get("retain_commits", 10)), **kw
            )
            return None
        if proc == "create_savepoint":
            self.engine.savepoint(
                table, instant=args.get("commit_time") or args.get(
                    "instant_time"
                )
            )
            return None
        if proc == "delete_savepoint":
            self.engine.delete_savepoint(table, args.get("instant_time", ""))
            return None
        if proc == "show_savepoints":
            return _rows_df(self.spark, 
                [(i,) for i in self.engine.savepoints(table)],
                "savepoint_time string",
            )
        if proc == "rollback_to_savepoint":
            instant = args.get("instant_time")
            if not instant:
                raise ValueError(
                    "call rollback_to_savepoint(table => 't', "
                    "instant_time => 'i')"
                )
            self.engine.restore_to_savepoint(table, instant)
            return None
        if proc == "delete_partition":
            parts = [
                p.strip()
                for p in args.get("partitions", "").split(",")
                if p.strip()
            ]
            if not parts:
                raise ValueError(
                    "call delete_partition(table => 't', "
                    "partitions => 'dt=a,dt=b')"
                )
            self.engine.delete_partition(table, parts)
            return None
        if proc == "run_ttl":
            # partition lifecycle: time-based (older_than instant /
            # retain_hours — Hudi KEEP_BY_TIME) or predicate-based
            # (condition over _hoodie_partition_path, RFC-65 shape)
            cond = args.get("condition")
            if cond:
                meta = self.engine.expire_partitions(table, cond)
            else:
                older = args.get("older_than")
                hours = args.get("retain_hours")
                if not older and not hours:
                    raise ValueError(
                        "call run_ttl(table => 't', older_than => '<instant>'"
                        " | retain_hours => h | condition => '<pred>')"
                    )
                meta = self.engine.ttl_partitions(
                    table,
                    older_than=older,
                    retain_hours=float(hours) if hours else None,
                )
            gone = meta.get("stats", {}).get("partitions_deleted", [])
            return _rows_df(self.spark, 
                [(p,) for p in gone] or [(None,)],
                "expired_partition string",
            ).filter("expired_partition is not null")
        if proc == "copy_to_table":
            new = args.get("new_table")
            if not new:
                raise ValueError(
                    "call copy_to_table(table => 't', new_table => 't2'"
                    "[, instant_time => 'i'])"
                )
            self.engine.copy_to_table(
                table, new, as_of=args.get("instant_time")
            )
            return None
        if proc == "export_snapshot":
            dest = args.get("path")
            if not dest:
                raise ValueError(
                    "call export_snapshot(table => 't', path => '/dir'"
                    "[, instant_time => 'i'])"
                )
            n = self.engine.export_snapshot(
                table, dest, as_of=args.get("instant_time")
            )
            return _rows_df(self.spark, 
                [(n,)], "exported_rows bigint"
            )
        if proc == "resize_bucket_index":
            n = args.get("buckets")
            if not n:
                raise ValueError(
                    "call resize_bucket_index(table => 't', buckets => N"
                    "[, partitions => 'dt=a,dt=b'])"
                )
            pf = None
            parts = [
                p.strip()
                for p in args.get("partitions", "").split(",")
                if p.strip()
            ]
            if parts:
                from pyspark.sql import functions as SF

                from hudi_demo_spark.engine.config import PARTITION_PATH_META

                pf = SF.col(PARTITION_PATH_META).isin(parts)
            self.engine.resize_buckets(
                table, int(n), partition_filter=pf
            )
            return None
        if proc == "rebuild_record_index":
            ok = self.engine.rebuild_record_index(table)
            return _rows_df(self.spark, [(ok,)], "rebuilt boolean")
        if proc == "create_rollup":
            # derived-table surface (DeltaStreamer-style runnable jobs):
            # CALL create_rollup(table => 'src', name => 'roll',
            #                    group_cols => 'a,b', sum_cols => 'v'
            #                    [, expr_cols => '{"bucket": "<sql>"}'])
            # expr_cols (JSON) makes it a continuous aggregate: derived
            # columns (time buckets) usable in group_cols
            import json as _json

            from hudi_demo_spark.engine.derived import create_rollup

            name = args.get("name")
            groups = [c.strip() for c in args.get("group_cols", "").split(",")
                      if c.strip()]
            sums = [c.strip() for c in args.get("sum_cols", "").split(",")
                    if c.strip()]
            if not name or not groups:
                raise ValueError(
                    "call create_rollup(table => 'src', name => 'roll', "
                    "group_cols => 'a,b', sum_cols => 'v')"
                )
            exprs = args.get("expr_cols")

            def _cols(key):
                return [c.strip() for c in args.get(key, "").split(",")
                        if c.strip()] or None

            hists = args.get("hist_cols")  # JSON {col: [lo, hi, n_bins]}
            samples = args.get("sample_cols")  # JSON {col: k}
            create_rollup(
                self.engine, table, name, groups, sums,
                expr_cols=_json.loads(exprs) if exprs else None,
                min_cols=_cols("min_cols"), max_cols=_cols("max_cols"),
                approx_distinct_cols=_cols("approx_distinct_cols"),
                hist_cols=_json.loads(hists) if hists else None,
                sample_cols=_json.loads(samples) if samples else None,
            )
            return None
        if proc == "rollup_sample":
            # CALL rollup_sample(table => 'roll', col => 'k') — serve
            # the maintained bottom-k sample (group cols…, rank, col)
            from hudi_demo_spark.engine.derived import rollup_sample

            col = args.get("col")
            if not col:
                raise ValueError(
                    "call rollup_sample(table => 'roll', col => 'k')"
                )
            return rollup_sample(self.engine, table, col)
        if proc == "rollup_percentiles":
            # CALL rollup_percentiles(table => 'roll', col => 'v',
            #                         qs => '0.5,0.99')
            from hudi_demo_spark.engine.derived import rollup_percentiles

            col = args.get("col")
            qs = [float(x) for x in args.get("qs", "").split(",")
                  if x.strip()]
            if not col or not qs:
                raise ValueError(
                    "call rollup_percentiles(table => 'roll', "
                    "col => 'v', qs => '0.5,0.99')"
                )
            return rollup_percentiles(self.engine, table, col, qs)
        if proc == "create_vector_index":
            # CALL create_vector_index(table => 'src', name => 'vix',
            #   id_col => 'vec_id', vec_col => 'embedding'
            #   [, n_centroids => '16']
            #   [, pq_m => '16', pq_codes => '16', pq_iters => '1',
            #      pq_sample_mod => '4'])  -- PQ-augmented (IVFPQ)
            from hudi_demo_spark.engine.vector_index import (
                create_vector_index,
            )

            name = args.get("name")
            id_col = args.get("id_col")
            vec_col = args.get("vec_col")
            if not name or not id_col or not vec_col:
                raise ValueError(
                    "call create_vector_index(table => 'src', name => 'v', "
                    "id_col => 'id', vec_col => 'vec')"
                )
            smod = args.get("pq_sample_mod")
            create_vector_index(
                self.engine, table, name, id_col, vec_col,
                n_centroids=int(args.get("n_centroids", 16)),
                pq_m=int(args["pq_m"]) if args.get("pq_m") else None,
                pq_codes=int(args.get("pq_codes", 16)),
                pq_iters=int(args.get("pq_iters", 1)),
                pq_sample_mod=int(smod) if smod else None,
            )
            return None
        if proc == "create_minhash_index":
            # CALL create_minhash_index(table => 'docs', name => 'mh',
            #   id_col => 'doc_id', text_col => 'text'
            #   [, num_hashes => '64', bands => '16'])
            from hudi_demo_spark.engine.minhash_index import (
                create_minhash_index,
            )

            name = args.get("name")
            id_col, text_col = args.get("id_col"), args.get("text_col")
            if not name or not id_col or not text_col:
                raise ValueError(
                    "call create_minhash_index(table => 'docs', "
                    "name => 'mh', id_col => 'id', text_col => 'text')"
                )
            create_minhash_index(
                self.engine, table, name, id_col, text_col,
                num_hashes=int(args.get("num_hashes", 64)),
                bands=int(args.get("bands", 16)),
            )
            return None
        if proc == "create_decontam_view":
            # CALL create_decontam_view(table => 'train', name => 'clean',
            #   eval_table => 'ev', id_col => 'doc_id',
            #   text_col => 'text' [, ngram => '8'])
            from hudi_demo_spark.engine.decontam_view import (
                create_decontam_view,
            )

            name = args.get("name")
            ev = args.get("eval_table")
            id_col, text_col = args.get("id_col"), args.get("text_col")
            if not name or not ev or not id_col or not text_col:
                raise ValueError(
                    "call create_decontam_view(table => 'train', "
                    "name => 'clean', eval_table => 'ev', "
                    "id_col => 'id', text_col => 'text')"
                )
            create_decontam_view(
                self.engine, table, ev, name, id_col, text_col,
                ngram=int(args.get("ngram", 8)),
            )
            return None
        if proc == "create_join_view":
            # CALL create_join_view(table => 'fact', name => 'view',
            #                       right_table => 'dim', on => 'k1,k2'
            #                       [, how => 'left'])
            from hudi_demo_spark.engine.derived import create_join_view

            name, right = args.get("name"), args.get("right_table")
            on = [c.strip() for c in args.get("on", "").split(",")
                  if c.strip()]
            if not name or not right or not on:
                raise ValueError(
                    "call create_join_view(table => 'fact', name => 'v', "
                    "right_table => 'dim', on => 'k')"
                )
            create_join_view(
                self.engine, name, table, right, on,
                how=args.get("how", "inner"),
            )
            return None
        if proc == "create_filter_view":
            # CALL create_filter_view(table => 'src', name => 'v',
            #     predicate => 'lang = ''en''' [, columns => 'a,b'])
            from hudi_demo_spark.engine.derived import create_filter_view

            name = args.get("name")
            predicate = args.get("predicate")
            if not name or not predicate:
                raise ValueError(
                    "call create_filter_view(table => 'src', name => 'v', "
                    "predicate => '<sql>' [, columns => 'a,b'])"
                )
            columns = [
                c.strip() for c in args.get("columns", "").split(",")
                if c.strip()
            ] or None
            create_filter_view(
                self.engine, table, name, predicate, columns=columns
            )
            return None
        raise ValueError(f"unknown procedure: {proc}")

    def _create(self, s: str) -> None:
        # CTAS: CREATE TABLE t [USING hudi] [PARTITIONED BY (...)]
        # [OPTIONS(...)] AS SELECT ... (Hudi Spark-SQL CTAS surface) —
        # schema inferred from the query, data written as commit 1
        mc = re.match(
            r"create\s+table\s+(if\s+not\s+exists\s+)?(\w+)\s*"
            r"(using\s+\w+\s*)?"
            r"(partitioned\s+by\s*\(([^)]*)\)\s*)?"
            r"((?:options|tblproperties)\s*\((.*?)\)\s*)?"
            r"as\s+(select\b.*)$",
            s,
            re.I | re.S,
        )
        if mc:
            name = mc.group(2)
            part_cols = [
                c.strip() for c in (mc.group(5) or "").split(",") if c.strip()
            ]
            opts = {}
            for kv in _split_top_level(mc.group(7) or ""):
                km = re.match(r"`?([\w.]+)`?\s*=\s*'([^']*)'", kv.strip())
                if km:
                    opts[km.group(1).lower()] = km.group(2)
            self.engine.sync_catalog()
            df = self.spark.sql(
                self._rewrite_tvfs(self._rewrite_time_travel(mc.group(8)))
            )
            known = {"primarykey", "precombinefield", "type", "payload"}
            self.engine.create_table(
                name,
                record_key=opts.get("primarykey"),
                precombine=opts.get("precombinefield"),
                partition_by=part_cols or None,
                table_type=opts.get("type", "cow"),
                payload=opts.get("payload"),
                schema=df.schema,
                props={k: v for k, v in opts.items() if k not in known}
                or None,
                if_not_exists=bool(mc.group(1)),
            )
            self.engine.insert(df, name)
            return None
        m = re.match(
            r"create\s+table\s+(if\s+not\s+exists\s+)?(\w+)\s*\((.*?)\)\s*"
            r"(using\s+\w+\s*)?"
            r"(partitioned\s+by\s*\(([^)]*)\)\s*)?"
            r"((options|tblproperties)\s*\((.*)\)\s*)?$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unsupported CREATE TABLE shape: {s[:120]}")
        name = m.group(2)
        cols_sql = m.group(3)
        part_cols = [c.strip() for c in (m.group(6) or "").split(",") if c.strip()]
        opts_sql = m.group(9) or ""
        opts = {}
        for kv in _split_top_level(opts_sql):
            # keys may be bare words or backtick-quoted dotted props
            # (`index.global`, `write.stats_cols`)
            km = re.match(r"`?([\w.]+)`?\s*=\s*'([^']*)'", kv.strip())
            if km:
                opts[km.group(1).lower()] = km.group(2)
        from pyspark.sql import types as T

        fields = []
        for col in _split_top_level(cols_sql):
            cm = re.match(r"(\w+)\s+(.+)", col.strip(), re.S)
            if not cm:
                raise ValueError(f"bad column def: {col}")
            fields.append(
                T.StructField(cm.group(1), _parse_type(cm.group(2).strip()))
            )
        # DDL lists partition columns inside the column list (Spark SQL
        # convention keeps them there for `using hudi` tables)
        schema = T.StructType(fields)
        known = {"primarykey", "precombinefield", "type", "payload"}
        props = {k: v for k, v in opts.items() if k not in known}
        self.engine.create_table(
            name,
            record_key=opts.get("primarykey"),
            precombine=opts.get("precombinefield"),
            partition_by=part_cols or None,
            table_type=opts.get("type", "cow"),
            payload=opts.get("payload"),
            schema=schema,
            # unknown options flow through as table properties, the
            # tblproperties convention (index.global, compact.inline, …)
            props=props or None,
            if_not_exists=bool(m.group(1)),
        )
        return None

    def _drop(self, s: str) -> None:
        m = re.match(r"drop\s+table\s+(if\s+exists\s+)?(\w+)\s*$", s, re.I)
        if not m:
            raise ValueError(f"unsupported DROP TABLE shape: {s}")
        self.engine.drop_table(m.group(2))
        return None

    def _insert(self, s: str) -> None:
        m = re.match(
            r"insert\s+into\s+(\w+)\s*(?:\(([^)]*)\)\s*)?(.*)$",
            s,
            re.I | re.S,
        )
        name, col_list, rest = m.group(1), m.group(2), m.group(3).strip()
        cfg = self.engine._resolve(name)
        schema = self.engine._stored_schema(cfg)
        data_fields = [
            f for f in schema.fields if not f.name.startswith("_hoodie_")
        ]
        data_cols = [f.name for f in data_fields]
        target_cols = (
            [c.strip() for c in col_list.split(",") if c.strip()]
            if col_list
            else data_cols
        )
        unknown = [c for c in target_cols if c not in data_cols]
        if unknown:
            raise ValueError(f"unknown INSERT columns: {unknown}")
        if rest.lower().startswith("values"):
            body = rest[len("values") :].strip()
            df = self.spark.sql(
                f"SELECT * FROM VALUES {body} AS t({', '.join(target_cols)})"
            )
        elif rest.lower().startswith("select"):
            self.engine.sync_catalog()
            df = self.spark.sql(rest).toDF(*target_cols)
        else:
            raise ValueError(f"unsupported INSERT shape: {rest[:80]}")
        if target_cols != data_cols:
            # partial column list: unmentioned data columns insert NULL
            df = df.select(
                *[
                    F.col(f.name)
                    if f.name in target_cols
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in data_fields
                ]
            )
        self.engine.insert(df, name)
        return None

    def _insert_overwrite(self, s: str) -> None:
        """INSERT OVERWRITE [TABLE] t VALUES …/SELECT …: `TABLE` form
        replaces the whole table (Hudi insert_overwrite_table); without it
        the write replaces only the partitions receiving data (Hudi
        insert_overwrite) — Spark's static vs dynamic partition-overwrite
        split, expressed the Hudi way."""
        m = re.match(
            r"insert\s+overwrite\s+(table\s+)?(\w+)\s+(.*)$", s, re.I | re.S
        )
        if not m:
            raise ValueError(f"unsupported INSERT OVERWRITE shape: {s[:80]}")
        whole_table, name, rest = bool(m.group(1)), m.group(2), m.group(3).strip()
        cfg = self.engine._resolve(name)
        data_cols = [
            f.name
            for f in self.engine._stored_schema(cfg).fields
            if not f.name.startswith("_hoodie_")
        ]
        if rest.lower().startswith("values"):
            body = rest[len("values") :].strip()
            df = self.spark.sql(
                f"SELECT * FROM VALUES {body} AS t({', '.join(data_cols)})"
            )
        elif rest.lower().startswith("select"):
            self.engine.sync_catalog()
            df = self.spark.sql(rest).toDF(*data_cols)
        else:
            raise ValueError(f"unsupported INSERT OVERWRITE shape: {rest[:80]}")
        if whole_table:
            self.engine.overwrite(df, name)
        else:
            self.engine.insert_overwrite(df, name)
        return None

    def _update(self, s: str) -> None:
        m = re.match(
            r"update\s+(\w+)\s+set\s+(.*?)(?:\s+where\s+(.*))?$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unsupported UPDATE shape: {s[:120]}")
        name, set_sql, where = m.groups()
        where = where or "true"  # WHERE-less UPDATE touches every row
        assigns = {}
        for a in _split_top_level(set_sql):
            am = re.match(r"([\w.]+)\s*=\s*(.+)$", a.strip(), re.S)
            if not am:
                raise ValueError(f"bad assignment: {a}")
            assigns[am.group(1).split(".")[-1]] = am.group(2).strip()
        self.engine.update(name, set=assigns, where=where)
        return None

    def _delete(self, s: str) -> None:
        m = re.match(r"delete\s+from\s+(\w+)(\s+where\s+(.*))?$", s, re.I | re.S)
        if not m:
            raise ValueError(f"unsupported DELETE shape: {s[:120]}")
        name, cond = m.group(1), m.group(3) or "true"
        self.engine.delete(name, cond)
        return None

    def _merge(self, s: str) -> None:
        """MERGE INTO t [AS] t0 USING (<query>|table) [AS] s0 ON <cond>
        WHEN MATCHED [AND c] THEN UPDATE SET * | WHEN MATCHED [AND c] THEN
        DELETE | WHEN NOT MATCHED [AND c] THEN INSERT * —
        SparkSQLDemo.scala:77-91's exact shape."""
        m = re.match(
            r"merge\s+into\s+(\w+)(?:\s+as)?(?:\s+(\w+))?\s+using\s+(.*?)"
            r"(?:\s+as)?\s+(\w+)\s+on\s+(.*?)\s+(when\s+.*)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unsupported MERGE shape: {s[:120]}")
        name, t_alias, src_sql, s_alias, on_sql, clauses_sql = m.groups()
        t_alias = t_alias or "t0"
        src_sql = src_sql.strip()
        if src_sql.startswith("("):
            src_sql = src_sql[1:-1]
        else:
            src_sql = f"select * from {src_sql}"
        self.engine.sync_catalog()
        source = self.spark.sql(src_sql)

        def fix(cond: str | None) -> str | None:
            if cond is None:
                return None
            return re.sub(
                rf"\b({re.escape(s_alias)})\.", "s.",
                re.sub(rf"\b({re.escape(t_alias)})\.", "t.", cond),
            )

        bs_del_cond = bs_upd_cond = None
        bs_upd_set: dict | None = None
        has_bs_delete = False
        matched_list: list[tuple] = []  # ordered (cond, action)
        ins_list: list[tuple] = []  # ordered (cond, "*"|{col: expr})
        for cm in re.finditer(
            r"when\s+(not\s+)?matched(\s+by\s+source)?(?:\s+and\s+(.*?))?"
            r"\s+then\s+(update\s+set\s+.*?|delete|insert\s+.*?)"
            r"(?=\s+when\s+(?:not\s+)?matched|\s*$)",
            clauses_sql,
            re.I | re.S,
        ):
            notm, by_source, cond, action = cm.groups()
            low_action = action.lower().strip()
            if notm and by_source:
                # Spark 3.4 MERGE: act on target rows without a source
                # match (sync deletions / flagging)
                if low_action == "delete":
                    has_bs_delete, bs_del_cond = True, cond
                elif low_action.startswith("update"):
                    body = re.sub(
                        r"^update\s+set\s+", "", action.strip(), flags=re.I
                    )
                    bs_upd_set = {}
                    for a in _split_top_level(body):
                        am = re.match(r"([\w.]+)\s*=\s*(.+)$", a.strip(), re.S)
                        if not am:
                            raise ValueError(f"bad assignment: {a!r}")
                        bs_upd_set[am.group(1).split(".")[-1]] = fix(
                            am.group(2).strip()
                        )
                    bs_upd_cond = cond
                else:
                    raise ValueError(
                        "NOT MATCHED BY SOURCE supports UPDATE SET/DELETE"
                    )
                continue
            if notm and low_action.startswith("insert"):
                body = action.strip()[len("insert"):].strip()
                if body == "*":
                    ins_list.append((fix(cond), "*"))
                else:
                    # INSERT (cols) VALUES (exprs)
                    im = re.match(
                        r"\(([^)]*)\)\s*values\s*\((.*)\)\s*$", body,
                        re.I | re.S,
                    )
                    if not im:
                        raise ValueError(f"bad INSERT clause: {action[:80]}")
                    cols = [c.strip() for c in im.group(1).split(",")]
                    exprs = _split_top_level(im.group(2))
                    if len(cols) != len(exprs):
                        raise ValueError(
                            "INSERT column/value count mismatch"
                        )
                    ins_list.append((
                        fix(cond),
                        {
                            c.split(".")[-1]: fix(e.strip())
                            for c, e in zip(cols, exprs)
                        },
                    ))
            elif low_action.startswith("update"):
                body = action.strip()[len("update"):].strip()
                body = re.sub(r"^set\s+", "", body, flags=re.I)
                if body.strip() == "*":
                    upd_set: dict | str = "*"
                else:
                    # UPDATE SET col = expr, ... (explicit assignments)
                    upd_set = {}
                    for a in _split_top_level(body):
                        am = re.match(r"([\w.]+)\s*=\s*(.+)$", a.strip(), re.S)
                        if not am:
                            raise ValueError(f"bad assignment: {a!r}")
                        upd_set[am.group(1).split(".")[-1]] = fix(
                            am.group(2).strip()
                        )
                matched_list.append((fix(cond), upd_set))
            elif low_action == "delete":
                matched_list.append((fix(cond), "delete"))
        self.engine.merge(
            name,
            source,
            matched_clauses=matched_list,
            # an empty list means: a MERGE with no NOT MATCHED clause
            # inserts nothing (old router behavior wrongly inserted)
            not_matched_clauses=ins_list,
            not_matched_by_source_delete_cond=(
                (fix(bs_del_cond) or "true") if has_bs_delete else None
            ),
            not_matched_by_source_update_set=bs_upd_set,
            not_matched_by_source_update_cond=(
                fix(bs_upd_cond) if bs_upd_cond else None
            ),
        )
        return None


def _parse_type(t: str):
    from pyspark.sql import types as T

    return T._parse_datatype_string(t)
