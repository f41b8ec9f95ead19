"""The reference's SparkSQLDemo.main SQL script, statement for statement,
through the engine's SQL router (SparkSQLDemo.scala:22-91) — the closest
thing to running the demo verbatim on this engine."""

import pytest


def test_spark_sql_demo_script(engine, spark):
    engine.sql("drop table if exists test_hudi_table")
    engine.sql(
        """
        create table test_hudi_table (
          id int,
          name string,
          price double,
          ts long,
          dt string
        ) using hudi
        partitioned by (dt)
        options (
          primaryKey = 'id',
          preCombineField = 'ts',
          type = 'cow'
        )
        """
    )
    # SparkSQLDemo.scala:56
    engine.sql(
        "insert into test_hudi_table values (1,'hudi',10,100,'2022-09-05'),"
        "(2,'hudi',10,100,'2022-09-05')"
    )
    # :57-61 insert select ... union
    engine.sql(
        "insert into test_hudi_table select 3, 'hudi', 10, 100, '2022-09-25' "
        "union select 4, 'hudi', 10, 100, '2022-09-25'"
    )
    # :69-71
    engine.sql("update test_hudi_table set price = 20.0 where id = 1")
    # :73-75
    engine.sql("delete from test_hudi_table where id = 1")
    # :77-91
    engine.sql(
        """
        merge into test_hudi_table as t0
        using (
          select 2 as id, 'hudi_2' as name, 20 as price, 2000 as ts,
                 '2022-09-05' as dt, 'DELETE' as opt_type
          union
          select 3 as id, 'hudi_3' as name, 30 as price, 3000 as ts,
                 '2022-09-25' as dt, 'UPDATE' as opt_type
          union
          select 5 as id, 'hudi_5' as name, 50 as price, 5000 as ts,
                 '2022-09-25' as dt, 'INSERT' as opt_type
        ) s0
        on t0.id = s0.id
        when matched and s0.opt_type != 'DELETE' then update set *
        when matched and s0.opt_type = 'DELETE' then delete
        when not matched and s0.opt_type != 'DELETE' then insert *
        """
    )
    # :65-67 select * from test_hudi_table
    out = engine.sql("select id, name, price from test_hudi_table order by id")
    rows = [(r[0], r[1], r[2]) for r in out.collect()]
    assert rows == [(3, "hudi_3", 30.0), (4, "hudi", 10.0), (5, "hudi_5", 50.0)]
    # call show_commits (IncrementalQuery.scala:36)
    commits = engine.sql("call show_commits(table => 'test_hudi_table')")
    ops = [c["operation"] for c in commits.collect()]
    assert ops == ["merge", "delete", "update", "insert", "insert"]


def test_sql_router_rejects_unknown_dml(engine):
    with pytest.raises(ValueError):
        engine.sql("update t set x")  # no WHERE


def test_alter_column_comment(engine, spark):
    engine.create_table("c", record_key="id")
    engine.alter_column_comment("c", "id", "the key")
    cfg = engine._resolve("c")
    assert cfg.props["column_comments"]["id"] == "the key"


def test_sql_insert_overwrite_partition_scoped(engine, spark):
    engine.sql(
        "create table iow (id int, name string, price double, ts long, dt string) "
        "using hudi partitioned by (dt) "
        "options (primaryKey = 'id', preCombineField = 'ts', type = 'cow')"
    )
    engine.sql(
        "insert into iow values (1,'a',10,100,'2022-09-05'),"
        "(2,'b',20,100,'2022-09-06')"
    )
    # partition-scoped: only dt=2022-09-06 is replaced
    engine.sql("insert overwrite iow values (9,'z',90,200,'2022-09-06')")
    rows = sorted(
        tuple(r) for r in engine.read("iow").select("id", "dt").collect()
    )
    assert rows == [(1, "2022-09-05"), (9, "2022-09-06")]
    # TABLE form: whole table replaced
    engine.sql("insert overwrite table iow values (7,'q',70,300,'2022-09-07')")
    rows = sorted(tuple(r) for r in engine.read("iow").select("id", "dt").collect())
    assert rows == [(7, "2022-09-07")]


def test_call_delete_partition_and_rebuild_index(engine, spark):
    from hudi_demo_spark.engine.sql import SqlRouter

    engine.create_table(
        "cp", record_key="id", precombine="ts", partition_by="dt",
        props={"index.global": "true", "index.record_level": "true"},
    )
    df = spark.createDataFrame(
        [(1, 100, "a"), (2, 100, "b")], "id int, ts long, dt string"
    )
    engine.insert(df, "cp")
    router = SqlRouter(engine)
    router.sql("call delete_partition(table => 'cp', partitions => 'dt=a')")
    assert [r[0] for r in engine.read("cp").select("id").collect()] == [2]
    out = router.sql("call rebuild_record_index(table => 'cp')")
    assert out.collect()[0][0] is True


def test_create_table_options_flow_to_props(engine, spark):
    from hudi_demo_spark.engine.sql import SqlRouter

    router = SqlRouter(engine)
    router.sql("""
        create table gp (id int, name string, ts long, dt string)
        using hudi partitioned by (dt)
        options (primaryKey = 'id', preCombineField = 'ts',
                 payload = 'partial_update',
                 `index.global` = 'true', `write.stats_cols` = 'ts')
    """)
    cfg = engine._resolve("gp")
    assert cfg.payload == "partial_update"
    assert cfg.props.get("index.global") == "true"
    assert cfg.props.get("write.stats_cols") == "ts"


def test_call_show_partitions(engine, spark):
    from hudi_demo_spark.engine.sql import SqlRouter

    engine.create_table("sp2", record_key="id", partition_by="dt")
    engine.insert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, dt string"),
        "sp2",
    )
    out = SqlRouter(engine).sql("call show_partitions(table => 'sp2')")
    assert [r[0] for r in out.collect()] == ["dt=a", "dt=b"]


def test_sql_time_travel_timestamp_as_of(engine, spark):
    """Hudi Spark 3.3+ time-travel SQL: SELECT ... FROM t TIMESTAMP AS
    OF '<instant>' reads the snapshot as of that instant; both raw
    instants and 'yyyy-MM-dd HH:mm:ss' forms are accepted."""
    engine.sql(
        "create table tt_sql (id int, name string, price double, ts long, "
        "dt string) using hudi partitioned by (dt) "
        "options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql("insert into tt_sql values (1, 'a1', 10.0, 1000, '2022-10-08')")
    c1 = engine.show_commits("tt_sql").collect()[0]["commit_time"]
    engine.sql("insert into tt_sql values (2, 'a2', 20.0, 2000, '2022-10-09')")
    old = engine.sql(
        f"select id, name from tt_sql timestamp as of '{c1}' order by id"
    ).collect()
    assert [(r["id"], r["name"]) for r in old] == [(1, "a1")]
    # current snapshot unaffected
    assert engine.sql("select count(*) n from tt_sql").collect()[0]["n"] == 2
    # dashed-timestamp form: instant is yyyyMMddHHmmssffffff (UTC);
    # format it back with separators and expect the same snapshot
    human = (
        f"{c1[0:4]}-{c1[4:6]}-{c1[6:8]} {c1[8:10]}:{c1[10:12]}:{c1[12:14]}."
        f"{c1[14:]}"
    )
    old2 = engine.sql(
        f"select id from tt_sql timestamp as of '{human}'"
    ).collect()
    assert [r["id"] for r in old2] == [1]


def test_sql_truncate_and_show_partitions(engine, spark):
    """Hudi Spark-SQL TRUNCATE TABLE (whole + PARTITION-scoped) and
    SHOW PARTITIONS. Truncate is a metadata replacecommit: history and
    schema survive, and the pre-truncate snapshot stays time-travelable."""
    engine.sql(
        "create table trc (id int, name string, price double, ts long, "
        "dt string) using hudi partitioned by (dt) "
        "options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql(
        "insert into trc values (1, 'a', 1.0, 1, '2022-10-08'), "
        "(2, 'b', 2.0, 2, '2022-10-09'), (3, 'c', 3.0, 3, '2022-10-09')"
    )
    parts = [r["partition"] for r in engine.sql("show partitions trc").collect()]
    assert parts == ["dt=2022-10-08", "dt=2022-10-09"]
    before = engine.show_commits("trc").collect()[0]["commit_time"]
    engine.sql("truncate table trc partition (dt='2022-10-09')")
    assert sorted(
        r["id"] for r in engine.sql("select id from trc").collect()
    ) == [1]
    engine.sql("truncate table trc")
    assert engine.sql("select count(*) n from trc").collect()[0]["n"] == 0
    # schema + config survive; table accepts new writes
    engine.sql("insert into trc values (9, 'z', 9.0, 9, '2022-10-10')")
    assert [r["id"] for r in engine.sql("select id from trc").collect()] == [9]
    # pre-truncate snapshot is still time-travelable
    old = engine.sql(f"select id from trc timestamp as of '{before}'")
    assert sorted(r["id"] for r in old.collect()) == [1, 2, 3]


def test_describe_show_create_tblproperties(engine, spark):
    """DESCRIBE / SHOW CREATE TABLE / SHOW+SET+UNSET TBLPROPERTIES —
    the Spark-SQL catalog-introspection surface over engine tables."""
    engine.sql(
        "create table meta_t (id int, name string, price double, ts long, "
        "dt string) using hudi partitioned by (dt) "
        "options (primaryKey = 'id', preCombineField = 'ts', type = 'cow')"
    )
    engine.sql("insert into meta_t values (1, 'a', 1.0, 1, '2022-10-08')")
    engine.sql(
        "alter table meta_t change name name string comment 'display name'"
    )
    desc = {r["col_name"]: r for r in engine.sql("describe meta_t").collect()}
    assert desc["id"]["data_type"] == "int"
    assert desc["name"]["comment"] == "display name"
    assert desc["Primary Key"]["data_type"] == "id"
    assert "# Partition Information" in desc
    ddl = engine.sql("show create table meta_t").collect()[0]["createtab_stmt"]
    assert "using hudi" in ddl and "partitioned by (dt)" in ddl
    assert "primaryKey = 'id'" in ddl and "preCombineField = 'ts'" in ddl
    # round-trip: the emitted DDL recreates an equivalent table
    engine.sql(ddl.replace("create table meta_t", "create table meta_t2"))
    cfg2 = engine._resolve("meta_t2")
    assert cfg2.record_key_fields == ["id"]
    assert cfg2.partition_fields == ["dt"]
    # properties lifecycle
    engine.sql(
        "alter table meta_t set tblproperties ('compact.inline' = 'true', "
        "'compact.max_delta_commits' = '4')"
    )
    props = {
        r["key"]: r["value"]
        for r in engine.sql("show tblproperties meta_t").collect()
    }
    assert props["compact.inline"] == "true"
    assert props["compact.max_delta_commits"] == "4"
    engine.sql("alter table meta_t unset tblproperties ('compact.inline')")
    props2 = {
        r["key"]: r["value"]
        for r in engine.sql("show tblproperties meta_t").collect()
    }
    assert "compact.inline" not in props2


def test_hudi_table_valued_functions(engine, spark):
    """Hudi 1.0 SQL TVFs: hudi_table_changes (latest_state + cdc),
    hudi_query, hudi_timeline, hudi_filesystem_view — rewritten to
    engine reads inside ordinary SELECTs."""
    engine.sql(
        "create table tvf_t (id int, name string, price double, ts long, "
        "dt string) using hudi partitioned by (dt) "
        "options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql("insert into tvf_t values (1, 'a', 1.0, 1, '2022-10-08')")
    c1 = engine.show_commits("tvf_t").collect()[0]["commit_time"]
    engine.sql("insert into tvf_t values (2, 'b', 2.0, 2, '2022-10-09')")
    engine.sql("update tvf_t set price = 9.0 where id = 1")
    # latest_state: rows changed after c1 (id=2 insert, id=1 update)
    got = engine.sql(
        f"select id, price from hudi_table_changes('tvf_t', "
        f"'latest_state', '{c1}') order by id"
    ).collect()
    assert [(r["id"], r["price"]) for r in got] == [(1, 9.0), (2, 2.0)]
    # cdc from earliest: net per-key changes
    cdc = engine.sql(
        "select id, _change_type from hudi_table_changes('tvf_t', 'cdc', "
        "'earliest') order by id"
    ).collect()
    assert [(r["id"], r["_change_type"]) for r in cdc] == [
        (1, "insert"), (2, "insert"),
    ]
    # hudi_query / hudi_timeline / hudi_filesystem_view
    assert engine.sql(
        "select count(*) n from hudi_query('tvf_t', 'snapshot')"
    ).collect()[0]["n"] == 2
    assert engine.sql(
        "select count(*) n from hudi_timeline('tvf_t')"
    ).collect()[0]["n"] == 3
    fsv = engine.sql(
        "select distinct partition from hudi_filesystem_view('tvf_t') "
        "order by partition"
    ).collect()
    assert [r["partition"] for r in fsv] == [
        "dt=2022-10-08", "dt=2022-10-09",
    ]


def test_create_table_as_select(engine, spark):
    """CTAS: schema inferred from the query, options honored, data
    landed as the first commit; works over engine-table sources too."""
    engine.sql(
        "create table ctas_src (id int, name string, price double, ts long, "
        "dt string) using hudi partitioned by (dt) "
        "options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql(
        "insert into ctas_src values (1, 'a', 10.0, 1, '2022-10-08'), "
        "(2, 'b', 20.0, 2, '2022-10-09'), (3, 'c', 30.0, 3, '2022-10-09')"
    )
    engine.sql(
        "create table ctas_t using hudi partitioned by (dt) "
        "options (primaryKey = 'id') as "
        "select id, price * 2 as price2, dt from ctas_src where id >= 2"
    )
    cfg = engine._resolve("ctas_t")
    assert cfg.record_key_fields == ["id"]
    assert cfg.partition_fields == ["dt"]
    rows = engine.sql(
        "select id, price2 from ctas_t order by id"
    ).collect()
    assert [(r["id"], r["price2"]) for r in rows] == [(2, 40.0), (3, 60.0)]
    # CTAS table is a full table: DML works on it
    engine.sql("delete from ctas_t where id = 2")
    assert [r["id"] for r in engine.sql("select id from ctas_t").collect()] == [3]


def test_merge_explicit_assignments_and_insert_list(engine, spark):
    """MERGE with explicit UPDATE SET assignments (unmentioned columns
    keep TARGET values) and INSERT (cols) VALUES (exprs) (unmentioned
    data columns insert as NULL) — the full Spark-SQL MERGE surface
    beyond the reference's `set *` demo."""
    engine.sql(
        "create table mex (id int, name string, price double, ts long, "
        "dt string) using hudi partitioned by (dt) "
        "options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql(
        "insert into mex values (1, 'a', 10.0, 1, '2022-10-08'), "
        "(2, 'b', 20.0, 1, '2022-10-08')"
    )
    engine.sql(
        """
        merge into mex as t0
        using (
          select 1 as id, 'a_new' as name, 99.0 as price, 5 as ts,
                 '2022-10-08' as dt
          union select 3, 'c', 30.0, 5, '2022-10-08'
        ) s0
        on t0.id = s0.id
        when matched then update set price = s0.price + 1, ts = s0.ts
        when not matched then insert (id, name, ts, dt)
             values (s0.id, upper(s0.name), s0.ts, s0.dt)
        """
    )
    rows = {r["id"]: r for r in engine.sql("select * from mex").collect()}
    # matched: only price/ts updated; name keeps the TARGET value
    assert rows[1]["price"] == 100.0 and rows[1]["ts"] == 5
    assert rows[1]["name"] == "a"
    # untouched row intact
    assert rows[2]["name"] == "b" and rows[2]["price"] == 20.0
    # insert list: price unmentioned -> NULL; name transformed
    assert rows[3]["name"] == "C" and rows[3]["price"] is None
    assert rows[3]["ts"] == 5 and rows[3]["dt"] == "2022-10-08"


def test_update_without_where(engine, spark):
    engine.sql(
        "create table uw (id int, price double, ts long) using hudi "
        "options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql("insert into uw values (1, 1.0, 1), (2, 2.0, 1)")
    engine.sql("update uw set price = price * 10")
    assert sorted(
        r["price"] for r in engine.sql("select price from uw").collect()
    ) == [10.0, 20.0]


def test_merge_not_matched_by_source(engine, spark):
    """Spark 3.4 MERGE WHEN NOT MATCHED BY SOURCE: the sync-mirror
    pattern — target rows missing from the source are deleted (or
    flagged), matched rows update, new rows insert, in ONE statement."""
    engine.sql(
        "create table sync_t (id int, name string, price double, ts long) "
        "using hudi options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql(
        "insert into sync_t values (1, 'a', 10.0, 1), (2, 'b', 20.0, 1), "
        "(3, 'c', 30.0, 1), (4, 'd', 40.0, 1)"
    )
    engine.sql(
        """
        merge into sync_t as t0
        using (
          select 1 as id, 'a2' as name, 11.0 as price, cast(2 as long) as ts
          union select 5, 'e', 50.0, cast(2 as long)
        ) s0
        on t0.id = s0.id
        when matched then update set *
        when not matched then insert *
        when not matched by source and t0.id != 3 then delete
        """
    )
    rows = {r["id"]: r["name"] for r in engine.sql("select * from sync_t").collect()}
    # 2 and 4 gone (not in source); 3 protected by the clause condition
    assert rows == {1: "a2", 3: "c", 5: "e"}
    # by-source UPDATE variant: flag leftovers instead of deleting
    engine.sql(
        """
        merge into sync_t as t0
        using (select 1 as id, 'a3' as name, 12.0 as price,
                      cast(3 as long) as ts) s0
        on t0.id = s0.id
        when matched then update set *
        when not matched by source then update set name = concat(t0.name, '_stale')
        """
    )
    rows2 = {r["id"]: r for r in engine.sql("select * from sync_t").collect()}
    assert rows2[1]["name"] == "a3"
    assert rows2[3]["name"] == "c_stale" and rows2[5]["name"] == "e_stale"
    # flagged rows keep their other columns
    assert rows2[3]["price"] == 30.0


def test_insert_partial_column_list(engine, spark):
    """INSERT INTO t (cols) VALUES/SELECT: unmentioned data columns
    insert as NULL; order of the column list is honored."""
    engine.sql(
        "create table pci (id int, name string, price double, ts long) "
        "using hudi options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql("insert into pci (id, ts, name) values (1, 9, 'a')")
    engine.sql(
        "insert into pci (id, price, ts) select 2, 5.0, cast(1 as long)"
    )
    rows = {r["id"]: r for r in engine.sql("select * from pci").collect()}
    assert rows[1]["name"] == "a" and rows[1]["price"] is None
    assert rows[1]["ts"] == 9
    assert rows[2]["name"] is None and rows[2]["price"] == 5.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown INSERT columns"):
        engine.sql("insert into pci (nope) values (1)")


def test_merge_multiple_matched_clauses(engine, spark):
    """Several conditioned WHEN MATCHED clauses: first-true wins (Spark
    SQL MERGE precedence), different actions per clause."""
    engine.sql(
        "create table mmc (id int, name string, price double, ts long) "
        "using hudi options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql(
        "insert into mmc values (1, 'a', 10.0, 1), (2, 'b', 20.0, 1), "
        "(3, 'c', 30.0, 1), (4, 'd', 40.0, 1)"
    )
    engine.sql(
        """
        merge into mmc as t0
        using (
          select 1 as id, 100.0 as amt union select 2, 200.0
          union select 3, 5.0 union select 4, 300.0
        ) s0
        on t0.id = s0.id
        when matched and s0.amt < 10 then delete
        when matched and s0.amt < 150 then update set price = s0.amt
        when matched then update set price = s0.amt, name = concat(t0.name, '!')
        """
    )
    rows = {r["id"]: r for r in engine.sql("select * from mmc").collect()}
    assert 3 not in rows                      # first clause: delete
    assert rows[1]["price"] == 100.0 and rows[1]["name"] == "a"   # clause 2
    assert rows[2]["price"] == 200.0 and rows[2]["name"] == "b!"  # clause 3
    assert rows[4]["price"] == 300.0 and rows[4]["name"] == "d!"  # clause 3


def test_merge_multiple_insert_clauses_and_no_insert(engine, spark):
    """Multiple conditioned NOT MATCHED clauses (first-true wins), and a
    MERGE with NO not-matched clause inserts nothing."""
    engine.sql(
        "create table mni (id int, name string, price double, ts long) "
        "using hudi options (primaryKey = 'id', preCombineField = 'ts')"
    )
    engine.sql("insert into mni values (1, 'a', 10.0, 1)")
    engine.sql(
        """
        merge into mni as t0
        using (
          select 7 as id, 'x' as name, 5.0 as price, cast(1 as long) as ts
          union select 8, 'y', 500.0, cast(1 as long)
          union select 9, 'z', 50.0, cast(1 as long)
        ) s0
        on t0.id = s0.id
        when not matched and s0.price < 10 then insert (id, name, ts)
             values (s0.id, concat('cheap_', s0.name), s0.ts)
        when not matched and s0.price < 100 then insert *
        """
    )
    rows = {r["id"]: r for r in engine.sql("select * from mni").collect()}
    assert rows[7]["name"] == "cheap_x" and rows[7]["price"] is None
    assert rows[9]["name"] == "z" and rows[9]["price"] == 50.0
    assert 8 not in rows  # no clause fired → dropped
    # merge with only a matched clause: unmatched source must NOT insert
    engine.sql(
        """
        merge into mni as t0
        using (select 1 as id, 'a2' as name, 11.0 as price,
                      cast(2 as long) as ts
               union select 99, 'n', 1.0, cast(2 as long)) s0
        on t0.id = s0.id
        when matched then update set *
        """
    )
    ids = {r["id"] for r in engine.sql("select * from mni").collect()}
    assert 99 not in ids and 1 in ids
    assert {
        r["id"]: r["name"] for r in engine.sql("select * from mni").collect()
    }[1] == "a2"


def test_call_sync_catalog_registers_views(engine, spark):
    """CALL sync_catalog() — SyncHiveWithDatabase.scala:37-76 as a SQL
    procedure: every catalog table becomes a queryable temp view."""
    engine.create_table("sc1", record_key="id")
    engine.create_table("sc2", record_key="id")
    engine.insert(spark.createDataFrame([(1, 1.0)], "id int, v double"),
                  "sc1")
    engine.insert(spark.createDataFrame([(2, 2.0)], "id int, v double"),
                  "sc2")
    got = sorted(r["table"]
                 for r in engine.sql("call sync_catalog()").collect())
    assert got == ["sc1", "sc2"]
    assert spark.sql("select id from sc1").collect()[0][0] == 1
    assert spark.sql("select id from sc2").collect()[0][0] == 2


def test_call_derived_table_procedures(engine, spark):
    """CALL create_rollup/refresh_rollup/create_join_view/
    refresh_join_view — the runnable-job SQL surface over
    engine/derived.py."""
    from pyspark.sql import functions as F

    engine.create_table("dsrc", record_key="k")
    engine.insert(
        spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("g"),
            (F.col("id") * 1.0).alias("v"),
        ),
        "dsrc",
    )
    engine.sql(
        "call create_rollup(table => 'dsrc', name => 'droll', "
        "group_cols => 'g', sum_cols => 'v', "
        "sample_cols => '{\"k\": 2}', "
        "hist_cols => '{\"v\": [0, 100, 4]}')"
    )
    r = engine.sql("call refresh_rollup(table => 'droll')").collect()[0]
    assert r["refreshed"] is True and r["instant"]
    got = {r["g"]: r["n_rows"] for r in engine.read("droll").collect()}
    assert got == {"0": 25, "1": 25, "2": 25, "3": 25}
    # sample_cols passthrough: every group stores a 2-element sample,
    # served through both the Python API and CALL rollup_sample
    from hudi_demo_spark.engine.derived import rollup_sample

    smp = rollup_sample(engine, "droll", "k").collect()
    assert len(smp) == 8 and {r["rank"] for r in smp} == {1, 2}
    called = engine.sql(
        "call rollup_sample(table => 'droll', col => 'k')"
    ).collect()
    assert {tuple(r) for r in called} == {tuple(r) for r in smp}
    # CALL rollup_percentiles serves from the maintained histogram
    pct = {
        (r["g"], r["q"]): r["pct"]
        for r in engine.sql(
            "call rollup_percentiles(table => 'droll', col => 'v', "
            "qs => '0.5,1.0')"
        ).collect()
    }
    assert len(pct) == 8 and all(0.0 <= p <= 100.0 for p in pct.values())
    assert engine.sql(
        "call refresh_rollup(table => 'droll')"
    ).collect()[0]["refreshed"] is False

    engine.create_table("ddim", record_key="g")
    engine.insert(
        spark.createDataFrame(
            [("0", "zero"), ("1", "one")], "g string, label string"
        ),
        "ddim",
    )
    engine.sql(
        "call create_join_view(table => 'dsrc', name => 'dview', "
        "right_table => 'ddim', on => 'g')"
    )
    r = engine.sql("call refresh_join_view(table => 'dview')").collect()[0]
    assert r["refreshed"] is True
    assert engine.read("dview").count() == 50  # g in {0,1} only


def test_call_vector_index_procedures(engine, spark):
    """CALL create_vector_index/refresh_vector_index — the runnable-job
    SQL surface over engine/vector_index.py."""
    import numpy as np
    from pyspark.sql import functions as F  # noqa: F401

    rng = np.random.default_rng(3)
    engine.create_table("vsrc2", record_key="vec_id")
    engine.insert(
        spark.createDataFrame(
            [(int(i), [float(x) for x in rng.standard_normal(6)])
             for i in range(50)],
            "vec_id int, embedding array<float>",
        ),
        "vsrc2",
    )
    engine.sql(
        "call create_vector_index(table => 'vsrc2', name => 'vix2', "
        "id_col => 'vec_id', vec_col => 'embedding', n_centroids => '4')"
    )
    r = engine.sql(
        "call refresh_vector_index(table => 'vix2')"
    ).collect()[0]
    assert r["refreshed"] is True and r["instant"]
    idx = engine.read("vix2")
    assert idx.count() == 50
    assert set(idx.columns) >= {"vec_id", "embedding", "cell"}
    assert engine.sql(
        "call refresh_vector_index(table => 'vix2')"
    ).collect()[0]["refreshed"] is False
    # PQ-augmented form via CALL: codes column materializes
    engine.sql(
        "call create_vector_index(table => 'vsrc2', name => 'vix2pq', "
        "id_col => 'vec_id', vec_col => 'embedding', n_centroids => '4', "
        "pq_m => '2', pq_codes => '4', pq_iters => '1')"
    )
    engine.sql("call refresh_vector_index(table => 'vix2pq')")
    pq = engine.read("vix2pq")
    assert pq.count() == 50 and "codes" in pq.columns


def test_call_left_join_view_procedure(engine, spark):
    """CALL create_join_view(..., how => 'left') routes the LEFT OUTER
    derived-table shape through the SQL surface."""
    from pyspark.sql import functions as F

    engine.create_table("lsrc", record_key="k")
    engine.insert(
        spark.range(0, 10).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("g"),
        ),
        "lsrc",
    )
    engine.create_table("ldim", record_key="g")
    engine.insert(
        spark.createDataFrame([("0", "zero")], "g string, label string"),
        "ldim",
    )
    engine.sql(
        "call create_join_view(table => 'lsrc', name => 'lview', "
        "right_table => 'ldim', on => 'g', how => 'left')"
    )
    r = engine.sql("call refresh_join_view(table => 'lview')").collect()[0]
    assert r["refreshed"] is True
    got = {r["k"]: r["label"] for r in engine.read("lview").collect()}
    assert len(got) == 10
    assert got[0] == "zero" and got[4] == "zero"
    assert got[1] is None and got[2] is None


def test_call_continuous_aggregate_procedure(engine, spark):
    """CALL create_rollup(..., expr_cols => '{...}') routes the
    continuous-aggregate shape (expression group columns) through the
    SQL surface."""
    from pyspark.sql import functions as F

    engine.create_table("casrc", record_key="k")
    engine.insert(
        spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") * 7).alias("ts"),
            (F.col("id") * 1.0).alias("v"),
        ),
        "casrc",
    )
    engine.sql(
        "call create_rollup(table => 'casrc', name => 'caroll', "
        "group_cols => 'bucket', sum_cols => 'v', "
        "expr_cols => '{\"bucket\": \"cast(floor(ts / 100) * 100 as bigint)\"}')"
    )
    assert engine.sql(
        "call refresh_rollup(table => 'caroll')"
    ).collect()[0]["refreshed"] is True
    got = {r["bucket"]: r["n_rows"] for r in engine.read("caroll").collect()}
    want = {
        r["bucket"]: r["n"]
        for r in engine.read("casrc")
        .groupBy(F.expr("cast(floor(ts / 100) * 100 as bigint)").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_call_filter_view_procedure(engine, spark):
    """CALL create_filter_view/refresh_filter_view — the materialized
    filtered-corpus shape through the SQL surface."""
    from pyspark.sql import functions as F

    engine.create_table("fsrc", record_key="k")
    engine.insert(
        spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("q")
        ),
        "fsrc",
    )
    engine.sql(
        "call create_filter_view(table => 'fsrc', name => 'fview', "
        "predicate => 'q >= 8')"
    )
    r = engine.sql("call refresh_filter_view(table => 'fview')").collect()[0]
    assert r["refreshed"] is True and r["instant"]
    assert engine.read("fview").count() == 8  # q in {8,9} of each decade
    assert engine.sql(
        "call refresh_filter_view(table => 'fview')"
    ).collect()[0]["refreshed"] is False


def test_call_minhash_index_and_decontam_view(engine, spark):
    """CALL surface parity for the round-7 maintainers: minhash index
    and decontamination view create/refresh through the SQL router, a
    text index refreshes through it, and all three participate in the
    catalog-wide `refresh_views` settle."""
    engine.sql("create table mdocs (doc_id int, text string) using hudi "
               "options (primaryKey = 'doc_id')")
    engine.sql("insert into mdocs values "
               "(1, 'alpha beta gamma delta epsilon'), "
               "(2, 'alpha beta gamma delta epsilon'), "
               "(3, 'totally different words entirely here')")
    engine.sql("create table mev (doc_id int, text string) using hudi "
               "options (primaryKey = 'doc_id')")
    engine.sql("insert into mev values "
               "(100, 'totally different words entirely')")
    engine.sql(
        "call create_minhash_index(table => 'mdocs', name => 'mmh', "
        "id_col => 'doc_id', text_col => 'text', "
        "num_hashes => '16', bands => '4')"
    )
    got = engine.sql("call refresh_minhash_index(table => 'mmh')").collect()
    assert got[0]["refreshed"] is True
    # docs 1 and 2 are identical -> every band collides
    pairs = engine.sql(
        "select a.doc_id as a, b.doc_id as b from mmh a join mmh b "
        "on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id"
    ).select("a", "b").distinct().collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}
    # a text index on the same docs refreshes through the same CALL
    # route and serves hits (it has no CALL create procedure)
    from hudi_demo_spark.engine.text_index import (
        create_text_index,
        text_index_search,
    )

    create_text_index(engine, "mdocs", "mtix", "doc_id", "text", buckets=4)
    got = engine.sql("call refresh_text_index(table => 'mtix')").collect()
    assert got[0]["refreshed"] is True
    hits = text_index_search(engine, "mtix", ["totally"]).collect()
    assert [r["doc_id"] for r in hits] == [3]
    engine.sql(
        "call create_decontam_view(table => 'mdocs', name => 'mclean', "
        "eval_table => 'mev', id_col => 'doc_id', text_col => 'text', "
        "ngram => '4')"
    )
    got = engine.sql("call refresh_decontam_view(table => 'mclean')").collect()
    assert got[0]["refreshed"] is True
    ids = sorted(r.doc_id for r in engine.read("mclean").collect())
    assert ids == [1, 2]  # doc 3 shares the eval 4-gram
    # catalog-wide settle covers every maintainer kind on the docs
    engine.sql("insert into mdocs values "
               "(4, 'brand new clean content four words more')")
    out = {r["view"]: r["refreshed"]
           for r in engine.sql("call refresh_views()").collect()}
    assert out.get("mmh") is True and out.get("mclean") is True
    assert out.get("mtix") is True
    assert 4 in [r.doc_id for r in engine.read("mclean").collect()]
    hits = text_index_search(engine, "mtix", ["brand"]).collect()
    assert [r["doc_id"] for r in hits] == [4]
