"""Secondary index (Hudi 1.0 CREATE INDEX ... USING secondary_index):
value→partition point-lookup pruning on non-key columns, maintained on
writes, truncated on rollback, SQL DDL surface."""

import pytest
from pyspark.sql import functions as F

SCHEMA = "id int, city string, price double, ts long, dt string"
ROWS = [
    (1, "paris", 10.0, 1, "2022-01-01"),
    (2, "tokyo", 20.0, 1, "2022-01-01"),
    (3, "paris", 30.0, 1, "2022-01-02"),
    (4, "lima", 40.0, 1, "2022-01-03"),
]


def _setup(engine, spark, name="sx"):
    engine.create_table(
        name, record_key="id", precombine="ts", partition_by="dt"
    )
    engine.insert(spark.createDataFrame(ROWS, SCHEMA), name)
    return name


def test_create_index_prunes_partitions(engine, spark):
    t = _setup(engine, spark)
    engine.sql(f"create index idx_city on {t} using secondary_index (city)")
    cfg = engine._resolve(t)
    idx = engine._secondary_index(cfg, "city")
    assert idx is not None and idx.usable()
    # index maps 'paris' to exactly its two partitions
    assert idx.lookup_partitions(["paris"]) == {
        "dt=2022-01-01", "dt=2022-01-02"
    }
    got = engine.read(t, point_filter=("city", ["paris"]))
    assert sorted(r["id"] for r in got.collect()) == [1, 3]
    # multi-value probe
    got2 = engine.read(t, point_filter=("city", ["lima", "tokyo"]))
    assert sorted(r["id"] for r in got2.collect()) == [2, 4]


def test_index_maintained_on_writes(engine, spark):
    t = _setup(engine, spark)
    engine.create_index(t, "city")
    # new value in a brand-new partition: upsert must extend the index
    engine.upsert(
        spark.createDataFrame([(5, "oslo", 50.0, 1, "2022-02-01")], SCHEMA), t
    )
    cfg = engine._resolve(t)
    idx = engine._secondary_index(cfg, "city")
    assert idx.lookup_partitions(["oslo"]) == {"dt=2022-02-01"}
    assert [
        r["id"]
        for r in engine.read(t, point_filter=("city", "oslo")).collect()
    ] == [5]
    # delete leaves a stale entry (false positive) but the read is exact
    engine.delete(t, "city = 'lima'")
    assert engine.read(t, point_filter=("city", ["lima"])).count() == 0


def test_point_filter_without_index_falls_back(engine, spark):
    t = _setup(engine, spark)
    got = engine.read(t, point_filter=("city", ["paris"]))
    assert sorted(r["id"] for r in got.collect()) == [1, 3]


def test_rollback_truncates_then_write_rebuilds(engine, spark):
    t = _setup(engine, spark)
    engine.create_index(t, "city")
    target = engine.show_commits(t).collect()[0]["commit_time"]
    engine.upsert(
        spark.createDataFrame([(6, "rome", 60.0, 1, "2022-03-01")], SCHEMA), t
    )
    engine.rollback(t, target)
    cfg = engine._resolve(t)
    assert not engine._secondary_index(cfg, "city").usable()
    # reads stay exact while the index is down (fallback path)
    assert engine.read(t, point_filter=("city", "paris")).count() == 2
    # next write rebuilds from the restored snapshot
    engine.upsert(
        spark.createDataFrame([(7, "kyiv", 70.0, 1, "2022-04-01")], SCHEMA), t
    )
    idx = engine._secondary_index(cfg, "city")
    assert idx.usable()
    assert idx.lookup_partitions(["rome"]) == set()  # rolled back
    assert idx.lookup_partitions(["kyiv"]) == {"dt=2022-04-01"}


def test_sql_ddl_surface(engine, spark):
    t = _setup(engine, spark)
    engine.sql(f"create index idx_city on {t} using secondary_index (city)")
    rows = engine.sql(f"show indexes from {t}").collect()
    assert [(r["column"], r["index_type"], r["usable"]) for r in rows] == [
        ("city", "secondary_index", True)
    ]
    engine.sql(f"drop index idx_city on {t}")
    assert engine.sql(f"show indexes from {t}").count() == 0
    cfg = engine._resolve(t)
    assert engine._secondary_index(cfg, "city") is None


def test_refuses_record_key_column(engine, spark):
    t = _setup(engine, spark)
    with pytest.raises(ValueError, match="record-key"):
        engine.create_index(t, "id")


def test_index_compact_bounds_size(engine, spark):
    t = _setup(engine, spark)
    engine.create_index(t, "city")
    for i in range(3):
        engine.upsert(
            spark.createDataFrame(
                [(1, "paris", 10.0 + i, 2 + i, "2022-01-01")], SCHEMA
            ),
            t,
        )
    cfg = engine._resolve(t)
    idx = engine._secondary_index(cfg, "city")
    before = len(list(idx.path.rglob("*.parquet")))
    idx.compact()
    after = len(list(idx.path.rglob("*.parquet")))
    assert after < before
    assert idx.lookup_partitions(["paris"]) == {
        "dt=2022-01-01", "dt=2022-01-02"
    }


def test_dml_auto_routes_through_index(engine, spark):
    """`delete("city = 'x'")` on an indexed column prunes its match scan
    via the index automatically. Proven by corrupting a non-matching
    partition's file: the pruned scan never opens it."""
    import pathlib

    t = _setup(engine, spark, name="sxdml")
    engine.create_index(t, "city")
    cfg = engine._resolve(t)
    for p in (pathlib.Path(cfg.path) / "data" / "dt=2022-01-03").rglob(
        "*.parquet"
    ):
        p.write_bytes(b"junk")  # lima's partition
    engine.delete(t, "city = 'tokyo'")
    # scan was pruned (no error), delete exact
    got = engine.read(t, point_filter=("city", ["paris"]))
    assert sorted(r["id"] for r in got.collect()) == [1, 3]
    assert engine.read(t, point_filter=("city", "tokyo")).count() == 0
    # update routes the same way (IN-list shape)
    engine.update(t, set={"price": "price + 1"}, where="city in ('paris')")
    got2 = engine.read(t, point_filter=("city", ["paris"]))
    assert sorted(r["price"] for r in got2.collect()) == [11.0, 31.0]


def test_auto_point_filter_gate(engine, spark):
    """The where-router's literal gate: floats and integer literals
    against a double column yield no probe (full scan), integer literals
    only for integer columns. An existing column needs no index to get
    a point probe: the prune pass picks the index, col stats or
    nothing."""
    t = _setup(engine, spark, name="sxgate")
    engine.create_index(t, "city")
    engine.create_index(t, "price")  # double column
    cfg = engine._resolve(t)
    assert engine._where_probes(cfg, "city = 'paris'") == [
        ("point", "city", ["paris"])
    ]
    assert engine._where_probes(cfg, "city in ('a', 'b')") == [
        ("point", "city", ["a", "b"])
    ]
    assert engine._where_probes(cfg, "price = 10") == []  # double col
    assert engine._where_probes(cfg, "price = 10.0") == []
    assert engine._where_probes(cfg, "name = 'x'") == []  # no such column
    # the single record-key field also probes the record key, as the
    # string `record_key_col` stores
    assert engine._where_probes(cfg, "id = 1") == [
        ("point", "_hoodie_record_key", ["1"]), ("point", "id", [1])
    ]
    assert engine._where_probes(cfg, "city = 'a' or id = 1") == []


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_update_indexed_column_indexes_new_value(engine, spark, table_type):
    """UPDATE SET on an indexed column must land the NEW value in the
    index — otherwise point-reads and auto-routed DML on it prune every
    partition away and silently see/touch zero rows."""
    t = f"sxupd_{table_type}"
    engine.create_table(
        t, record_key="id", precombine="ts", partition_by="dt",
        table_type=table_type,
    )
    engine.insert(spark.createDataFrame(ROWS, SCHEMA), t)
    engine.create_index(t, "city")
    engine.update(t, set={"city": "'nyc'"}, where="city = 'lima'")
    cfg = engine._resolve(t)
    idx = engine._secondary_index(cfg, "city")
    assert "dt=2022-01-03" in idx.lookup_partitions(["nyc"])
    got = engine.read(t, point_filter=("city", ["nyc"]))
    assert [r["id"] for r in got.collect()] == [4]
    # auto-routed DML on the new value must find the row too
    engine.update(t, set={"price": "price + 1"}, where="city = 'nyc'")
    assert engine.read(t).filter("id = 4").collect()[0]["price"] == 41.0
    engine.delete(t, "city = 'nyc'")
    assert engine.read(t).filter("id = 4").count() == 0


def test_merge_explicit_set_indexes_new_value(engine, spark):
    """MERGE with an explicit SET map / by-source update writes values
    that are NOT source-row values; the index must still cover them."""
    t = "sxmerge"
    engine.create_table(t, record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(spark.createDataFrame(ROWS, SCHEMA), t)
    engine.create_index(t, "city")
    src = spark.createDataFrame([(1, "zzz", 0.0, 9, "2022-01-01")], SCHEMA)
    engine.merge(
        t, src,
        matched_update_set={"city": "'berlin'", "ts": "s.ts"},
    )
    cfg = engine._resolve(t)
    idx = engine._secondary_index(cfg, "city")
    assert "dt=2022-01-01" in idx.lookup_partitions(["berlin"])
    got = engine.read(t, point_filter=("city", ["berlin"]))
    assert [r["id"] for r in got.collect()] == [1]
    # by-source update path: touch every non-matched target row
    src2 = spark.createDataFrame([(2, "tokyo", 20.0, 9, "2022-01-01")], SCHEMA)
    engine.merge(
        t, src2,
        matched_update_set={"ts": "s.ts"},
        not_matched_by_source_update_set={"city": "'bs_city'"},
    )
    idx = engine._secondary_index(cfg, "city")
    parts = idx.lookup_partitions(["bs_city"])
    assert {"dt=2022-01-01", "dt=2022-01-02", "dt=2022-01-03"} <= parts
    got = engine.read(t, point_filter=("city", ["bs_city"]))
    assert sorted(r["id"] for r in got.collect()) == [1, 3, 4]


def test_auto_point_filter_rejects_quoted_nonstring(engine, spark):
    """A quoted literal against a non-string indexed column matches rows
    under Spark's coercion ('05' = 5) but would probe the index with the
    raw string — the gate must fall back to a full scan instead."""
    t = _setup(engine, spark, name="sxq")
    engine.create_index(t, "city")
    engine.create_index(t, "ts")  # long column
    cfg = engine._resolve(t)
    assert engine._where_probes(cfg, "ts = '05'") == []
    assert engine._where_probes(cfg, "ts in ('1', '2')") == []
    assert engine._where_probes(cfg, "ts = 5") == [("point", "ts", [5])]
    assert engine._where_probes(cfg, "city = 'paris'") == [
        ("point", "city", ["paris"])
    ]
    # end-to-end: coerced DML must not lose rows (falls back to scan)
    engine.update(t, set={"price": "0.0"}, where="ts = '01'")
    assert {r["price"] for r in engine.read(t).collect()} == {0.0}


def test_update_swap_indexes_written_values(engine, spark):
    """Regression (review finding): the index batch must use the SAME
    simultaneous projection as the written data — with SET a=b, b=a on
    an indexed column, the index must record the swapped values."""
    t = "sxswap"
    engine.create_table(t, record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(
        spark.createDataFrame(
            [(1, "A", "B", 1, "d1")],
            "id int, a string, b string, ts long, dt string",
        ),
        t,
    )
    engine.create_index(t, "a")
    engine.create_index(t, "b")
    engine.update(t, set={"a": "b", "b": "a"}, where="id = 1")
    # written data swapped; index must serve the NEW values exactly
    assert [r["id"] for r in
            engine.read(t, point_filter=("a", ["B"])).collect()] == [1]
    assert [r["id"] for r in
            engine.read(t, point_filter=("b", ["A"])).collect()] == [1]


def test_range_probe_prunes_partitions(engine, spark):
    """Round-3 range extension: BETWEEN on an indexed int column prunes
    the file list to the partitions holding in-range values — strictly
    fewer files than the unpruned set — and results equal the plain
    predicate (numeric ordering, not lexicographic: 10 > 9)."""
    t = "rx"
    engine.create_table(t, record_key="id", precombine="ts",
                        partition_by="dt")
    rows = [(i, f"c{i}", float(i), i, f"2022-01-{1 + i % 4:02d}")
            for i in range(1, 21)]
    engine.insert(spark.createDataFrame(rows, SCHEMA), t)
    engine.sql(f"create index idx_ts on {t} using secondary_index (ts)")
    cfg = engine._resolve(t)
    idx = engine._secondary_index(cfg, "ts")
    # numeric cast-back: [9, 12] must include 10..12, exclude 13+
    assert idx.lookup_partitions_range(9, 12, "bigint") == {
        f"dt=2022-01-{1 + i % 4:02d}" for i in range(9, 13)
    }
    from hudi_demo_spark.engine.timeline import Timeline

    live = Timeline(cfg.path).live_files()
    pruned = engine._secondary_range_prune(cfg, dict(live), "ts", 1, 1)
    assert len(pruned) < len(live)  # index beat the unpruned file list
    got = engine.read(t, range_filter=("ts", 9, 12))
    assert sorted(r["id"] for r in got.collect()) == [9, 10, 11, 12]


def test_range_probe_string_column_and_dml_routing(engine, spark):
    t = _setup(engine, spark)
    engine.sql(f"create index idx_city on {t} using secondary_index (city)")
    cfg = engine._resolve(t)
    # routing: BETWEEN parses to a range probe with exact typing
    assert engine._where_probes(cfg, "city between 'lima' and 'paris'") \
        == [("range", "city", "lima", "paris")]
    assert engine._where_probes(cfg, "id between 2 and 3") == [
        ("range", "id", 2, 3)
    ]
    # quoted literal on a non-string column: refused (coercion hazard)
    assert engine._where_probes(cfg, "id between '2' and '3'") == []
    # DML rides the route end-to-end and stays exact
    engine.update(t, set={"price": F.lit(99.0)},
                  where="city between 'lima' and 'paris'")
    st = {r["id"]: r["price"] for r in engine.read(t).collect()}
    assert st == {1: 99.0, 2: 20.0, 3: 99.0, 4: 99.0}


def test_auto_range_filter_conjunction_form(engine, spark):
    """`col >= lo and col <= hi` (the expanded BETWEEN spelling) routes
    through the same range-probe pruning as BETWEEN; mismatched or
    coerced forms are refused."""
    t = _setup(engine, spark)
    cfg = engine._resolve(t)
    assert engine._where_probes(cfg, "ts >= 1 and ts <= 3") == [
        ("range", "ts", 1, 3)
    ]
    assert engine._where_probes(cfg, "city >= 'a' and city <= 'm'") == [
        ("range", "city", "a", "m")
    ]
    # two different columns: not a range on one column
    assert engine._where_probes(cfg, "ts >= 1 and id <= 3") == []
    # quoted literal on a non-string column: refused (coercion hazard)
    assert engine._where_probes(cfg, "ts >= '1' and ts <= '3'") == []
    # DML end-to-end through the conjunction route
    engine.update(t, set={"price": F.lit(7.0)},
                  where="id >= 2 and id <= 3")
    st = {r["id"]: r["price"] for r in engine.read(t).collect()}
    assert st == {1: 10.0, 2: 7.0, 3: 7.0, 4: 40.0}


def test_auto_point_filter_conjunctions(engine, spark):
    """AND-conjunctions route every parseable conjunct (superset prune;
    the caller applies the full row predicate), BETWEEN included; a
    top-level OR disables routing even with a routable-looking
    conjunct."""
    t = _setup(engine, spark, name="sxconj")
    engine.create_index(t, "city")
    cfg = engine._resolve(t)
    assert engine._where_probes(cfg, "city = 'paris' and price > 5") == [
        ("point", "city", ["paris"])
    ]
    assert engine._where_probes(
        cfg, "price > 5 and city in ('a', 'b')"
    ) == [("point", "city", ["a", "b"])]
    assert engine._where_probes(
        cfg, "city = 'paris' and price > 5 or id = 1"
    ) == []
    assert engine._where_probes(
        cfg, "city between 'a' and 'm' and price > 5"
    ) == [("range", "city", "a", "m")]
    assert engine._where_probes(
        cfg, "price > 5 and city between 'a' and 'm'"
    ) == [("range", "city", "a", "m")]
    # but a DML with a conjunction still deletes exactly
    engine.delete(t, "city = 'tokyo' and price >= 0")
    assert engine.read(t, point_filter=("city", "tokyo")).count() == 0


def test_index_survives_clustering(engine, spark):
    """Clustering replaces every live file but PRESERVES partitions —
    the secondary index maps value→partition, so its entries must stay
    valid (complete + still pruning) across the replacecommit, with no
    truncation or rebuild. Pins the partition-granularity design choice
    that makes the index immune to file-replacing table services."""
    t = _setup(engine, spark)
    engine.create_index(t, "city")
    engine.cluster(t, ["price"])
    cfg = engine._resolve(t)
    idx = engine._secondary_index(cfg, "city")
    assert idx is not None and idx.usable()  # not truncated
    assert idx.lookup_partitions(["paris"]) == {
        "dt=2022-01-01", "dt=2022-01-02"
    }
    got = engine.read(t, point_filter=("city", ["paris"]))
    assert sorted(r["id"] for r in got.collect()) == [1, 3]
    # maintenance continues after the service
    engine.upsert(
        spark.createDataFrame([(5, "oslo", 50.0, 2, "2022-01-04")], SCHEMA), t
    )
    assert idx.lookup_partitions(["oslo"]) == {"dt=2022-01-04"}
