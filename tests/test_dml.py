"""DML state-machine golden tests mirroring SparkSQLDemo.main
(hudi0.12_spark3.1/.../SparkSQLDemo.scala:22-31): create → insert ×2 →
update → delete → merge, asserting exact table state after each step
(SURVEY §5 item 2)."""

import pytest
from pyspark.sql import functions as F

SEED_ROWS = [
    (1, "hudi", 10.0, 100, "2022-09-05"),
    (2, "hudi", 10.0, 100, "2022-09-05"),
    (3, "hudi", 10.0, 100, "2022-09-25"),
    (4, "hudi", 10.0, 100, "2022-09-25"),
]
COLS = ["id", "name", "price", "ts", "dt"]


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "id int, name string, price double, ts long, dt string")


def _state(engine, table):
    df = engine.read(table).select(*COLS)
    return sorted(tuple(r) for r in df.collect())


def _setup(engine, spark, table_type="cow"):
    engine.create_table(
        "t", record_key="id", precombine="ts", partition_by="dt",
        table_type=table_type,
    )
    engine.insert(_mkdf(spark, SEED_ROWS[:2]), "t")  # insert into values (W1)
    engine.insert(_mkdf(spark, SEED_ROWS[2:]), "t")  # insert into select union (W2)
    return "t"


def test_insert_snapshot(engine, spark):
    t = _setup(engine, spark)
    assert _state(engine, t) == sorted(SEED_ROWS)


def test_update(engine, spark):
    # SparkSQLDemo.scala:69-71
    t = _setup(engine, spark)
    engine.update(t, set={"price": F.lit(20.0)}, where="id = 1")
    st = dict((r[0], r) for r in _state(engine, t))
    assert st[1][2] == 20.0
    assert st[2][2] == 10.0


def test_delete(engine, spark):
    # SparkSQLDemo.scala:73-75
    t = _setup(engine, spark)
    engine.delete(t, "id = 1")
    assert [r[0] for r in _state(engine, t)] == [2, 3, 4]


def test_merge(engine, spark):
    """SparkSQLDemo.scala:77-91 — 3-branch MERGE with opt_type."""
    t = _setup(engine, spark)
    source = spark.createDataFrame(
        [
            (1, "a1", 12.0, 1001, "2022-09-05", "INSERT"),   # matched→update
            (2, "a2", 10.0, 1002, "2022-09-05", "DELETE"),   # matched→delete
            (5, "a5", 10.0, 1005, "2022-09-25", "INSERT"),   # not matched→insert
            (6, "a6", 10.0, 1006, "2022-09-25", "DELETE"),   # not matched+DELETE→skip
        ],
        "id int, name string, price double, ts long, dt string, opt_type string",
    )
    engine.merge(
        t,
        source.drop("opt_type").join(source.select("id", "opt_type"), "id"),
        matched_update_cond="s.opt_type != 'DELETE'",
        matched_delete_cond="s.opt_type = 'DELETE'",
        not_matched_insert_cond="s.opt_type != 'DELETE'",
    )
    st = _state(engine, t)
    ids = [r[0] for r in st]
    assert ids == [1, 3, 4, 5]
    by_id = {r[0]: r for r in st}
    assert by_id[1][1] == "a1" and by_id[1][2] == 12.0
    assert by_id[5][1] == "a5"


def test_upsert_precombine(engine, spark):
    """W6: intra-batch dedup picks max preCombine; upsert overwrites."""
    t = _setup(engine, spark)
    batch = _mkdf(
        spark,
        [
            (1, "v_low", 99.0, 50, "2022-09-05"),    # lower ts — loses intra-batch
            (1, "v_high", 42.0, 500, "2022-09-05"),  # winner
            (9, "new", 1.0, 10, "2022-09-25"),
        ],
    )
    engine.upsert(batch, t)
    by_id = {r[0]: r for r in _state(engine, t)}
    assert by_id[1][1] == "v_high" and by_id[1][2] == 42.0
    assert by_id[9][1] == "new"
    assert len(by_id) == 5


def test_upsert_mor_and_compaction(engine, spark):
    t = _setup(engine, spark, table_type="mor")
    engine.upsert(_mkdf(spark, [(1, "u1", 7.0, 999, "2022-09-05")]), t)
    by_id = {r[0]: r for r in _state(engine, t)}
    assert by_id[1][1] == "u1" and len(by_id) == 4
    # deltas present before compaction, gone after
    engine.compact(t)
    by_id2 = {r[0]: r for r in _state(engine, t)}
    assert by_id2 == by_id
    ro = engine.read(t, query_type="read_optimized").select(*COLS)
    assert {r[0] for r in ro.collect()} == {1, 2, 3, 4}


def test_mor_delete_marker(engine, spark):
    t = _setup(engine, spark, table_type="mor")
    engine.delete(t, "id = 2")
    assert [r[0] for r in _state(engine, t)] == [1, 3, 4]


def test_delete_keys(engine, spark):
    t = _setup(engine, spark)
    keys = spark.createDataFrame([(3, "2022-09-25")], "id int, dt string")
    engine.delete_keys(t, keys)
    assert [r[0] for r in _state(engine, t)] == [1, 2, 4]


def test_overwrite(engine, spark):
    t = _setup(engine, spark)
    engine.overwrite(_mkdf(spark, [(7, "x", 1.0, 1, "2022-10-01")]), t)
    assert [r[0] for r in _state(engine, t)] == [7]


def test_schema_evolution_add_column(engine, spark):
    """Flink `_WIDER` fixture (Configurations.java:35-42): add `salary`."""
    t = _setup(engine, spark)
    wider = spark.createDataFrame(
        [(8, "w", 2.0, 5, "2022-09-05", 1234.5)],
        "id int, name string, price double, ts long, dt string, salary double",
    )
    engine.upsert(wider, t)
    df = engine.read(t)
    assert "salary" in df.columns
    vals = {r["id"]: r["salary"] for r in df.collect()}
    assert vals[8] == 1234.5 and vals[1] is None


def test_null_record_key_raises(engine, spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    engine.create_table("nk", record_key="id")
    df = spark.createDataFrame([(None, "x"), (1, "y")], "id int, v string")
    with _pytest.raises(Exception, match="record key"):
        engine.insert(df, "nk")


def test_all_null_complex_key_raises_partial_ok(engine, spark):
    import pytest as _pytest

    engine.create_table("ck", record_key=["a", "b"])
    ok = spark.createDataFrame([(None, 2, "x"), (1, None, "y")], "a int, b int, v string")
    engine.insert(ok, "ck")  # partial nulls get __null__ placeholders
    keys = sorted(r[0] for r in engine.read("ck").select("_hoodie_record_key").collect())
    assert keys == ["a:1,b:__null__", "a:__null__,b:2"]
    bad = spark.createDataFrame([(None, None, "z")], "a int, b int, v string")
    with _pytest.raises(Exception, match="record key"):
        engine.insert(bad, "ck")


def test_delete_update_with_partition_filter(engine, spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i)) for i in range(20)],
        "id int, p string, v double",
    )
    engine.create_table("pf", record_key="id", partition_by="p")
    engine.insert(df, "pf")
    engine.delete("pf", "v >= 10", partition_filter="_hoodie_partition_path = 'p=A'")
    # only partition A's matching rows deleted; B untouched even though v>=10
    left = {(r["id"]) for r in engine.read("pf").collect()}
    assert left == {i for i in range(20) if not (i % 2 == 0 and i >= 10)}
    engine.update(
        "pf", set={"v": "v + 100"}, where="v < 5",
        partition_filter="_hoodie_partition_path = 'p=B'",
    )
    got = {r["id"]: r["v"] for r in engine.read("pf").collect()}
    assert got[1] == 101.0 and got[3] == 103.0   # B partition updated
    assert got[0] == 0.0 and got[2] == 2.0       # A partition untouched


def test_cow_delete_keeps_null_condition_rows(engine, spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 20.0)], "id int, v double"
    )
    engine.create_table("nd", record_key="id")
    engine.insert(df, "nd")
    engine.delete("nd", "v >= 10")
    # SQL DELETE removes only rows where cond is TRUE — NULL rows survive
    assert sorted(r["id"] for r in engine.read("nd").collect()) == [1, 2]


def test_partition_filter_honored_on_unpartitioned_table(engine, spark):
    df = spark.createDataFrame([(1, 5.0), (2, 20.0)], "id int, v double")
    engine.create_table("up", record_key="id")
    engine.insert(df, "up")
    # predicate matches no partition path ("" for unpartitioned) → no-op,
    # never a silent table-wide delete
    engine.delete("up", "v >= 10", partition_filter="_hoodie_partition_path = 'p=A'")
    assert engine.read("up").count() == 2
    engine.delete("up", "v >= 10", partition_filter="_hoodie_partition_path = ''")
    assert sorted(r["id"] for r in engine.read("up").collect()) == [1]


def test_cluster_rewrites_sorted_and_prunes(engine, spark):
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine import timeline as tlmod
    from hudi_demo_spark.engine.timeline import Timeline

    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") * 37 % 1000).cast("double").alias("v"),
    )
    engine.create_table("cl", record_key="k")
    engine.insert(df.filter("k < 1000"), "cl")
    engine.insert(df.filter("k >= 1000"), "cl")
    meta = engine.cluster("cl", ["v"])
    assert meta["action"] == tlmod.REPLACECOMMIT and meta["operation"] == "cluster"
    # all rows survive, values intact
    got = engine.read("cl")
    assert got.count() == 2000
    assert got.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # every new file carries v stats, and file ranges are disjoint
    cfg = engine._resolve("cl")
    live = Timeline(cfg.path).live_files()
    ranges = sorted(
        tuple(m["col_stats"]["v"]) for m in live.values()
    )
    assert all("col_stats" in m for m in live.values())
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint sort ranges per file
    # metadata skipping: a narrow range touches fewer files than live set
    if len(ranges) > 1:
        pruned = engine._prune_by_stats(live, "v", 0.0, 1.0)
        assert len(pruned) < len(live)
    # range read is exact
    want = df.filter((F.col("v") >= 100.0) & (F.col("v") <= 200.0)).count()
    assert engine.read("cl", range_filter=("v", 100.0, 200.0)).count() == want


def test_cluster_folds_mor_deltas(engine, spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)], "k int, v double, ts int"
    )
    engine.create_table("clm", record_key="k", precombine="ts",
                        table_type="mor")
    engine.insert(df, "clm")
    engine.upsert(
        spark.createDataFrame([(2, 99.0, 2)], "k int, v double, ts int"), "clm"
    )
    engine.cluster("clm", ["v"])
    got = {r["k"]: r["v"] for r in engine.read("clm").collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}
    # post-cluster read needs no merge view (all base files)
    from hudi_demo_spark.engine.timeline import Timeline
    cfg = engine._resolve("clm")
    assert all(
        m["kind"] == "base" for m in Timeline(cfg.path).live_files().values()
    )


def test_key_ranges_recorded_in_commit_meta(engine, spark):
    # regression: pyarrow API drift once made _attach_key_ranges throw on
    # every file (swallowed), silently disabling M1 range-index pruning
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "id int, v double")
    engine.create_table("kr", record_key="id")
    meta = engine.insert(df, "kr")
    for f in meta["files_added"]:
        assert f.get("key_min") is not None, f
        assert f.get("key_max") is not None, f


def test_footer_stats_distributed_path(engine, spark, monkeypatch):
    # large commits read footers executor-side; force that path and
    # require identical commit metadata to the driver loop
    from hudi_demo_spark.engine.engine import Engine as E

    monkeypatch.setattr(E, "_FOOTER_DISTRIBUTE_MIN", 2)
    df = spark.createDataFrame(
        [(i, float(i), f"p{i % 3}") for i in range(300)],
        "id int, v double, dt string",
    )
    engine.create_table(
        "fd", record_key="id", partition_by="dt",
        props={"write.stats_cols": "v"},
    )
    meta = engine.insert(df, "fd")
    assert len(meta["files_added"]) >= 2
    for f in meta["files_added"]:
        assert f.get("key_min") is not None, f
        assert "v" in f.get("col_stats", {}), f
        lo, hi = f["col_stats"]["v"]
        assert 0.0 <= lo <= hi <= 299.0


def test_upsert_broadcast_path_matches_window_path(spark, tmp_path, sf_dir):
    """The cost-gated broadcast merge plan and the single-window plan
    must produce identical tables (forced via the min_base_bytes prop)."""
    from hudi_demo_spark import Engine
    from hudi_demo_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders").withColumn(
        "seq", F.lit(1).cast("long")
    )
    upd = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn("seq", F.lit(2).cast("long"))
    )
    snaps = []
    for tag, props in [("bc", {"upsert.broadcast.min_base_bytes": "0"}), ("win", None)]:
        eng = Engine(spark, tmp_path / tag)
        eng.create_table(
            "t", record_key="o_orderkey", precombine="seq",
            partition_by="o_orderstatus", props=props,
        )
        eng.insert(o, "t")
        eng.upsert(upd, "t")
        snaps.append(
            sorted(
                tuple(r)
                for r in eng.read("t")
                .drop("_hoodie_commit_time")
                .collect()
            )
        )
    assert snaps[0] == snaps[1]


def test_cluster_zorder_two_dim_locality(engine, spark):
    """Z-order clustering: results exact, per-file stats present for BOTH
    dimensions, and metadata skipping prunes on the SECOND column too
    (lexicographic sort could only skip on the leading one)."""
    from hudi_demo_spark.engine.timeline import Timeline

    df = spark.range(0, 4096).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).cast("double").alias("x"),
        (F.floor(F.col("id") / 64)).cast("double").alias("y"),
    )
    engine.create_table("zc", record_key="k", props={"write.target_file_mb": "1"})
    engine.insert(df, "zc")
    meta = engine.cluster("zc", ["x", "y"], strategy="zorder")
    assert meta["operation"] == "cluster"
    got = engine.read("zc")
    assert got.count() == 4096
    assert got.agg(F.sum("x"), F.sum("y")).first() == \
        df.agg(F.sum("x"), F.sum("y")).first()
    cfg = engine._resolve("zc")
    live = Timeline(cfg.path).live_files()
    assert all(
        "x" in m.get("col_stats", {}) and "y" in m.get("col_stats", {})
        for m in live.values()
    )
    if len(live) > 2:
        # a narrow slice in EACH dimension skips files
        px = engine._prune_by_stats(live, "x", 0.0, 3.0)
        py = engine._prune_by_stats(live, "y", 0.0, 3.0)
        assert len(px) < len(live) and len(py) < len(live)
    for col, lo, hi in [("x", 0.0, 3.0), ("y", 60.0, 63.0)]:
        want = df.filter((F.col(col) >= lo) & (F.col(col) <= hi)).count()
        assert engine.read("zc", range_filter=(col, lo, hi)).count() == want
    with pytest.raises(ValueError, match="strategy"):
        engine.cluster("zc", ["x"], strategy="bogus")


def test_mor_delete_then_lower_ts_reinsert(engine, spark):
    """Delete-era fencing (hypothesis-found): a DELETE tombstone ends
    the key's history, so a later re-insert with a LOWER preCombine
    value than the dead row must still win — on MOR exactly as on COW
    (which physically removed the row). Without the fence the tombstone
    carries the dead row's ordering value and the re-insert stays
    invisible. Also pinned through log compaction and compaction."""
    for tt in ("mor", "cow"):
        t = f"dz_{tt}"
        engine.create_table(t, record_key="id", precombine="ts",
                            table_type=tt, payload="default")
        engine.upsert(_mkdf(spark, [(0, "hi", 1.0, 5, "x")]), t)
        engine.delete_keys(
            t, spark.createDataFrame([(0,)], "id int")
        )
        engine.upsert(_mkdf(spark, [(0, "back", 2.0, 0, "x")]), t)
        got = {r["id"]: (r["name"], r["ts"]) for r in engine.read(t).collect()}
        assert got == {0: ("back", 0)}, (tt, got)
        # pre-delete versions must not resurface through services
        if tt == "mor":
            engine.log_compact(t)
            got = {r["id"]: (r["name"], r["ts"])
                   for r in engine.read(t).collect()}
            assert got == {0: ("back", 0)}
            engine.compact(t)
            got = {r["id"]: (r["name"], r["ts"])
                   for r in engine.read(t).collect()}
            assert got == {0: ("back", 0)}
    # a delete whose key never returns stays deleted
    engine.create_table("dz2", record_key="id", precombine="ts",
                        table_type="mor")
    engine.upsert(_mkdf(spark, [(1, "a", 1.0, 9, "x")]), "dz2")
    engine.delete_keys("dz2", spark.createDataFrame([(1,)], "id int"))
    assert engine.read("dz2").count() == 0


def test_hilbert_curve_property(spark):
    """_attach_hilbert IS a Hilbert curve: on full grids (2-D 3-bit and
    3-D 2-bit) the mapping is a bijection onto 0..2^(n*b)-1 and every
    consecutive pair of curve positions is a UNIT step in space — the
    locality property that beats z-order's diagonal jumps."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.engine import Engine

    for n, bits in ((2, 3), (3, 2)):
        side = 1 << bits
        if n == 2:
            pts = [(x, y) for x in range(side) for y in range(side)]
            df = spark.createDataFrame(pts, "c0 long, c1 long")
        else:
            pts = [(x, y, z) for x in range(side)
                   for y in range(side) for z in range(side)]
            df = spark.createDataFrame(pts, "c0 long, c1 long, c2 long")
        cols = [F.col(f"c{i}") for i in range(n)]
        rows = Engine._attach_hilbert(df, cols, bits, out="h").collect()
        by_h = {r["h"]: tuple(r[f"c{i}"] for i in range(n)) for r in rows}
        assert sorted(by_h) == list(range(side ** n))  # bijection
        for k in range(1, side ** n):
            a, b = by_h[k - 1], by_h[k]
            assert sum(abs(x - y) for x, y in zip(a, b)) == 1  # unit step


def test_cluster_hilbert_two_dim_locality(engine, spark):
    """Hilbert clustering: results exact, per-file stats on both
    dimensions, metadata skipping prunes on each column, and
    range_filter reads stay exact — the zorder contract under the
    better-locality curve."""
    from hudi_demo_spark.engine.timeline import Timeline

    df = spark.range(0, 4096).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).cast("double").alias("x"),
        (F.floor(F.col("id") / 64)).cast("double").alias("y"),
    )
    engine.create_table("hc", record_key="k",
                        props={"write.target_file_mb": "1"})
    engine.insert(df, "hc")
    meta = engine.cluster("hc", ["x", "y"], strategy="hilbert")
    assert meta["operation"] == "cluster"
    got = engine.read("hc")
    assert got.count() == 4096
    assert got.agg(F.sum("x"), F.sum("y")).first() == \
        df.agg(F.sum("x"), F.sum("y")).first()
    cfg = engine._resolve("hc")
    live = Timeline(cfg.path).live_files()
    assert all(
        "x" in m.get("col_stats", {}) and "y" in m.get("col_stats", {})
        for m in live.values()
    )
    if len(live) > 2:
        px = engine._prune_by_stats(live, "x", 0.0, 3.0)
        py = engine._prune_by_stats(live, "y", 0.0, 3.0)
        assert len(px) < len(live) and len(py) < len(live)
    for col, lo, hi in [("x", 0.0, 3.0), ("y", 60.0, 63.0)]:
        want = df.filter((F.col(col) >= lo) & (F.col(col) <= hi)).count()
        assert engine.read("hc", range_filter=(col, lo, hi)).count() == want


def test_partition_sort_write_bounds_file_count(spark, tmp_path):
    """write.sort_mode=partition_sort: a pre-split insert coalesces to a
    bounded file count per hive partition (bulk-insert GLOBAL_SORT
    analog); without it, files scale with input splits x partitions."""
    from hudi_demo_spark import Engine
    from hudi_demo_spark.engine.timeline import Timeline

    df = spark.range(0, 30000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        F.rand(7).alias("v"),
    ).repartition(16)  # 16 splits x 3 partitions
    for tag, props, check in [
        ("sorted", {"write.sort_mode": "partition_sort"}, None),
        ("plain", None, None),
    ]:
        eng = Engine(spark, tmp_path / tag)
        eng.create_table("t", record_key="k", partition_by="p", props=props)
        eng.insert(df, "t")
        n_files = len(Timeline((tmp_path / tag) / "t").live_files())
        if tag == "sorted":
            sorted_n = n_files
        else:
            plain_n = n_files
        assert eng.read("t").count() == 30000
    assert sorted_n <= 3  # AQE coalesces the range shuffle to ~1 file/range
    assert plain_n > sorted_n  # the un-shuffled write fans out per split


def test_multi_column_range_filter_read(engine, spark):
    """read(range_filter=[(x,..),(y,..)]) prunes on every dimension of a
    z-ordered table and stays exact."""
    df = spark.range(0, 2048).select(
        F.col("id").alias("k"),
        (F.col("id") % 32).cast("double").alias("x"),
        (F.floor(F.col("id") / 32)).cast("double").alias("y"),
    )
    engine.create_table("zr", record_key="k", props={"write.target_file_mb": "1"})
    engine.insert(df, "zr")
    engine.cluster("zr", ["x", "y"], strategy="zorder")
    want = df.filter(
        (F.col("x") >= 2.0) & (F.col("x") <= 9.0)
        & (F.col("y") >= 10.0) & (F.col("y") <= 20.0)
    ).count()
    got = engine.read(
        "zr", range_filter=[("x", 2.0, 9.0), ("y", 10.0, 20.0)]
    ).count()
    assert got == want


# ---------------------------------------------------------------------
# global index, partial-update payload, delete_partition, insert-dedup
# ---------------------------------------------------------------------


def _global_setup(engine, spark, table_type="cow", props=None):
    engine.create_table(
        "g", record_key="id", precombine="ts", partition_by="dt",
        table_type=table_type,
        props={"index.global": "true", **(props or {})},
    )
    engine.insert(_mkdf(spark, SEED_ROWS), "g")
    return "g"


def test_global_upsert_moves_partition(engine, spark):
    """A key upserted with a NEW partition value must move — exactly one
    row per key afterwards, in the new partition."""
    t = _global_setup(engine, spark)
    moved = _mkdf(spark, [(1, "hudi", 99.0, 200, "2022-10-01")])
    engine.upsert(moved, t)
    st = _state(engine, t)
    assert len(st) == 4
    by_id = {r[0]: r for r in st}
    assert by_id[1][4] == "2022-10-01" and by_id[1][2] == 99.0


def test_global_upsert_mor_compaction_no_stale_copy(engine, spark):
    """MOR: the partition-moving delta must eliminate the old-partition
    base row at compaction, not just at read-time merge."""
    t = _global_setup(engine, spark, table_type="mor")
    engine.upsert(_mkdf(spark, [(2, "hudi", 77.0, 200, "2022-10-02")]), t)
    # read-time merge already hides the stale copy
    assert {r[0] for r in _state(engine, t)} == {1, 2, 3, 4}
    engine.compact(t)
    st = _state(engine, t)
    assert len(st) == 4
    assert {r[0]: r[4] for r in st}[2] == "2022-10-02"


def test_non_global_upsert_keeps_both_partition_copies(engine, spark):
    """Contrast case: with the default partition-scoped index, the same
    partition-changing upsert INSERTS into the new partition and leaves
    the old row — two copies of the key (documented Hudi non-global
    behavior)."""
    engine.create_table(
        "ng", record_key="id", precombine="ts", partition_by="dt",
    )
    engine.insert(_mkdf(spark, SEED_ROWS), "ng")
    engine.upsert(_mkdf(spark, [(1, "hudi", 99.0, 200, "2022-10-01")]), "ng")
    assert len([r for r in _state(engine, "ng") if r[0] == 1]) == 2


def test_partial_update_payload(engine, spark):
    """NULL columns in the winning version fall back to older values;
    non-null columns overwrite."""
    engine.create_table(
        "p", record_key="id", precombine="ts", payload="partial_update",
    )
    engine.insert(_mkdf(spark, SEED_ROWS[:2]), "p")
    upd = _mkdf(spark, [(1, None, 55.0, 200, None)])
    engine.upsert(upd, "p")
    by_id = {r[0]: r for r in _state(engine, "p")}
    assert by_id[1] == (1, "hudi", 55.0, 200, "2022-09-05")
    assert by_id[2] == (2, "hudi", 10.0, 100, "2022-09-05")


def test_partial_update_lower_ordering_loses(engine, spark):
    """A partial update with a LOWER preCombine must lose entirely —
    stale partials cannot clobber newer columns."""
    engine.create_table(
        "pl", record_key="id", precombine="ts", payload="partial_update",
    )
    engine.insert(_mkdf(spark, SEED_ROWS[:1]), "pl")
    engine.upsert(_mkdf(spark, [(1, None, 55.0, 50, None)]), "pl")
    by_id = {r[0]: r for r in _state(engine, "pl")}
    assert by_id[1] == (1, "hudi", 10.0, 100, "2022-09-05")


def test_delete_partition_metadata_only(engine, spark):
    t = _setup(engine, spark)
    meta = engine.delete_partition(t, "dt=2022-09-05")
    assert meta["files_added"] == []
    assert [r[0] for r in _state(engine, t)] == [3, 4]
    # time travel still sees the dropped partition
    commits = [m["instant"] for m in __import__(
        "hudi_demo_spark.engine.timeline", fromlist=["Timeline"]
    ).Timeline(engine._resolve(t).path).instants()]
    before = engine.read(t, as_of=commits[-2]).count()
    assert before == 4


def test_insert_drop_duplicates(engine, spark):
    engine.create_table("d", record_key="id", precombine="ts")
    engine.insert(_mkdf(spark, SEED_ROWS[:2]), "d")
    # batch overlaps key 2, brings new keys 3,4 (and an intra-batch dup of 3)
    batch = _mkdf(spark, [
        (2, "new", 99.0, 200, "2022-09-25"),
        (3, "hudi", 10.0, 100, "2022-09-25"),
        (3, "hudi", 11.0, 150, "2022-09-25"),
        (4, "hudi", 10.0, 100, "2022-09-25"),
    ])
    engine.insert(batch, "d", drop_duplicates=True)
    st = _state(engine, "d")
    by_id = {r[0]: r for r in st}
    assert len(st) == 4
    assert by_id[2][1] == "hudi" and by_id[2][2] == 10.0  # existing kept
    assert by_id[3][2] == 11.0  # intra-batch preCombine winner


def test_insert_drop_duplicates_mor_deleted_key_reinsertable(engine, spark):
    """A key whose latest MOR version is a delete marker is NOT live and
    must not block re-insert."""
    engine.create_table(
        "dm", record_key="id", precombine="ts", table_type="mor",
    )
    engine.insert(_mkdf(spark, SEED_ROWS[:2]), "dm")
    engine.delete("dm", "id = 1")
    engine.insert(
        _mkdf(spark, [(1, "back", 33.0, 300, "2022-09-05")]),
        "dm", drop_duplicates=True,
    )
    by_id = {r[0]: r for r in _state(engine, "dm")}
    assert by_id[1][1] == "back"


def test_expire_partitions_ttl(engine, spark):
    """Partition TTL: path-predicate expiry drops old partitions as one
    metadata commit."""
    t = _setup(engine, spark)
    meta = engine.expire_partitions(
        t, "_hoodie_partition_path < 'dt=2022-09-10'"
    )
    assert meta["stats"]["partitions_deleted"] == ["dt=2022-09-05"]
    assert [r[0] for r in _state(engine, t)] == [3, 4]
    # idempotent: nothing left to expire
    meta2 = engine.expire_partitions(
        t, "_hoodie_partition_path < 'dt=2022-09-10'"
    )
    assert meta2["stats"]["files_removed"] == 0


def test_ttl_partitions_by_last_touch(engine, spark):
    """Time-based partition TTL (KEEP_BY_TIME): a partition expires when
    its newest live-file commit is <= the cutoff; any later write to the
    partition — including an upsert of one row — keeps it alive."""
    engine.create_table("tt", record_key="id", precombine="ts",
                        partition_by="dt")
    old = engine.insert(_mkdf(spark, [
        (1, "a", 1.0, 100, "2022-09-05"),
        (2, "b", 2.0, 100, "2022-09-06"),
    ]), "tt")
    engine.insert(
        _mkdf(spark, [(3, "c", 3.0, 100, "2022-09-07")]), "tt"
    )
    # rewrite one dt=2022-09-05 row after the cutoff: partition stays
    engine.upsert(
        _mkdf(spark, [(1, "warm", 1.0, 999, "2022-09-05")]), "tt"
    )
    meta = engine.ttl_partitions("tt", older_than=old["instant"])
    assert meta["stats"]["partitions_deleted"] == ["dt=2022-09-06"]
    assert sorted(r[4] for r in _state(engine, "tt")) == [
        "2022-09-05", "2022-09-07"
    ]
    # retain_hours path: nothing is older than now-1h
    meta2 = engine.ttl_partitions("tt", retain_hours=1.0)
    assert meta2["stats"]["files_removed"] == 0
    # everything is older than now+1h — the rest expires
    meta3 = engine.ttl_partitions("tt", retain_hours=-1.0)
    assert sorted(meta3["stats"]["partitions_deleted"]) == [
        "dt=2022-09-05", "dt=2022-09-07"
    ]
    with pytest.raises(ValueError):
        engine.ttl_partitions("tt")


def test_inline_ttl_trigger(engine, spark, monkeypatch):
    """ttl.inline + ttl.retain_hours: every write sweeps cold
    partitions automatically (the writer-embedded table service).
    Writes with nothing expired add NO empty replacecommits."""
    from datetime import datetime, timedelta, timezone

    from hudi_demo_spark.engine import engine as E
    from hudi_demo_spark.engine.timeline import Timeline

    # the clock the TTL cutoff reads, pinned: the cutoff is "now" minus
    # the 1-second retention, whatever the inserts' own durations
    clock = [datetime.now(timezone.utc)]

    class _Pinned(datetime):
        @classmethod
        def now(cls, tz=None):
            return clock[0]

    monkeypatch.setattr(E, "datetime", _Pinned)
    # 1-second retention: a partition untouched for >1s is cold
    engine.create_table(
        "it", record_key="id", precombine="ts", partition_by="dt",
        props={"ttl.inline": "true",
               "ttl.retain_hours": str(1.0 / 3600)},
    )
    engine.insert(_mkdf(spark, [(1, "a", 1.0, 1, "2022-09-05")]), "it")
    # cutoff = first instant + 1 µs: strictly between the two inserts'
    # instants (instants are strictly increasing microsecond stamps and
    # the second insert draws its own after the first one's commit)
    first = Timeline(engine._resolve("it").path).last_instant()
    clock[0] = datetime.strptime(first, "%Y%m%d%H%M%S%f").replace(
        tzinfo=timezone.utc
    ) + timedelta(seconds=1, microseconds=1)
    # the write itself is inside the retention window; 09-05 is not
    engine.insert(_mkdf(spark, [(2, "b", 2.0, 1, "2022-09-06")]), "it")
    assert sorted(r[4] for r in _state(engine, "it")) == ["2022-09-06"]
    tl = Timeline(engine._resolve("it").path)
    ops = [m["operation"] for m in tl.instants()]
    assert ops.count("delete_partition") == 1  # no empty TTL commits
    # a warm table sweeps nothing and commits nothing extra
    engine.create_table(
        "it2", record_key="id", precombine="ts", partition_by="dt",
        props={"ttl.inline": "true", "ttl.retain_hours": "48"},
    )
    engine.insert(_mkdf(spark, [(1, "a", 1.0, 1, "2022-09-05")]), "it2")
    engine.insert(_mkdf(spark, [(2, "b", 2.0, 1, "2022-09-06")]), "it2")
    tl2 = Timeline(engine._resolve("it2").path)
    assert [m["operation"] for m in tl2.instants()] == ["insert", "insert"]
    assert len(_state(engine, "it2")) == 2


def test_call_run_ttl(engine, spark):
    """CALL run_ttl routes both strategies: older_than instant and a
    partition-path condition; returns the expired partition list."""
    from hudi_demo_spark.engine.sql import SqlRouter

    engine.create_table("rt", record_key="id", precombine="ts",
                        partition_by="dt")
    old = engine.insert(_mkdf(spark, [
        (1, "a", 1.0, 100, "2022-09-05"),
        (2, "b", 2.0, 100, "2022-09-06"),
    ]), "rt")
    engine.insert(
        _mkdf(spark, [(3, "c", 3.0, 100, "2022-09-07")]), "rt"
    )
    router = SqlRouter(engine)
    got = router.sql(
        f"CALL run_ttl(table => 'rt', older_than => '{old['instant']}')"
    )
    assert sorted(r[0] for r in got.collect()) == [
        "dt=2022-09-05", "dt=2022-09-06"
    ]
    got2 = router.sql(
        "CALL run_ttl(table => 'rt', "
        "condition => '_hoodie_partition_path >= \"dt=2022-09-07\"')"
    )
    assert [r[0] for r in got2.collect()] == ["dt=2022-09-07"]
    assert _state(engine, "rt") == []


def test_merge_global_index_moves_partition(engine, spark):
    """MERGE on a global-index table: a matched source row with a new
    partition value MOVES the record (one copy, new partition) instead
    of inserting a duplicate — the W5 x W16 interaction."""
    engine.create_table(
        "mg", record_key="id", precombine="ts", partition_by="dt",
        props={"index.global": "true"},
    )
    engine.insert(_mkdf(spark, SEED_ROWS), "mg")
    src = _mkdf(spark, [
        (1, "moved", 77.0, 200, "2022-12-01"),   # matched: moves partition
        (9, "new", 5.0, 100, "2022-12-01"),      # not matched: insert
    ])
    engine.merge("mg", src)
    st = _state(engine, "mg")
    assert len(st) == 5
    by_id = {r[0]: r for r in st}
    assert by_id[1][4] == "2022-12-01" and by_id[1][1] == "moved"
    assert by_id[9][1] == "new"


def test_write_parquet_codec_prop(engine, spark):
    """write.parquet.codec (hoodie.parquet.compression.codec analog):
    data files are written with the configured codec; reads unchanged."""
    import pathlib

    import pyarrow.parquet as pq

    engine.create_table(
        "codec_t", record_key="id",
        props={"write.parquet.codec": "zstd"},
    )
    engine.insert(
        spark.createDataFrame([(i, f"v{i}" * 50) for i in range(100)],
                              "id int, payload string"),
        "codec_t",
    )
    cfg = engine._resolve("codec_t")
    files = list((pathlib.Path(cfg.path) / "data").rglob("*.parquet"))
    assert files
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        codecs = {
            md.row_group(i).column(0).compression.lower()
            for i in range(md.num_row_groups)
        }
        assert codecs == {"zstd"}, (f, codecs)
    assert engine.read("codec_t").count() == 100


def test_update_swap_assignments_simultaneous(engine, spark):
    """UPDATE SET a=b, b=a must SWAP (one projection over the
    pre-update row) on BOTH table types — a sequential withColumn loop
    would feed the second assignment the already-overwritten value."""
    for tt in ("cow", "mor"):
        t = f"swap_{tt}"
        engine.create_table(t, record_key="id", precombine="ts",
                            table_type=tt)
        engine.insert(
            spark.createDataFrame(
                [(1, "A", "B", 1)], "id int, a string, b string, ts long"
            ),
            t,
        )
        engine.update(t, set={"a": "b", "b": "a"}, where="id = 1")
        row = engine.read(t).collect()[0]
        assert (row["a"], row["b"]) == ("B", "A"), tt


def test_precombine_defaults_to_ordering_payload(engine, spark):
    """W6/NBCC determinism: declaring a preCombine field selects the
    ordering-aware payload by default (JavaClientHive2Hudi.java:145-148
    picks DefaultHoodieRecordPayload when an ordering field exists), so
    a LATER commit with a LOWER ordering value loses to the stored row —
    resolution is by ts, not commit order. Without precombine the
    default stays overwrite-latest (commit order wins)."""
    for tt in ("cow", "mor"):
        t = f"pcd_{tt}"
        engine.create_table(t, record_key="id", precombine="ts",
                            table_type=tt)
        assert engine._resolve(t).payload == "default"
        engine.upsert(_mkdf(spark, [(1, "new", 1.0, 20, "x")]), t)
        # later commit, lower ts: must NOT win
        engine.upsert(_mkdf(spark, [(1, "stale", 9.0, 10, "x")]), t)
        st = _state(engine, t)
        assert st == [(1, "new", 1.0, 20, "x")], st
        # higher ts wins as always
        engine.upsert(_mkdf(spark, [(1, "newer", 2.0, 30, "x")]), t)
        assert _state(engine, t) == [(1, "newer", 2.0, 30, "x")]
    # no preCombine field: commit order wins (overwrite-latest default)
    engine.create_table("pcd_nopc", record_key="id")
    engine.upsert(_mkdf(spark, [(1, "first", 1.0, 20, "x")]), "pcd_nopc")
    engine.upsert(_mkdf(spark, [(1, "second", 1.0, 10, "x")]), "pcd_nopc")
    assert engine._resolve("pcd_nopc").payload == "overwrite_latest"
    assert _state(engine, "pcd_nopc") == [(1, "second", 1.0, 10, "x")]


def test_ttl_ignores_table_service_touches(engine, spark):
    """Partition TTL counts DATA commits only as last-touch: a cold
    partition that merely got clustered or compacted must still expire
    (the rewrite stamps a fresh instant on its files but is not a
    write)."""
    engine.create_table("tsvc", record_key="id", precombine="ts",
                        partition_by="dt")
    old = engine.insert(_mkdf(spark, [
        (1, "a", 1.0, 100, "2022-09-05"),
        (2, "b", 2.0, 100, "2022-09-06"),
    ]), "tsvc")
    engine.insert(_mkdf(spark, [(3, "c", 3.0, 100, "2022-09-07")]), "tsvc")
    # table service AFTER the cutoff rewrites every file
    assert engine.cluster("tsvc", ["id"]) is not None
    meta = engine.ttl_partitions("tsvc", older_than=old["instant"])
    assert sorted(meta["stats"]["partitions_deleted"]) == [
        "dt=2022-09-05", "dt=2022-09-06"
    ]
    assert [r[0] for r in _state(engine, "tsvc")] == [3]
    # MOR: compaction is not a touch either
    engine.create_table("tsvm", record_key="id", precombine="ts",
                        partition_by="dt", table_type="mor")
    old2 = engine.insert(_mkdf(spark, [
        (1, "a", 1.0, 100, "2022-09-05"),
    ]), "tsvm")
    engine.upsert(_mkdf(spark, [(1, "a2", 1.5, 200, "2022-09-05")]), "tsvm")
    engine.insert(_mkdf(spark, [(2, "b", 2.0, 100, "2022-09-06")]), "tsvm")
    assert engine.compact("tsvm") is not None
    # cutoff after the dt=09-05 upsert but before the 09-06 insert:
    # 09-05's last DATA touch is the upsert, not the compaction
    tl_instants = [m["instant"] for m in __import__(
        "hudi_demo_spark.engine.timeline", fromlist=["Timeline"]
    ).Timeline(engine._resolve("tsvm").path).instants()]
    meta2 = engine.ttl_partitions("tsvm", older_than=tl_instants[1])
    assert meta2["stats"]["partitions_deleted"] == ["dt=2022-09-05"]
    assert [r[0] for r in _state(engine, "tsvm")] == [2]


def test_ttl_ignores_bucket_resize_touch(engine, spark):
    """bucket_resize is a row-preserving table service like cluster /
    compact: it commits files_added under a fresh instant, but it must
    NOT bump a partition's TTL last-touch — a cold partition that merely
    got bucket-resized still expires."""
    engine.create_table(
        "tsbr", record_key="id", precombine="ts", partition_by="dt",
        props={"bucket.num": 2},
    )
    old = engine.insert(_mkdf(spark, [
        (1, "a", 1.0, 100, "2022-09-05"),
        (2, "b", 2.0, 100, "2022-09-06"),
    ]), "tsbr")
    engine.insert(_mkdf(spark, [(3, "c", 3.0, 100, "2022-09-07")]), "tsbr")
    # rescale AFTER the cutoff: rewrites placement under a fresh instant
    engine.sql("call resize_bucket_index(table => 'tsbr', buckets => 4)")
    meta = engine.ttl_partitions("tsbr", older_than=old["instant"])
    assert sorted(meta["stats"]["partitions_deleted"]) == [
        "dt=2022-09-05", "dt=2022-09-06"
    ]
    assert [r[0] for r in _state(engine, "tsbr")] == [3]


def test_curve_sign_bit_four_dims(engine, spark):
    """4-D curves must not spill into long bit 63 (the sign bit): the
    code budget caps at n*bits <= 63, so every z-value / Hilbert index
    is non-negative and extreme corners still order correctly. With the
    uncapped 4x16 layout half the key space sorted negative-first."""
    from hudi_demo_spark.engine.engine import Engine

    corners = [
        (0, 0.0, 0.0, 0.0, 0.0),
        (1, 1e6, 1e6, 1e6, 1e6),
        (2, 1e6, 0.0, 1e6, 0.0),
        (3, 5e5, 5e5, 5e5, 5e5),
    ]
    df = spark.createDataFrame(
        corners, "k int, a double, b double, c double, d double"
    )
    z = df.select(
        "k", Engine._zorder_col(df, ["a", "b", "c", "d"]).alias("z")
    ).collect()
    zs = {r["k"]: r["z"] for r in z}
    assert all(v >= 0 for v in zs.values()), zs
    assert zs[1] > zs[0]  # max corner sorts after min corner
    # 4-D Hilbert property on a full 2-bit grid: bijection + unit steps
    side = 4
    pts = [(x, y, zz, w) for x in range(side) for y in range(side)
           for zz in range(side) for w in range(side)]
    gdf = spark.createDataFrame(pts, "c0 long, c1 long, c2 long, c3 long")
    cols = [F.col(f"c{i}") for i in range(4)]
    rows = Engine._attach_hilbert(gdf, cols, 2, out="h").collect()
    by_h = {r["h"]: tuple(r[f"c{i}"] for i in range(4)) for r in rows}
    assert sorted(by_h) == list(range(side ** 4))
    for i in range(1, side ** 4):
        assert sum(abs(x - y) for x, y in zip(by_h[i - 1], by_h[i])) == 1
    # end-to-end: 4-D hilbert clustering stays exact under the cap
    df4 = spark.range(0, 512).select(
        F.col("id").alias("k"),
        (F.col("id") % 8).cast("double").alias("a"),
        (F.floor(F.col("id") / 8) % 8).cast("double").alias("b"),
        (F.floor(F.col("id") / 64) % 8).cast("double").alias("c"),
        (F.col("id") % 5).cast("double").alias("d"),
    )
    engine.create_table("h4", record_key="k")
    engine.insert(df4, "h4")
    meta = engine.cluster("h4", ["a", "b", "c", "d"], strategy="hilbert")
    assert meta["operation"] == "cluster"
    assert engine.read("h4").count() == 512
    assert engine.read("h4").agg(F.sum("a"), F.sum("d")).first() == \
        df4.agg(F.sum("a"), F.sum("d")).first()
