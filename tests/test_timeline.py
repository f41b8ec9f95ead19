"""Timeline / incremental-query tests mirroring IncrementalQuery.main
(hudi0.12_spark3.1/.../IncrementalQuery.scala:32-59): 5 single-row commits,
show_commits order, exact (begin, end] reads, path-glob pruning
(SURVEY §5 item 3). Plus archival/clean/time-travel."""

import pytest
from pyspark.sql import functions as F

ROWS = [
    (1, "a1", 10.0, 1000, "2022-11-25"),
    (2, "a2", 20.0, 2000, "2022-11-25"),
    (3, "a3", 30.0, 3000, "2022-11-26"),
    (4, "a4", 40.0, 4000, "2022-12-26"),
    (5, "a5", 50.0, 5000, "2022-12-27"),
]
SCHEMA = "id int, name string, price double, ts long, dt string"


def _setup(engine, spark):
    engine.create_table("t", record_key="id", precombine="ts", partition_by="dt")
    for row in ROWS:
        engine.insert(spark.createDataFrame([row], SCHEMA), "t")
    return "t"


def test_show_commits_desc(engine, spark):
    t = _setup(engine, spark)
    commits = engine.show_commits(t).collect()
    assert len(commits) == 5
    times = [c["commit_time"] for c in commits]
    assert times == sorted(times, reverse=True)  # newest first, like the proc
    assert all(c["operation"] == "insert" for c in commits)


def test_incremental_begin_end(engine, spark):
    """IncrementalQuery.scala:37-53: begin = 2nd-to-last, end variants."""
    t = _setup(engine, spark)
    commits = engine.show_commits(t).collect()
    # reference picks commits(commits.length-2) as begin → rows of the last commit...
    # begin = 2nd commit time → rows from commits 3..5
    asc = sorted(c["commit_time"] for c in commits)
    inc = engine.read_incremental(t, begin=asc[1])
    assert sorted(r["id"] for r in inc.collect()) == [3, 4, 5]
    inc2 = engine.read_incremental(t, begin=asc[1], end=asc[3])
    assert sorted(r["id"] for r in inc2.collect()) == [3, 4]
    # begin=None → everything
    assert engine.read_incremental(t).count() == 5


def test_incremental_path_glob(engine, spark):
    """INCR_PATH_GLOB (IncrementalQuery.scala:52): restrict to /dt=2022-11*/*."""
    t = _setup(engine, spark)
    inc = engine.read_incremental(t, path_glob="/dt=2022-11*/*")
    assert sorted(r["id"] for r in inc.collect()) == [1, 2, 3]


def test_incremental_shows_latest_state_of_changed_keys(engine, spark):
    t = _setup(engine, spark)
    before = engine.show_commits(t).collect()[0]["commit_time"]
    engine.upsert(
        spark.createDataFrame([(1, "a1x", 11.0, 9999, "2022-11-25")], SCHEMA), "t"
    )
    inc = engine.read_incremental(t, begin=before)
    rows = inc.collect()
    assert [r["id"] for r in rows] == [1]
    assert rows[0]["name"] == "a1x"


def test_time_travel_as_of(engine, spark):
    t = _setup(engine, spark)
    commits = sorted(c["commit_time"] for c in engine.show_commits(t).collect())
    snap3 = engine.read(t, as_of=commits[2])
    assert sorted(r["id"] for r in snap3.collect()) == [1, 2, 3]


def test_archive_and_time_travel_after(engine, spark):
    t = _setup(engine, spark)
    moved = engine.archive(t, keep=2)
    assert moved == 3
    # snapshot still complete via checkpoint replay
    assert engine.read(t).count() == 5
    # show_commits still sees archived instants
    assert engine.show_commits(t).count() == 5


def test_clean_removes_old_files(engine, spark, tmp_path):
    import pathlib

    engine.create_table("c", record_key="id", precombine="ts", partition_by="dt")
    for i in range(3):
        engine.upsert(
            spark.createDataFrame([(1, f"v{i}", 1.0 * i, i, "2022-11-25")], SCHEMA),
            "c",
        )
    cfg = engine._resolve("c")
    data = pathlib.Path(cfg.path) / "data"
    n_before = len(list(data.rglob("*.parquet")))
    # stale_staging_s=0: the age gate protecting in-flight writers'
    # unpublished files would otherwise defer removal of these
    # seconds-old versions
    engine.clean("c", retain_commits=1, stale_staging_s=0)
    n_after = len(list(data.rglob("*.parquet")))
    assert n_after < n_before
    assert [r["name"] for r in engine.read("c").collect()] == ["v2"]


def test_bucket_index_bounds_files_per_partition(engine, spark):
    from pathlib import Path

    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("p"),
        F.rand(1).alias("v"),
    )
    engine.create_table("tb", record_key="id", partition_by="p",
                        props={"bucket.num": 3})
    engine.insert(df, "tb")
    cfg = engine._resolve("tb")
    data = Path(cfg.path) / "data"
    for pdir in data.iterdir():
        if pdir.is_dir():
            n = len(list(pdir.glob("*.parquet")))
            assert 1 <= n <= 3, (pdir, n)
    assert engine.read("tb").count() == 200


def test_rollback_to_instant(engine, spark):
    import pytest as _pytest

    df1 = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double")
    df2 = spark.createDataFrame([(3, 3.0)], "id int, v double")
    df3 = spark.createDataFrame([(2, 99.0)], "id int, v double")
    engine.create_table("rb", record_key="id")
    m1 = engine.insert(df1, "rb")
    m2 = engine.insert(df2, "rb")
    engine.upsert(df3, "rb")
    assert {r["v"] for r in engine.read("rb").collect()} == {1.0, 99.0, 3.0}
    rolled = engine.rollback("rb", m2["instant"])
    assert len(rolled) == 1
    assert {r["v"] for r in engine.read("rb").collect()} == {1.0, 2.0, 3.0}
    rolled = engine.rollback("rb", m1["instant"])
    assert {r["v"] for r in engine.read("rb").collect()} == {1.0, 2.0}
    with _pytest.raises(ValueError, match="not in the active timeline"):
        engine.rollback("rb", "19990101000000000000")


def test_rollback_refuses_crossing_clean(engine, spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 1.0)], "id int, v double")
    engine.create_table("rbc", record_key="id")
    m1 = engine.insert(df, "rbc")
    engine.upsert(spark.createDataFrame([(1, 2.0)], "id int, v double"), "rbc")
    engine.clean("rbc", retain_commits=1)
    with _pytest.raises(ValueError, match="clean"):
        engine.rollback("rbc", m1["instant"])


def test_call_procedures_route(engine, spark):
    df = spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1)], "id int, v double, ts int"
    )
    engine.create_table("cp", record_key="id", precombine="ts",
                        table_type="mor")
    engine.insert(df, "cp")
    engine.upsert(
        spark.createDataFrame([(2, 21.0, 2)], "id int, v double, ts int"), "cp"
    )
    engine.sql("call run_compaction(table => 'cp')")
    engine.sql("call run_clustering(table => 'cp', order => 'v')")
    commits = engine.sql("call show_commits(table => 'cp')").collect()
    assert any(r["operation"] == "cluster" for r in commits)
    last = max(r["commit_time"] for r in commits
               if r["operation"] in ("insert", "upsert", "compact", "cluster"))
    # rollback the clustering via CALL, content unchanged
    prev = sorted(r["commit_time"] for r in commits)[-2]
    engine.sql(
        f"call rollback_to_instant(table => 'cp', instant_time => '{prev}')"
    )
    got = {r["id"]: r["v"] for r in engine.read("cp").collect()}
    assert got == {1: 10.0, 2: 21.0}
    engine.sql("call clean(table => 'cp', retain_commits => 10)")


def test_savepoint_restore_across_clean(engine, spark):
    import pytest as _pytest

    engine.create_table("sv", record_key="id")
    engine.insert(spark.createDataFrame([(1, 1.0)], "id int, v double"), "sv")
    engine.upsert(spark.createDataFrame([(1, 2.0)], "id int, v double"), "sv")
    sp = engine.savepoint("sv")
    assert engine.savepoints("sv") == [sp]
    engine.upsert(spark.createDataFrame([(1, 3.0)], "id int, v double"), "sv")
    engine.upsert(spark.createDataFrame([(1, 4.0)], "id int, v double"), "sv")
    # clean aggressively: only the latest snapshot plus savepoints survive
    engine.clean("sv", retain_commits=1)
    # plain rollback refuses to cross the clean ...
    with _pytest.raises(ValueError, match="clean"):
        engine.rollback("sv", sp)
    # ... but the savepointed snapshot is clean-protected and restorable
    engine.restore_to_savepoint("sv", sp)
    assert [r["v"] for r in engine.read("sv").collect()] == [2.0]
    with _pytest.raises(ValueError, match="no savepoint"):
        engine.restore_to_savepoint("sv", "19990101000000000000")


def test_savepoint_sql_procedures(engine, spark):
    engine.create_table("svq", record_key="id")
    engine.insert(spark.createDataFrame([(1, 1.0)], "id int, v double"), "svq")
    engine.sql("call create_savepoint(table => 'svq')")
    sps = engine.sql("call show_savepoints(table => 'svq')").collect()
    assert len(sps) == 1
    sp = sps[0]["savepoint_time"]
    engine.insert(spark.createDataFrame([(2, 2.0)], "id int, v double"), "svq")
    engine.sql(
        f"call rollback_to_savepoint(table => 'svq', instant_time => '{sp}')"
    )
    assert engine.read("svq").count() == 1
    engine.sql(
        f"call delete_savepoint(table => 'svq', instant_time => '{sp}')"
    )
    assert engine.savepoints("svq") == []


def test_occ_conflict_on_same_file_group(tmp_path):
    """Two writers replacing the same file group: second commit raises
    ConcurrentWriteError (no silent lost update)."""
    import pytest

    from hudi_demo_spark.engine.timeline import (
        ConcurrentWriteError,
        Timeline,
        new_instant,
    )

    tl = Timeline(tmp_path / "t")
    i0 = new_instant()
    tl.commit(i0, "commit", "insert",
              [{"path": "f0.parquet", "kind": "base", "partition": ""}], [])
    # writer A and writer B both saw f0 live; A wins
    ia, ib = new_instant(), new_instant()
    tl.commit(ia, "commit", "upsert",
              [{"path": "fa.parquet", "kind": "base", "partition": ""}],
              ["f0.parquet"])
    with pytest.raises(ConcurrentWriteError, match="concurrent writer"):
        tl.commit(ib, "commit", "upsert",
                  [{"path": "fb.parquet", "kind": "base", "partition": ""}],
                  ["f0.parquet"])
    # disjoint file groups commit freely
    tl.commit(new_instant(), "commit", "upsert",
              [{"path": "fc.parquet", "kind": "base", "partition": ""}],
              ["fa.parquet"])


def test_table_writer_lock(tmp_path):
    import pytest

    from hudi_demo_spark.engine.timeline import Timeline

    tl = Timeline(tmp_path / "t")
    with tl.lock():
        with pytest.raises(TimeoutError, match="lock held"):
            with tl.lock(timeout_s=0.2):
                pass
    # released: re-acquirable
    with tl.lock(timeout_s=0.2):
        pass


def test_crash_before_commit_leaves_table_consistent(engine, spark):
    """A writer that died after writing data files but BEFORE publishing
    the commit JSON must be invisible: snapshot reads serve the last
    published commit, and the next write succeeds and cleans up."""
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    engine.create_table("cc_t", record_key="k")
    engine.insert(df, "cc_t")
    cfg = engine._resolve("cc_t")
    data = Path(cfg.path) / "data"
    # simulate a crash: orphan data files present, no commit published
    orphan = data / "b_99999999999999999999_00000.parquet"
    shutil.copy(next(data.glob("*.parquet")), orphan)
    (Path(cfg.path) / "_tmp" / "dead_instant").mkdir(parents=True)
    assert engine.read("cc_t").count() == 100  # orphan not served
    engine.insert(df.withColumn("v", F.lit("b")), "cc_t")
    assert engine.read("cc_t").count() == 200
    # the next WRITE must NOT sweep foreign staging (a live concurrent
    # writer may own it); age-gated sweep happens in clean()
    assert (Path(cfg.path) / "_tmp" / "dead_instant").exists()
    engine.clean("cc_t", stale_staging_s=0)
    assert not (Path(cfg.path) / "_tmp").exists()


def test_incremental_rollup_matches_batch(engine, spark):
    """Derived rollup maintained from incremental reads equals the batch
    aggregate after multiple refresh cycles; non-insert source commits
    are refused (additive maintenance would drift)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    engine.create_table("src_t", record_key="k", partition_by="g")
    create_rollup(engine, "src_t", "roll_t", ["g"], ["v"])

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("g"),
            (F.col("id") * 2).cast("double").alias("v"),
        )

    engine.insert(batch(0, 500), "src_t")
    assert refresh_rollup(engine, "roll_t") is not None
    engine.insert(batch(500, 800), "src_t")
    engine.insert(batch(800, 1000), "src_t")
    assert refresh_rollup(engine, "roll_t") is not None
    assert refresh_rollup(engine, "roll_t") is None  # no new commits
    got = {
        r["g"]: (r["n_rows"], r["sum_v"])
        for r in engine.read("roll_t").collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in batch(0, 1000)
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want
    # an update in the window switches the refresh to partial-recompute
    # maintenance (not silent additive folding): only k=1's group is
    # re-aggregated, and the rollup still equals the batch aggregate
    engine.update("src_t", set={"v": "v + 1"}, where="k = 1")
    meta = refresh_rollup(engine, "roll_t")
    assert meta is not None
    assert len(meta["files_removed"]) <= 1  # one group's row rewritten
    got = {
        r["g"]: (r["n_rows"], r["sum_v"])
        for r in engine.read("roll_t").collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in engine.read("src_t")
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_write_stats_cols_prop_records_and_prunes(engine, spark):
    """`write.stats_cols` records per-file [min,max] on EVERY write, so
    range_filter file skipping works without ever clustering."""
    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table(
        "sc", record_key="id", props={"write.stats_cols": "x"},
    )
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, float(lo + i)) for i in range(10)], "id int, x double"
        )
        engine.insert(df, "sc")
    cfg = engine._resolve("sc")
    metas = Timeline(cfg.path).live_files().values()
    assert all("col_stats" in m and "x" in m["col_stats"] for m in metas)
    # metadata-level skip: only the middle commit's file can intersect
    files = Timeline(cfg.path).live_files()
    kept = engine._prune_by_stats(files, "x", 100.0, 105.0)
    assert len(kept) < len(files)
    got = engine.read("sc", range_filter=("x", 100.0, 105.0)).count()
    assert got == 6  # rows 100..105 all live in the middle file


def test_write_stats_cols_star_covers_all_columns(engine, spark):
    """write.stats_cols='*' (Hudi metadata-table default): every scalar
    data column gets per-file [min,max]; meta columns excluded."""
    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table(
        "scs", record_key="id", props={"write.stats_cols": "*"},
    )
    engine.insert(
        spark.createDataFrame(
            [(1, 2.0, "a"), (5, 9.0, "z")], "id int, x double, s string"
        ),
        "scs",
    )
    cfg = engine._resolve("scs")
    metas = list(Timeline(cfg.path).live_files().values())
    assert metas
    for m in metas:
        cs = m["col_stats"]
        assert set(cs) == {"id", "x", "s"}  # all data cols, no meta cols
    all_ids = [m["col_stats"]["id"] for m in metas]
    assert min(lo for lo, _ in all_ids) == 1
    assert max(hi for _, hi in all_ids) == 5


def test_show_fsview(engine, spark):
    from hudi_demo_spark.engine.sql import SqlRouter

    engine.create_table("fv", record_key="id", partition_by="dt")
    engine.insert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, dt string"), "fv"
    )
    view = SqlRouter(engine).sql("call show_fsview_all(table => 'fv')")
    rows = view.collect()
    assert {r["partition"] for r in rows} == {"dt=a", "dt=b"}
    assert all(r["kind"] == "base" and r["bytes"] > 0 for r in rows)
    assert all(r["key_min"] is not None for r in rows)


def test_inflight_markers_protect_and_reclaim(engine, spark):
    """Hudi marker-file analog: a fresh marker protects a slow writer's
    staged files from the orphan sweep REGARDLESS of age; a stale marker
    lets clean() reclaim a dead writer's files promptly, by instant,
    even when their mtime is fresh."""
    import os
    import shutil
    import time
    from pathlib import Path

    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.timeline import Timeline

    df = spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit("a").alias("v")
    )
    engine.create_table("mk", record_key="k")
    engine.insert(df, "mk")
    cfg = engine._resolve("mk")
    tl = Timeline(cfg.path)
    assert tl.inflight() == []  # committed writes leave no markers
    data = Path(cfg.path) / "data"
    src = next(data.glob("*.parquet"))
    old = time.time() - 7200

    # slow LIVE writer: ancient orphan file, fresh marker
    slow = data / "b_11111111111111111111_00000.parquet"
    shutil.copy(src, slow)
    os.utime(slow, (old, old))
    tl.start_inflight("11111111111111111111", "base")
    # DEAD writer: fresh orphan file, stale marker
    dead = data / "b_22222222222222222222_00000.parquet"
    shutil.copy(src, dead)
    tl.start_inflight("22222222222222222222", "base")
    os.utime(tl.dir / "_inflight-22222222222222222222.json", (old, old))

    rows = {r["instant"] for r in engine.show_inflight("mk").collect()}
    assert rows == {"11111111111111111111", "22222222222222222222"}
    got = engine.sql("call show_inflight(table => 'mk')").collect()
    assert len(got) == 2

    engine.clean("mk", retain_commits=10, stale_staging_s=3600)
    assert slow.exists()  # live marker beats the age gate
    assert not dead.exists()  # dead marker beats the fresh-mtime gate
    assert [m["instant"] for m in tl.inflight()] == ["11111111111111111111"]


def test_incremental_rollup_handles_mutations(engine, spark):
    """Rollup refresh over a window containing upserts and deletes:
    partial-recompute maintenance keeps the rollup equal to the batch
    aggregate — including a group-moving update repairing its OLD group
    and a fully-deleted group disappearing from the rollup."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    engine.create_table("ms_t", record_key="k")
    create_rollup(engine, "ms_t", "ms_roll", ["g"], ["v"])

    def batch(lo, hi, g=None):
        d = spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("g"),
            (F.col("id") * 1.0).alias("v"),
        )
        return d if g is None else d.withColumn("g", F.lit(g))

    engine.insert(batch(0, 400), "ms_t")
    assert refresh_rollup(engine, "ms_roll") is not None  # additive path
    # mutations: move every id%4==1 row into group 'moved', delete the
    # whole of group '2', update values in group '3'
    engine.upsert(
        batch(0, 400).filter("g = '1'").withColumn("g", F.lit("moved")),
        "ms_t",
    )
    engine.delete("ms_t", "g = '2'")
    engine.update("ms_t", set={"v": "v + 100"}, where="g = '3'")
    assert refresh_rollup(engine, "ms_roll") is not None  # recompute path
    got = {
        r["g"]: (r["n_rows"], r["sum_v"])
        for r in engine.read("ms_roll").collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in engine.read("ms_t")
        .groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want
    assert "2" not in got and "moved" in got
    # idempotent: nothing new -> no-op
    assert refresh_rollup(engine, "ms_roll") is None


def test_rollup_histogram_fold_and_recompute(engine, spark):
    """Histogram rollup columns: the element-wise insert fold and the
    DML recompute both keep hist_<col> equal to a from-scratch batch
    histogram — including NULLs (uncounted), below-lo and above-hi
    values (clamped into the edge bins), and a group whose counts
    shrink after a delete."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    engine.create_table("hg_t", record_key="k")
    # 4 bins over [0, 40): width 10
    create_rollup(
        engine, "hg_t", "hg_roll", ["g"], [],
        hist_cols={"v": [0.0, 40.0, 4]},
    )

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).cast("string").alias("g"),
            # id%11: -5 (below lo), NULL, and 95 (above hi) mixed in
            F.when(F.col("id") % 11 == 0, F.lit(-5.0))
            .when(F.col("id") % 11 == 1, F.lit(None))
            .when(F.col("id") % 11 == 2, F.lit(95.0))
            .otherwise((F.col("id") % 40).cast("double"))
            .alias("v"),
        )

    def batch_hist():
        b = F.least(
            F.greatest(F.floor(F.col("v") / 10.0).cast("int"), F.lit(0)),
            F.lit(3),
        )
        return {
            r["g"]: tuple(r["h"])
            for r in engine.read("hg_t")
            .groupBy("g")
            .agg(F.array(*[
                F.sum(F.when(F.col("v").isNotNull() & (b == i), 1)
                      .otherwise(0))
                for i in range(4)
            ]).alias("h"))
            .collect()
        }

    def rolled():
        return {
            r["g"]: tuple(r["hist_v"])
            for r in engine.read("hg_roll").collect()
        }

    engine.insert(batch(0, 200), "hg_t")
    refresh_rollup(engine, "hg_roll")
    assert rolled() == batch_hist()  # fresh histograms
    engine.insert(batch(200, 350), "hg_t")
    refresh_rollup(engine, "hg_roll")
    assert rolled() == batch_hist()  # insert-only zip_with fold
    # clamped edges actually exercised: both groups saw -5 and 95
    assert all(h[0] > 0 and h[3] > 0 for h in rolled().values())
    engine.delete("hg_t", "k % 3 = 0")
    engine.update("hg_t", set={"v": "v + 7"}, where="k % 5 = 1")
    refresh_rollup(engine, "hg_roll")
    assert rolled() == batch_hist()  # DML window: exact rebuild
    assert refresh_rollup(engine, "hg_roll") is None


def test_rollup_percentiles_from_histogram(engine, spark):
    """rollup_percentiles serves per-group quantiles FROM the
    maintained bin counts: results equal a direct replay of the
    histogram-interpolation formula over the rollup's current
    hist_<col> arrays (first cumulative crossing + linear within-bin),
    q=1.0 lands on the upper edge of the highest occupied bin, an
    all-NULL group yields no rows, and bad inputs raise."""
    import pytest
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_rollup, refresh_rollup, rollup_percentiles,
    )

    engine.create_table("pc_t", record_key="k")
    # 4 bins over [0, 40): width 10
    create_rollup(
        engine, "pc_t", "pc_roll", ["g"], [],
        hist_cols={"v": [0.0, 40.0, 4]},
    )
    rows = spark.range(0, 120).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 2, "null_grp")
        .otherwise((F.col("id") % 2).cast("string")).alias("g"),
        # group "null_grp" is entirely NULL; others spread over bins
        F.when(F.col("id") % 3 == 2, F.lit(None).cast("double"))
        .otherwise((F.col("id") % 37).cast("double")).alias("v"),
    )
    engine.insert(rows, "pc_t")
    refresh_rollup(engine, "pc_roll")

    qs = [0.1, 0.5, 0.9, 1.0]
    got = {
        (r["g"], r["q"]): r["pct"]
        for r in rollup_percentiles(engine, "pc_roll", "v", qs).collect()
    }
    # replay the closed formula from the rollup's own bin counts
    hists = {
        r["g"]: list(r["hist_v"])
        for r in engine.read("pc_roll").collect()
    }
    assert set(hists) == {"0", "1", "null_grp"}
    assert sum(hists["null_grp"]) == 0  # NULLs uncounted
    want = {}
    for g, h in hists.items():
        total = sum(h)
        if total == 0:
            continue
        for q in qs:
            t, cum = q * total, 0
            for b, n in enumerate(h):
                if cum + n >= t and cum < t:
                    want[(g, q)] = round(
                        0.0 + b * 10.0 + 10.0 * (t - cum) / n, 6
                    )
                    break
                cum += n
    assert got == want  # no null_grp rows; both groups, all qs, exact
    # q=1.0: upper edge of the highest occupied bin (36 < 40 → bin 3)
    assert got[("0", 1.0)] == 40.0 and got[("1", 1.0)] == 40.0

    with pytest.raises(ValueError, match="no histogram"):
        rollup_percentiles(engine, "pc_roll", "w", [0.5])
    with pytest.raises(ValueError, match=r"in \(0, 1\]"):
        rollup_percentiles(engine, "pc_roll", "v", [0.0, 0.5])
    with pytest.raises(ValueError, match="non-empty"):
        rollup_percentiles(engine, "pc_roll", "v", [])


def test_rollup_bottomk_sample_edges(engine, spark):
    """Bottom-k sample rollup edges the oracle gate can't hit: a group
    SMALLER than k keeps all its rows; an all-NULL group stores an
    empty array (and serves no rows); duplicate values occupy adjacent
    slots (multiset semantics survive the fold); the merged fold
    equals a from-scratch rebuild even when the second window's rows
    displace every stored element; k < 1 raises at definition time and
    an unknown column raises at serve time."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_rollup, refresh_rollup, rollup_sample,
    )

    with pytest.raises(ValueError, match="k must be >= 1"):
        create_rollup(engine, "nope", "r0", ["g"], [],
                      sample_cols={"x": 0})

    engine.create_table("bk_t", record_key="k")
    create_rollup(engine, "bk_t", "bk_roll", ["g"], [],
                  sample_cols={"x": 3})

    def rows(data):
        return spark.createDataFrame(data, "k int, g string, x string")

    # tiny group (1 row < k), an all-NULL group, duplicates in "dup"
    engine.insert(rows([
        (1, "tiny", "only"),
        (2, "nulls", None), (3, "nulls", None),
        (4, "dup", "same"), (5, "dup", "same"), (6, "dup", "zz"),
    ]), "bk_t")
    refresh_rollup(engine, "bk_roll")
    # second window: displacing values hash-below everything stored
    # would be luck; instead verify fold == replay over ALL rows
    engine.insert(rows([
        (7, "dup", "aa"), (8, "dup", "bb"), (9, "tiny", "more"),
    ]), "bk_t")
    refresh_rollup(engine, "bk_roll")

    got = {
        (r["g"], r["rank"]): r["x"]
        for r in rollup_sample(engine, "bk_roll", "x").collect()
    }
    all_rows = [("tiny", "only"), ("dup", "same"), ("dup", "same"),
                ("dup", "zz"), ("dup", "aa"), ("dup", "bb"),
                ("tiny", "more")]
    want = {}
    bygrp = {}
    for g, x in all_rows:
        bygrp.setdefault(g, []).append(x)
    for g, xs in bygrp.items():
        xs.sort(key=lambda s: (hashlib.md5(s.encode()).hexdigest(), s))
        for i, x in enumerate(xs[:3]):
            want[(g, i + 1)] = x
    assert got == want
    assert ("nulls", 1) not in got  # NULLs never sampled
    assert len([1 for (g, _) in got if g == "tiny"]) == 2  # < k kept
    # the stored array for the all-NULL group is empty, not null
    arr = {
        r["g"]: r["sample_x"]
        for r in engine.read("bk_roll").collect()
    }
    assert arr["nulls"] == []
    with pytest.raises(ValueError, match="no sample"):
        rollup_sample(engine, "bk_roll", "k")


@pytest.mark.slow
def test_rollup_bottomk_sample_randomized_differential(engine, spark):
    """Randomized differential for the bottom-k fold algebra: arbitrary
    value multisets (heavy duplicates, negatives, NULL runs) split at
    arbitrary commit boundaries, folded refresh-by-refresh, must equal
    the pure-Python bottom-k of the union — the merge-exactness claim
    under inputs the fixture gates never shape."""
    import hashlib
    import random

    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_rollup, refresh_rollup, rollup_sample,
    )

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = rng.randrange(40, 120)
        rows = [
            (
                i,
                f"g{rng.randrange(4)}",
                None if rng.random() < 0.15
                else rng.choice([-5, -1, 0, 3, 3, 3, 7, 10 ** 6,
                                 rng.randrange(-50, 50)]),
            )
            for i in range(n)
        ]
        k = rng.randrange(1, 6)
        t, r = f"rd_t{seed}", f"rd_r{seed}"
        engine.create_table(t, record_key="i")
        create_rollup(engine, t, r, ["g"], [], sample_cols={"x": k})
        cuts = sorted(rng.sample(range(1, n), 2)) + [n]
        lo = 0
        for hi in cuts:  # 3 windows, arbitrary sizes
            engine.insert(
                spark.createDataFrame(
                    rows[lo:hi], "i int, g string, x long"
                ),
                t,
            )
            refresh_rollup(engine, r)
            lo = hi
        got = {
            (row["g"], row["rank"], row["x"])
            for row in rollup_sample(engine, r, "x").collect()
        }
        bygrp: dict[str, list[int]] = {}
        for _, g, x in rows:
            if x is not None:
                bygrp.setdefault(g, []).append(x)
        want = set()
        for g, xs in bygrp.items():
            xs.sort(key=lambda v: (
                hashlib.md5(str(v).encode()).hexdigest(), v,
            ))
            want |= {(g, i + 1, v) for i, v in enumerate(xs[:k])}
        assert got == want, f"seed {seed}"


def test_vector_index_maintenance_and_cell_moves(engine, spark):
    """Derived IVF vector index: the index state always equals the
    assignment of the source's CURRENT rows — across an insert-only
    fold, a delete (eviction), and an UPSERT that re-embeds a vector
    (which must MOVE it to its new cell partition, not duplicate it).
    refresh_all picks the index up as a derived table."""
    import numpy as np
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import refresh_all
    from hudi_demo_spark.engine.vector_index import (
        _assign_cells, create_vector_index, refresh_vector_index,
        vector_index_topk,
    )

    rng = np.random.default_rng(7)

    def batch(ids, shift=0.0):
        return spark.createDataFrame(
            [(int(i),
              [float(x) + shift for x in rng.standard_normal(8)])
             for i in ids],
            "vec_id int, embedding array<float>",
        )

    engine.create_table("vsrc", record_key="vec_id")
    engine.insert(batch(range(0, 40)), "vsrc")
    create_vector_index(engine, "vsrc", "vidx", "vec_id", "embedding",
                        n_centroids=4)
    refresh_vector_index(engine, "vidx")

    def expected():
        cfg = engine._resolve("vidx")
        snap = engine.read("vsrc").select("vec_id", "embedding")
        return {
            (r["vec_id"], r["cell"])
            for r in _assign_cells(snap, cfg).collect()
        }

    def actual():
        return {
            (r["vec_id"], r["cell"])
            for r in engine.read("vidx").select("vec_id", "cell").collect()
        }

    assert actual() == expected()
    engine.insert(batch(range(40, 70)), "vsrc")
    assert refresh_vector_index(engine, "vidx") is not None
    assert actual() == expected()
    # delete evicts; a re-embedded vector moves cells (global index)
    engine.delete("vsrc", "vec_id % 5 = 0")
    moved = batch([1, 2, 3], shift=25.0)  # far shift: new nearest cell
    engine.upsert(moved, "vsrc")
    assert refresh_vector_index(engine, "vidx") is not None
    assert actual() == expected()
    ids = [r["vec_id"] for r in engine.read("vidx").select("vec_id").collect()]
    assert len(ids) == len(set(ids))  # moves never duplicate
    assert not {i for i in ids if i % 5 == 0}  # evicted
    # served top-k: neighbors come only from live rows
    res = vector_index_topk(
        engine, "vidx", batch(range(1000, 1003)), k=3, n_probe=2
    )
    rows = res.collect()
    assert {r["query_id"] for r in rows} == {1000, 1001, 1002}
    assert all(r["neighbor_id"] % 5 != 0 for r in rows)
    # refresh_all treats the index as a derived table (no-op here)
    out = refresh_all(engine)
    assert "vidx" in out and out["vidx"] is None


def test_vector_index_pq_codes_maintained(engine, spark):
    """PQ-augmented vector index: stored codes always equal the
    assignment expression over the source's current rows — across the
    insert fold and a delete/re-embed CDC window — and the PQ serving
    path returns only live neighbors."""
    import numpy as np
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.vector_index import (
        _assign_cells, create_vector_index, refresh_vector_index,
        vector_index_topk,
    )

    rng = np.random.default_rng(11)

    def batch(ids, shift=0.0):
        return spark.createDataFrame(
            [(int(i), [float(x) + shift for x in rng.standard_normal(8)])
             for i in ids],
            "vec_id int, embedding array<float>",
        )

    engine.create_table("pqsrc", record_key="vec_id")
    engine.insert(batch(range(0, 40)), "pqsrc")
    create_vector_index(engine, "pqsrc", "pqidx", "vec_id", "embedding",
                        n_centroids=4, pq_m=4, pq_codes=4, pq_iters=1)
    refresh_vector_index(engine, "pqidx")
    engine.insert(batch(range(40, 60)), "pqsrc")
    refresh_vector_index(engine, "pqidx")
    engine.delete("pqsrc", "vec_id % 4 = 0")
    engine.upsert(batch([1, 2], shift=10.0), "pqsrc")
    refresh_vector_index(engine, "pqidx")

    cfg = engine._resolve("pqidx")
    snap = engine.read("pqsrc").select("vec_id", "embedding")
    want = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in _assign_cells(snap, cfg).collect()
    }
    got = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in engine.read("pqidx")
        .select("vec_id", "cell", "codes").collect()
    }
    assert got == want
    res = vector_index_topk(
        engine, "pqidx", batch(range(500, 503)), k=3, n_probe=3, rerank=4
    ).collect()
    assert {r["query_id"] for r in res} == {500, 501, 502}
    assert all(r["neighbor_id"] % 4 != 0 for r in res)


def test_inline_clustering_trigger(engine, spark):
    """cluster.inline: after N write commits since the last clustering,
    an insert triggers a sort-order rewrite automatically."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table(
        "icl", record_key="k",
        props={"cluster.inline": "true", "cluster.sort_cols": "v",
               "cluster.inline.max_commits": "3"},
    )

    def b(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.rand(seed=int(lo)).alias("v")
        )

    engine.insert(b(0, 100), "icl")
    engine.insert(b(100, 200), "icl")
    cfg = engine._resolve("icl")
    ops = [m["operation"] for m in Timeline(cfg.path).instants(True)]
    assert "cluster" not in ops  # below threshold
    engine.insert(b(200, 300), "icl")  # 3rd commit -> trigger
    ops = [m["operation"] for m in Timeline(cfg.path).instants(True)]
    assert ops.count("cluster") == 1
    assert engine.read("icl").count() == 300
    # counter reset: two more inserts stay below threshold again
    engine.insert(b(300, 400), "icl")
    engine.insert(b(400, 500), "icl")
    ops = [m["operation"] for m in Timeline(cfg.path).instants(True)]
    assert ops.count("cluster") == 1


def test_inline_clustering_trigger_on_upserts(engine, spark):
    """Inline clustering runs after upserts too: an upsert-only COW
    table with `cluster.inline.max_commits=3` clusters exactly once
    after three upserts."""
    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table(
        "ucl", record_key="k",
        props={"cluster.inline": "true", "cluster.sort_cols": "v",
               "cluster.inline.max_commits": "3"},
    )

    def b(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.rand(seed=int(lo)).alias("v")
        )

    tl = Timeline(engine._resolve("ucl").path)
    for lo in (0, 50):
        engine.upsert(b(lo, lo + 100), "ucl")
    assert "cluster" not in [m["operation"] for m in tl.instants()]
    engine.upsert(b(100, 200), "ucl")  # 3rd commit -> trigger
    ops = [m["operation"] for m in tl.instants()]
    assert ops == ["upsert"] * 3 + ["cluster"]
    assert engine.read("ucl").count() == 200


def test_show_partition_stats(engine, spark):
    from pyspark.sql import functions as F

    engine.create_table(
        "pst", record_key="k", precombine="ts", partition_by="g",
    )
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("g"),
        F.lit(1).cast("long").alias("ts"),
    )
    engine.insert(df, "pst")
    engine.upsert(df.filter("g = '1'").withColumn("ts", F.lit(2).cast("long")), "pst")
    rows = {
        r["partition"]: r
        for r in engine.sql("call show_partition_stats(table => 'pst')").collect()
    }
    assert set(rows) == {"g=0", "g=1"}
    # COW: no deltas; the upsert advanced only g=1's latest commit
    assert all(r["n_delta_files"] == 0 for r in rows.values())
    assert rows["g=1"]["latest_commit"] > rows["g=0"]["latest_commit"]
    assert all(
        r["bytes"] > 0 and r["n_files"] >= 1 for r in rows.values()
    )


def test_validate_table_reports(engine, spark):
    """CALL validate_table: clean table passes every check; a manually
    deleted live file and a stripped bloom sidecar are flagged."""
    from pathlib import Path

    from pyspark.sql import functions as F

    engine.create_table(
        "vt", record_key="k", props={"index.bloom.enabled": "true"},
    )
    engine.insert(
        spark.range(0, 50).select(F.col("id").alias("k"), F.lit(1.0).alias("v")),
        "vt",
    )
    ok = {r["check"]: r["status"] for r in engine.validate("vt").collect()}
    assert set(ok.values()) == {"OK"}
    cfg = engine._resolve("vt")
    data = Path(cfg.path) / "data"
    victim = sorted(data.rglob("*.parquet"))[0]
    victim.unlink()
    from hudi_demo_spark.engine import bloom as B

    for bf in (Path(cfg.path) / B.BLOOM_DIR).rglob("*.bf"):
        bf.unlink()
    rep = {
        r["check"]: r["status"]
        for r in engine.sql("call validate_table(table => 'vt')").collect()
    }
    assert rep["live_files_exist"] == "FAIL"
    assert rep["bloom_sidecars_present"] == "FAIL"
    assert rep["instants_unique"] == "OK"


def test_clean_keep_latest_file_versions(engine, spark):
    """KEEP_LATEST_FILE_VERSIONS: retention is per partition, so a
    partition last touched long ago keeps its versions even when
    newer commits elsewhere would have aged it out commit-count-wise."""
    import pathlib

    engine.create_table(
        "cfv", record_key="id", precombine="ts", partition_by="dt"
    )
    # partition B written once, early
    engine.upsert(
        spark.createDataFrame([(9, "b0", 9.0, 0, "2022-12-01")], SCHEMA), "cfv"
    )
    # partition A rewritten 4 times
    for i in range(4):
        engine.upsert(
            spark.createDataFrame(
                [(1, f"v{i}", 1.0 * i, i, "2022-11-25")], SCHEMA
            ),
            "cfv",
        )
    cfg = engine._resolve("cfv")
    data = pathlib.Path(cfg.path) / "data"
    a_before = len(list((data / "dt=2022-11-25").rglob("*.parquet")))
    assert a_before == 4
    engine.clean(
        "cfv",
        policy="KEEP_LATEST_FILE_VERSIONS",
        retain_file_versions=2,
        stale_staging_s=0,
    )
    a_after = len(list((data / "dt=2022-11-25").rglob("*.parquet")))
    b_after = len(list((data / "dt=2022-12-01").rglob("*.parquet")))
    assert a_after == 2  # last 2 versions of A retained
    assert b_after == 1  # B's only version survives (per-partition policy)
    rows = {r["id"]: r["name"] for r in engine.read("cfv").collect()}
    assert rows == {1: "v3", 9: "b0"}
    # the second-newest version of A is restorable (rollback across the
    # clean is refused, but its file physically exists)
    a_files = {p.name for p in (data / "dt=2022-11-25").rglob("*.parquet")}
    assert len(a_files) == 2


def test_clean_keep_latest_by_hours(engine, spark):
    """KEEP_LATEST_BY_HOURS: commits older than the window (relative to
    the newest instant) lose their unreferenced file versions."""
    import json
    import pathlib
    from datetime import datetime, timedelta

    engine.create_table(
        "cbh", record_key="id", precombine="ts", partition_by="dt"
    )
    for i in range(3):
        engine.upsert(
            spark.createDataFrame(
                [(1, f"v{i}", 1.0 * i, i, "2022-11-25")], SCHEMA
            ),
            "cbh",
        )
    cfg = engine._resolve("cbh")
    tl_dir = pathlib.Path(cfg.path) / "_timeline"
    # age the first two commits by 2 hours (rewrite instant in name+body)
    commits = sorted(
        p for p in tl_dir.glob("*.json") if not p.name.startswith("_")
    )
    for p in commits[:2]:
        meta = json.loads(p.read_text())
        old = meta["instant"]
        ts = datetime.strptime(old[:14], "%Y%m%d%H%M%S") - timedelta(hours=2)
        newi = ts.strftime("%Y%m%d%H%M%S") + old[14:]
        meta["instant"] = newi
        for f in meta["files_added"]:
            f["commit"] = newi
        p.unlink()
        (tl_dir / p.name.replace(old, newi)).write_text(json.dumps(meta))
    # a 3-hour window keeps everything
    engine.clean("cbh", retain_hours=3.0, stale_staging_s=0)
    data = pathlib.Path(cfg.path) / "data"
    assert len(list(data.rglob("*.parquet"))) == 3
    # a 1-hour window drops the two aged versions (latest stays live)
    engine.clean("cbh", retain_hours=1.0, stale_staging_s=0)
    assert len(list(data.rglob("*.parquet"))) == 1
    assert [r["name"] for r in engine.read("cbh").collect()] == ["v2"]


def test_resize_bucket_index(engine, spark):
    """Bucket rescale (consistent-hashing resize analog): one
    replacecommit rewrites placement to the new fan-out; data identical;
    subsequent writes place by the new count; partition-scoped rolling
    resize supported via CALL."""
    from pathlib import Path

    from pyspark.sql import functions as F

    df = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("p"),
        F.rand(2).alias("v"),
    )
    engine.create_table("rbk", record_key="id", partition_by="p",
                        props={"bucket.num": 2})
    engine.insert(df, "rbk")
    before = sorted(r["id"] for r in engine.read("rbk").collect())
    cfg = engine._resolve("rbk")
    data = Path(cfg.path) / "data"
    assert all(
        len(list(d.glob("*.parquet"))) <= 2 for d in data.iterdir() if d.is_dir()
    )
    engine.sql("call resize_bucket_index(table => 'rbk', buckets => 6)")
    assert engine._resolve("rbk").props["bucket.num"] == "6"
    after = sorted(r["id"] for r in engine.read("rbk").collect())
    assert after == before  # rescale is layout-only
    # count LIVE files (replaced files stay on disk until clean)
    from collections import Counter

    counts = Counter(
        r["partition"] for r in engine.show_fsview("rbk").collect()
    )
    assert all(1 <= n <= 6 for n in counts.values()), counts
    assert any(n > 2 for n in counts.values()), counts  # fan-out grew
    # new writes place by the new count too
    engine.upsert(
        spark.range(400, 410).select(
            F.col("id"), F.lit("0").alias("p"), F.rand(3).alias("v")
        ),
        "rbk",
    )
    assert engine.read("rbk").count() == 410


def test_export_snapshot(engine, spark, tmp_path):
    """Snapshot export: plain hive-partitioned parquet, meta columns
    dropped, time-travel honored; readable with stock spark.read."""
    t = _setup(engine, spark)
    commits = sorted(c["commit_time"] for c in engine.show_commits(t).collect())
    dest = str(tmp_path / "export")
    out = engine.sql(
        f"call export_snapshot(table => '{t}', path => '{dest}')"
    ).collect()
    assert out[0]["exported_rows"] == 5
    plain = spark.read.parquet(dest)
    assert not [c for c in plain.columns if c.startswith("_hoodie_")]
    assert sorted(r["id"] for r in plain.collect()) == [1, 2, 3, 4, 5]
    # hive partition dirs present
    import pathlib

    assert (pathlib.Path(dest) / "dt=2022-11-25").is_dir()
    # time-traveled export
    dest2 = str(tmp_path / "export2")
    n2 = engine.export_snapshot(t, dest2, as_of=commits[2])
    assert n2 == 3
    assert sorted(
        r["id"] for r in spark.read.parquet(dest2).collect()
    ) == [1, 2, 3]


def test_async_clustering_schedule_execute(engine, spark):
    """Async clustering: schedule captures an immutable plan; writes
    after the schedule stay live through the execution; execute runs the
    plan and range-clusters exactly the planned file set."""
    engine.create_table("ac", record_key="id", precombine="ts",
                        partition_by="dt")
    for row in ROWS:
        engine.insert(spark.createDataFrame([row], SCHEMA), "ac")
    plan = engine.sql(
        "call run_clustering(table => 'ac', op => 'schedule', "
        "order => 'price')"
    ).collect()[0]["requested_instant"]
    assert plan
    assert [r["requested_instant"] for r in engine.sql(
        "call show_clustering(table => 'ac')"
    ).collect()] == [plan]
    # a write AFTER the schedule is not part of the plan
    engine.insert(
        spark.createDataFrame([(9, "a9", 90.0, 9000, "2022-12-28")], SCHEMA),
        "ac",
    )
    engine.sql("call run_clustering(table => 'ac', op => 'execute')")
    assert engine.sql("call show_clustering(table => 'ac')").count() == 0
    # all rows present, incl. the post-schedule one
    assert sorted(r["id"] for r in engine.read("ac").collect()) == [
        1, 2, 3, 4, 5, 9,
    ]
    commits = engine.show_commits("ac").collect()
    assert any(r["operation"] == "cluster" for r in commits)
    # clustered stats enable range pruning on the sort column
    got = engine.read("ac", range_filter=("price", 0.0, 25.0))
    assert sorted(r["id"] for r in got.collect()) == [1, 2]


def test_copy_to_table(engine, spark):
    """CALL copy_to_table: independent clone with identical config and a
    time-travel variant; writes to the clone don't touch the source."""
    t = _setup(engine, spark)
    commits = sorted(c["commit_time"] for c in engine.show_commits(t).collect())
    engine.sql("call copy_to_table(table => 't', new_table => 't_clone')")
    clone = engine._resolve("t_clone")
    src = engine._resolve(t)
    assert clone.record_key_fields == src.record_key_fields
    assert clone.partition_fields == src.partition_fields
    assert sorted(r["id"] for r in engine.read("t_clone").collect()) == [
        1, 2, 3, 4, 5,
    ]
    # clone is independent
    engine.delete("t_clone", "id = 1")
    assert engine.read("t_clone").count() == 4
    assert engine.read(t).count() == 5
    # time-traveled clone
    engine.copy_to_table(t, "t_clone3", as_of=commits[2])
    assert engine.read("t_clone3").count() == 3


def test_timeline_replay_bounded_by_archive_checkpoint(tmp_path):
    """Scale proof (pure metadata, no Spark): 500 synthetic commits →
    archive bounds the ACTIVE timeline; live-file resolution replays
    checkpoint + tail only, and equals the full-history replay exactly —
    including time travel on both sides of the archive boundary."""
    import json

    from hudi_demo_spark.engine.timeline import Timeline

    tl = Timeline(tmp_path / "t")
    instants = []
    for i in range(500):
        ins = f"2026010100{i:04d}000000"
        instants.append(ins)
        # every commit adds one file and replaces the file from 10
        # commits ago (a rolling-rewrite workload)
        removed = [f"f{i-10:04d}.parquet"] if i >= 10 else []
        tl_files = [{"path": f"f{i:04d}.parquet", "kind": "base",
                     "partition": f"p{i % 7}"}]
        meta = {
            "instant": ins, "action": "commit", "operation": "insert",
            "files_added": tl_files, "files_removed": removed, "stats": {},
        }
        # bypass commit()'s OCC live check (files synthesized, not real)
        tl.dir.mkdir(parents=True, exist_ok=True)
        (tl.dir / f"{ins}.commit.json").write_text(json.dumps(meta))
    full = tl.live_files()
    assert len(full) == 10  # rolling window of live files
    mid = instants[250]
    full_mid = tl.live_files(as_of=mid)
    n = tl.archive(keep=30)
    assert n == 470
    assert len(tl.instants()) == 30  # active timeline bounded
    # post-archive replay (checkpoint + tail) identical
    assert tl.live_files() == full
    # time travel BEFORE the boundary falls back to archived replay
    assert tl.live_files(as_of=mid) == full_mid
    # and AFTER the boundary uses the checkpoint: instant 495 sees the
    # rolling window f0486..f0495
    late = tl.live_files(as_of=instants[-5])
    assert sorted(late) == [f"f{i:04d}.parquet" for i in range(486, 496)]


def test_savepoint_explicit_instant(engine, spark):
    """create_savepoint(commit_time => …): a NON-latest commit can be
    savepointed; its snapshot survives an aggressive clean and restores."""
    import pytest as _pytest

    t = _setup(engine, spark)
    commits = sorted(c["commit_time"] for c in engine.show_commits(t).collect())
    engine.sql(
        f"call create_savepoint(table => '{t}', commit_time => '{commits[2]}')"
    )
    assert engine.savepoints(t) == [commits[2]]
    engine.clean(t, retain_commits=1, stale_staging_s=0)
    engine.restore_to_savepoint(t, commits[2])
    assert sorted(r["id"] for r in engine.read(t).collect()) == [1, 2, 3]
    with _pytest.raises(ValueError, match="unknown instant"):
        engine.savepoint(t, instant="19990101000000000000")


def test_stale_clustering_plan_dropped_on_occ_conflict(engine, spark):
    """A scheduled plan whose file groups were replaced by a later write
    can never succeed (OCC). Unnamed execution must DROP the stale plan
    and run the next pending one instead of being blocked forever."""
    engine.create_table("accx", record_key="id", precombine="ts",
                        partition_by="dt")
    for row in ROWS:
        engine.insert(spark.createDataFrame([row], SCHEMA), "accx")
    stale = engine.schedule_clustering("accx", ["price"])
    # replace every planned file group → the plan is unexecutable
    engine.upsert(
        spark.createDataFrame(
            [(i, f"x{i}", float(i), 9000, d) for i, _, _, _, d in ROWS],
            SCHEMA),
        "accx",
    )
    fresh = engine.schedule_clustering("accx", ["price"])
    assert engine.pending_clusterings("accx") == sorted([stale, fresh])
    meta = engine.run_clustering_plan("accx")  # earliest = stale → skip
    assert meta is not None and meta["operation"] == "cluster"
    # stale plan quarantined, fresh plan executed, nothing pending
    assert engine.pending_clusterings("accx") == []
    assert sorted(r["id"] for r in engine.read("accx").collect()) == [
        1, 2, 3, 4, 5,
    ]
    # a NAMED execution of a stale plan surfaces the conflict
    stale2 = engine.schedule_clustering("accx", ["price"])
    engine.upsert(
        spark.createDataFrame([(1, "y", 1.0, 9999, "2022-11-25")], SCHEMA),
        "accx",
    )
    import pytest
    from hudi_demo_spark.engine.timeline import ConcurrentWriteError

    with pytest.raises(ConcurrentWriteError):
        engine.run_clustering_plan("accx", stale2)
    assert engine.pending_clusterings("accx") == []


def test_checkpoint_is_parquet_metadata_table(tmp_path):
    """Scale proof (pure metadata, no Spark): replay state persists as
    a PARQUET metadata table, not a JSON blob — a synthetic 50k-file
    checkpoint round-trips bit-exactly (incl. col_stats in the `extra`
    column) and loads via one columnar read; legacy .json checkpoints
    stay readable."""
    import json as J
    import time as T

    from hudi_demo_spark.engine.timeline import Timeline

    tl = Timeline(tmp_path / "t")
    tl.dir.mkdir(parents=True)
    files = {
        f"dt=2022-{i % 12 + 1:02d}/f_{i:06d}.parquet": {
            "path": f"dt=2022-{i % 12 + 1:02d}/f_{i:06d}.parquet",
            "kind": "base",
            "partition": f"dt=2022-{i % 12 + 1:02d}",
            "bytes": 1024 * i,
            "commit": f"2022{i:010d}",
            "key_min": f"k{i:06d}",
            "key_max": f"k{i + 1:06d}",
            "bloom": True,
            "col_stats": {"price": [float(i), float(i) + 1]},
        }
        for i in range(50_000)
    }
    tl.write_checkpoint("20220000000002", files)
    cps = tl.checkpoint_parquets()
    assert [p.suffix for p in cps] == [".parquet"]
    # checkpoint bytes are columnar-compressed, far below the JSON form
    assert cps[0].stat().st_size < len(J.dumps(files)) / 4
    t0 = T.monotonic()
    got = tl.live_files()
    elapsed = T.monotonic() - t0
    assert got == files
    assert elapsed < 5.0  # columnar load, not a 50k-entry JSON parse
    # a NEWER checkpoint supersedes and sweeps the old one
    tl.write_checkpoint("20220000000003", dict(list(files.items())[:10]))
    assert [p.name for p in tl.checkpoint_parquets()] == [
        "20220000000003.parquet"
    ]
    assert len(tl.live_files()) == 10
    # legacy JSON checkpoint still readable (pre-parquet tables)
    tl2 = Timeline(tmp_path / "t2")
    tl2.dir.mkdir(parents=True)
    legacy = {"a.parquet": {"path": "a.parquet", "kind": "base",
                            "partition": "", "bytes": 1, "commit": "1"}}
    (tl2.dir / "_checkpoint-111.json").write_text(
        J.dumps({"as_of": "111", "files": legacy}))
    assert tl2.live_files() == legacy


def test_file_metadata_queryable(engine, spark):
    """Engine.file_metadata / `call show_file_metadata`: the live-file
    metadata table as a DataFrame — after archive the heavy part comes
    from the PARQUET checkpoint via a Spark scan, with the bounded JSON
    tail replayed on top; rows always equal Timeline.live_files()."""
    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table("fmt", record_key="id", precombine="ts",
                        partition_by="dt")
    for row in ROWS:
        engine.insert(spark.createDataFrame([row], SCHEMA), "fmt")

    def assert_matches():
        cfg = engine._resolve("fmt")
        live = Timeline(cfg.path).live_files()
        got = {r["path"]: r for r in engine.file_metadata("fmt").collect()}
        assert set(got) == set(live)
        for p, m in live.items():
            assert got[p]["commit"] == m.get("commit")
            assert got[p]["partition"] == m.get("partition", "")
            assert got[p]["bytes"] == m.get("bytes")

    assert_matches()  # no checkpoint yet: pure driver tail
    engine.archive("fmt", keep=2)  # writes the parquet checkpoint
    assert_matches()  # checkpoint via Spark + 2-commit tail
    # post-checkpoint mutations land in the tail and supersede
    engine.upsert(
        spark.createDataFrame([(1, "a1x", 11.0, 9999, "2022-11-25")],
                              SCHEMA), "fmt")
    engine.delete("fmt", "id = 4")
    assert_matches()
    rows = engine.sql("call show_file_metadata(table => 'fmt')").collect()
    assert len(rows) == len(Timeline(engine._resolve("fmt").path).live_files())


def test_incremental_join_view_matches_batch(engine, spark):
    """Derived JOIN view maintained from incremental/CDC reads equals
    the batch join after insert-only folds, a dim update (changed pairs
    re-derived), and a dim delete (orphaned pairs dropped)."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_join_view, refresh_join_view,
    )

    engine.create_table("jv_dim", record_key="d")
    engine.create_table("jv_fact", record_key="k")

    def dim(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("d"),
            F.concat(F.lit("n"), F.col("id")).alias("label"),
        )

    def fact(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 10).alias("d"),
            (F.col("id") * 1.5).alias("v"),
        )

    engine.insert(dim(0, 8), "jv_dim")   # dims 0..7 (8,9 dangle)
    engine.insert(fact(0, 50), "jv_fact")
    create_join_view(engine, "jv_v", "jv_fact", "jv_dim", on=["d"])
    assert refresh_join_view(engine, "jv_v") is not None

    def want_now():
        f = {r["k"]: (r["d"], r["v"]) for r in engine.read("jv_fact").collect()}
        dd = {r["d"]: r["label"] for r in engine.read("jv_dim").collect()}
        return {
            (k, d): (v, dd[d]) for k, (d, v) in f.items() if d in dd
        }

    def got_now():
        return {
            (r["k"], r["d"]): (r["v"], r["label"])
            for r in engine.read("jv_v").collect()
        }

    assert got_now() == want_now()
    # insert-only incremental fold on BOTH sides in one refresh
    engine.insert(fact(50, 80), "jv_fact")
    engine.insert(dim(8, 10), "jv_dim")
    assert refresh_join_view(engine, "jv_v") is not None
    assert got_now() == want_now()
    assert refresh_join_view(engine, "jv_v") is None  # neither moved
    # dim mutation window: update relabels, delete orphans pairs
    engine.update("jv_dim", set={"label": F.lit("Z")}, where="d = 3")
    engine.delete("jv_dim", "d in (4, 5)")
    assert refresh_join_view(engine, "jv_v") is not None
    assert got_now() == want_now()
    # fact delete: its pairs leave the view
    engine.delete("jv_fact", "k % 7 = 0")
    assert refresh_join_view(engine, "jv_v") is not None
    assert got_now() == want_now()


def test_join_view_shared_key_field(engine, spark):
    """Regression (review finding): both sources keyed by the SAME field
    name, joined on it — the composite view key must dedupe or the
    mutation-path selects are ambiguous."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_join_view, refresh_join_view,
    )

    engine.create_table("ska", record_key="id")
    engine.create_table("skb", record_key="id")
    engine.insert(
        spark.range(0, 10).select("id", F.lit("a").alias("av")), "ska"
    )
    engine.insert(
        spark.range(0, 6).select("id", F.lit("b").alias("bv")), "skb"
    )
    create_join_view(engine, "skv", "ska", "skb", on=["id"])
    assert refresh_join_view(engine, "skv") is not None
    assert engine.read("skv").count() == 6
    # mutation path exercises the deduped-vkey selects
    engine.delete("skb", "id >= 4")
    engine.update("ska", set={"av": F.lit("A")}, where="id = 0")
    assert refresh_join_view(engine, "skv") is not None
    got = {(r["id"], r["av"]) for r in engine.read("skv").collect()}
    assert got == {(0, "A"), (1, "a"), (2, "a"), (3, "a")}


def test_cdc_cleaned_range_raises(engine, spark):
    """Regression (review finding): a CDC window whose before-image
    files were cleaned must fail loudly, not return a silently
    incomplete diff (same contract as read_incremental)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.engine import IncrementalRangeCleanedError

    engine.create_table("cdcl", record_key="k")
    m1 = engine.insert(
        spark.range(0, 10).select(F.col("id").alias("k"),
                                  F.lit(1.0).alias("v")), "cdcl"
    )
    engine.delete("cdcl", "k < 3")
    engine.upsert(
        spark.range(3, 10).select(F.col("id").alias("k"),
                                  F.lit(2.0).alias("v")), "cdcl"
    )
    engine.clean("cdcl", retain_commits=1, stale_staging_s=0.0)
    with _pytest.raises(IncrementalRangeCleanedError):
        engine.read_cdc("cdcl", begin=m1["instant"]).count()
    # opt-out returns the partial diff instead
    df = engine.read_cdc("cdcl", begin=m1["instant"], allow_cleaned=True)
    assert df.count() >= 0


def test_left_join_view_lifecycle(engine, spark):
    """LEFT OUTER join view (round-4): unmatched left rows materialize
    NULL-extended; maintenance upgrades them when a match arrives,
    restores the NULL extension when the match disappears, and drops
    the row when the left row dies."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_join_view, refresh_join_view,
    )

    engine.create_table("ljf", record_key="id")
    engine.create_table("ljd", record_key="d")
    engine.insert(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 1.0), (3, "zz", 1.0)],
            "id int, d string, v double",
        ),
        "ljf",
    )
    engine.insert(
        spark.createDataFrame([("a", "A")], "d string, w string"), "ljd"
    )
    create_join_view(engine, "ljv", "ljf", "ljd", on=["d"], how="left")
    assert refresh_join_view(engine, "ljv") is not None
    got = {r["id"]: r["w"] for r in engine.read("ljv").collect()}
    assert got == {1: "A", 2: None, 3: None}
    # match arrives (insert-only fold): NULL row upgraded in place
    engine.insert(
        spark.createDataFrame([("b", "B")], "d string, w string"), "ljd"
    )
    assert refresh_join_view(engine, "ljv") is not None
    got = {r["id"]: r["w"] for r in engine.read("ljv").collect()}
    assert got == {1: "A", 2: "B", 3: None}
    # match content changes (CDC recompute): row re-derived
    engine.update("ljd", set={"w": F.lit("A2")}, where="d = 'a'")
    assert refresh_join_view(engine, "ljv") is not None
    got = {r["id"]: r["w"] for r in engine.read("ljv").collect()}
    assert got == {1: "A2", 2: "B", 3: None}
    # match disappears: NULL extension restored, not deleted
    engine.delete("ljd", "d = 'b'")
    assert refresh_join_view(engine, "ljv") is not None
    got = {r["id"]: r["w"] for r in engine.read("ljv").collect()}
    assert got == {1: "A2", 2: None, 3: None}
    # left row dies: view row goes with it
    engine.delete("ljf", "id = 3")
    assert refresh_join_view(engine, "ljv") is not None
    got = {r["id"]: r["w"] for r in engine.read("ljv").collect()}
    assert got == {1: "A2", 2: None}
    # batch oracle: the view always equals the plain LEFT JOIN
    fact = engine.read("ljf").select("id", "d", "v")
    dim = engine.read("ljd").select("d", "w")
    expect = {
        (r["id"], r["w"]) for r in fact.join(dim, "d", "left").collect()
    }
    assert {(r["id"], r["w"]) for r in engine.read("ljv").select(
        "id", "w").collect()} == expect


def test_left_join_view_requires_right_key_in_on(engine, spark):
    import pytest as _pytest

    engine.create_table("ljf2", record_key="id")
    engine.create_table("ljd2", record_key="k2")
    engine.insert(
        spark.createDataFrame([(1, "a")], "id int, d string"), "ljf2"
    )
    engine.insert(
        spark.createDataFrame([("k", "a", "w")],
                              "k2 string, d string, w string"),
        "ljd2",
    )
    from hudi_demo_spark.engine.derived import create_join_view

    with _pytest.raises(ValueError, match="record key"):
        create_join_view(engine, "ljv2", "ljf2", "ljd2", on=["d"],
                         how="left")


def test_chained_rollup_cascades(engine, spark):
    """Rollup OVER a rollup (cascading materialized views): a derived
    table is a full engine table, so a second-level view maintains
    itself from the first's upsert commits via the same CDC recompute
    machinery. Regression for two bugs: (1) the refresh's stale cfg
    snapshot clobbered the view's pinned schema on offset save; (2) the
    CDC read's empty before-image (begin=None, or an insert-only
    window's no-before-only-files case) lost its data columns."""
    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    rows = "id int, g string, band string, v double"

    def df(lo, g, band, v=1.0):
        return spark.createDataFrame(
            [(i, g, band, v) for i in range(lo, lo + 10)], rows
        )

    engine.create_table("csrc", record_key="id")
    engine.insert(df(0, "a", "x"), "csrc")
    engine.insert(df(10, "b", "x"), "csrc")
    create_rollup(engine, "csrc", "cr1", ["g", "band"], ["v"])
    assert refresh_rollup(engine, "cr1") is not None
    # bug (1): the offset save must not clobber the pinned schema
    assert engine._resolve("cr1").schema_json is not None
    create_rollup(engine, "cr1", "cr2", ["band"], ["sum_v"])
    # bug (2): first window is an upsert -> recompute with begin=None
    assert refresh_rollup(engine, "cr2") is not None
    engine.insert(df(20, "c", "y"), "csrc")
    engine.update("csrc", set={"v": F.lit(5.0)}, where="id = 3")
    assert refresh_rollup(engine, "cr1") is not None
    assert refresh_rollup(engine, "cr2") is not None
    got = {
        r["band"]: (r["n_rows"], r["sum_sum_v"])
        for r in engine.read("cr2").collect()
    }
    # x: groups (a,x)=9*1+5=14 and (b,x)=10 -> 2 groups, 24.0
    assert got == {"x": (2, 24.0), "y": (1, 10.0)}


def test_join_view_over_rollup_cascades(engine, spark):
    """A join view whose LEFT source is itself a derived rollup — the
    other cascading shape (enrich a maintained aggregate with a
    dimension). Level-1 refresh commits are upserts, so the view's
    refresh takes the CDC recompute path against a derived source."""
    from hudi_demo_spark.engine.derived import (
        create_join_view, create_rollup, refresh_join_view, refresh_rollup,
    )

    rows = "id int, g string, v double"
    engine.create_table("jcsrc", record_key="id")
    engine.insert(
        spark.createDataFrame(
            [(i, "ab"[i % 2], 1.0) for i in range(20)], rows
        ),
        "jcsrc",
    )
    create_rollup(engine, "jcsrc", "jcr1", ["g"], ["v"])
    assert refresh_rollup(engine, "jcr1") is not None
    engine.create_table("jcdim", record_key="g")
    engine.insert(
        spark.createDataFrame(
            [("a", "alpha"), ("b", "beta")], "g string, label string"
        ),
        "jcdim",
    )
    create_join_view(engine, "jcv", "jcr1", "jcdim", on=["g"])
    assert refresh_join_view(engine, "jcv") is not None
    got = {r["g"]: (r["sum_v"], r["label"])
           for r in engine.read("jcv").collect()}
    assert got == {"a": (10.0, "alpha"), "b": (10.0, "beta")}
    # upstream update cascades: rollup recompute -> view recompute
    engine.update("jcsrc", set={"v": F.lit(6.0)}, where="id = 0")
    assert refresh_rollup(engine, "jcr1") is not None
    assert refresh_join_view(engine, "jcv") is not None
    got = {r["g"]: (r["sum_v"], r["label"])
           for r in engine.read("jcv").collect()}
    assert got == {"a": (15.0, "alpha"), "b": (10.0, "beta")}


def test_refresh_all_topological(engine, spark):
    """refresh_all settles a two-level cascade in ONE call regardless of
    creation order, and the CALL surface exposes it catalog-wide."""
    from hudi_demo_spark.engine.derived import create_rollup, refresh_all

    rows = "id int, g string, band string, v double"
    engine.create_table("rasrc", record_key="id")
    create_rollup(engine, "rasrc", "rar1", ["g", "band"], ["v"])
    create_rollup(engine, "rar1", "rar2", ["band"], ["sum_v"])
    engine.insert(
        spark.createDataFrame(
            [(i, "ab"[i % 2], "x", 1.0) for i in range(20)], rows
        ),
        "rasrc",
    )
    out = refresh_all(engine)
    # level 1 refreshed before level 2 (topological order)
    names = list(out)
    assert names.index("rar1") < names.index("rar2")
    assert out["rar1"] is not None and out["rar2"] is not None
    got = {r["band"]: (r["n_rows"], r["sum_sum_v"])
           for r in engine.read("rar2").collect()}
    assert got == {"x": (2, 20.0)}
    # idle second pass: nothing to do, still ordered, all None
    out2 = refresh_all(engine)
    assert set(out2) == set(out) and all(v is None for v in out2.values())
    # SQL CALL surface
    engine.insert(
        spark.createDataFrame([(100, "a", "y", 2.0)], rows), "rasrc"
    )
    res = {r["view"]: r["refreshed"]
           for r in engine.sql("call refresh_views()").collect()}
    assert res["rar1"] and res["rar2"]
    got = {r["band"]: r["sum_sum_v"]
           for r in engine.read("rar2").collect()}
    assert got == {"x": 20.0, "y": 2.0}


def test_continuous_aggregate_bucket_moves(engine, spark):
    """Continuous aggregate (expression group column): an UPDATE that
    moves a row's timestamp ACROSS buckets must repair both the old and
    new bucket through the partial-recompute path — the bucket is
    derived per refresh, never stored in the source."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    engine.create_table("ca_t", record_key="k")
    create_rollup(
        engine, "ca_t", "ca_roll",
        ["g", "bucket"], ["v"],
        expr_cols={"bucket": "cast(floor(ts / 100) * 100 as bigint)"},
    )
    d = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") * 3).alias("ts"),
        (F.col("id") * 1.0).alias("v"),
    )
    engine.insert(d.filter("k < 100"), "ca_t")
    assert refresh_rollup(engine, "ca_roll") is not None  # additive
    engine.insert(d.filter("k >= 100"), "ca_t")
    # move k=10 (ts=30, bucket 0) far away AND change its value
    engine.update("ca_t", set={"ts": "ts + 10000", "v": "v + 5"},
                  where="k = 10")
    engine.delete("ca_t", "k % 50 = 3")
    assert refresh_rollup(engine, "ca_roll") is not None  # recompute
    got = {
        (r["g"], r["bucket"]): (r["n_rows"], r["sum_v"])
        for r in engine.read("ca_roll").collect()
    }
    want = {
        (r["g"], r["bucket"]): (r["n"], r["s"])
        for r in engine.read("ca_t")
        .withColumn("bucket", F.expr("cast(floor(ts / 100) * 100 as bigint)"))
        .groupBy("g", "bucket")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want
    # the moved row's NEW bucket exists and the old one lost it
    assert ("0", 10000 + 0) in got or any(b >= 10000 for (_, b) in got)
    assert refresh_rollup(engine, "ca_roll") is None


def test_rollup_minmax_aggregates(engine, spark):
    """min/max rollup columns: insert-only windows fold with
    least/greatest; a DELETE of a group's extreme row routes through
    partial recompute and the stored min/max tightens correctly."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    engine.create_table("mm_t", record_key="k")
    create_rollup(
        engine, "mm_t", "mm_roll", ["g"], ["v"],
        min_cols=["v"], max_cols=["v"],
    )
    d = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") * 1.0).alias("v"),
    )
    engine.insert(d.filter("k < 50"), "mm_t")
    assert refresh_rollup(engine, "mm_roll") is not None  # additive
    engine.insert(d.filter("k >= 50"), "mm_t")
    assert refresh_rollup(engine, "mm_roll") is not None  # least/greatest fold
    got = {
        r["g"]: (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"])
        for r in engine.read("mm_roll").collect()
    }
    assert got["0"] == (50, sum(range(0, 100, 2)) * 1.0, 0.0, 98.0)
    assert got["1"] == (50, sum(range(1, 100, 2)) * 1.0, 1.0, 99.0)
    # delete group 1's extreme rows -> recompute must tighten min AND max
    engine.delete("mm_t", "k in (1, 99)")
    assert refresh_rollup(engine, "mm_roll") is not None
    got = {
        r["g"]: (r["n_rows"], r["min_v"], r["max_v"])
        for r in engine.read("mm_roll").collect()
    }
    assert got["1"] == (48, 3.0, 97.0)
    assert got["0"] == (50, 0.0, 98.0)


def test_hierarchical_continuous_aggregates(engine, spark):
    """Hour→day continuous-aggregate hierarchy: the day rollup sources
    the HOUR rollup (its bucket column is stored there), so a refresh
    cascade propagates raw inserts through both levels — the classic
    hypertable rollup tree, on the chained-view machinery."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_rollup,
        refresh_all,
        refresh_rollup,
    )

    engine.create_table("hraw", record_key="k")
    create_rollup(
        engine, "hraw", "h_hour", ["g", "hour_b"], ["v"],
        expr_cols={"hour_b": "cast(floor(ts / 3600) * 3600 as bigint)"},
    )
    create_rollup(
        engine, "h_hour", "h_day", ["g", "day_b"], ["sum_v"],
        expr_cols={"day_b": "cast(floor(hour_b / 86400) * 86400 as bigint)"},
    )
    d = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") * 1000).alias("ts"),      # spans ~3.5 days
        (F.col("id") * 1.0).alias("v"),
    )
    engine.insert(d.filter("k < 150"), "hraw")
    refresh_all(engine)
    engine.insert(d.filter("k >= 150"), "hraw")
    engine.delete("hraw", "k % 30 = 7")
    out = refresh_all(engine)
    assert out["h_hour"] is not None and out["h_day"] is not None
    got = {
        (r["g"], r["day_b"]): (r["n_rows"], r["sum_sum_v"])
        for r in engine.read("h_day").collect()
    }
    want = {
        (r["g"], r["day_b"]): (r["n"], r["s"])
        for r in engine.read("hraw")
        .withColumn("hour_b", F.expr("cast(floor(ts / 3600) * 3600 as bigint)"))
        .withColumn("day_b", F.expr("cast(floor(hour_b / 86400) * 86400 as bigint)"))
        .groupBy("g", "day_b")
        .agg(F.count_distinct("g", "hour_b").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_filter_view_lifecycle(engine, spark):
    """Incrementally-maintained filtered projection: insert-only windows
    append matching rows; updates that move a row across the predicate
    boundary add/remove it; source deletes remove it; refresh_all
    routes the new kind."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_filter_view,
        refresh_all,
        refresh_filter_view,
    )

    engine.create_table("fv_t", record_key="k")
    create_filter_view(
        engine, "fv_t", "fv_v", "q >= 50 and lang = 'en'",
        columns=["k", "q", "lang"],
    )
    d = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.col("id").alias("q"),
        F.when(F.col("id") % 4 == 0, "de").otherwise("en").alias("lang"),
        (F.col("id") * 1.0).alias("extra"),
    )
    engine.insert(d.filter("k < 60"), "fv_t")
    assert refresh_filter_view(engine, "fv_v") is not None  # insert fold
    got = sorted(r.k for r in engine.read("fv_v").collect())
    assert got == [k for k in range(50, 60) if k % 4 != 0]
    engine.insert(d.filter("k >= 60"), "fv_t")
    # move k=10 INTO the predicate, k=55 OUT of it; delete k=66
    engine.update("fv_t", set={"q": "q + 100"}, where="k = 10")
    engine.update("fv_t", set={"lang": "'fr'"}, where="k = 55")
    engine.delete("fv_t", "k = 66")
    assert refresh_all(engine)["fv_v"] is not None  # recompute path
    got = sorted(r.k for r in engine.read("fv_v").collect())
    want = sorted(
        k for k in range(100)
        if (k >= 50 or k == 10) and k % 4 != 0 and k not in (55, 66)
    )
    assert got == want
    # projection: the extra column is not materialized
    assert set(engine.read("fv_v").columns) >= {"k", "q", "lang"}
    assert "extra" not in engine.read("fv_v").columns
    assert refresh_filter_view(engine, "fv_v") is None  # idempotent


def test_rollup_over_filter_view_cascades(engine, spark):
    """Rollup OVER a filter view (quality-filtered corpus feeding a
    per-language rollup): refresh_all settles the chain in dependency
    order, and a source update that ejects rows from the filter view
    propagates into the rollup's groups."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_filter_view,
        create_rollup,
        refresh_all,
    )

    engine.create_table("cf_t", record_key="k")
    create_filter_view(engine, "cf_t", "cf_v", "q >= 5")
    create_rollup(engine, "cf_v", "cf_roll", ["g"], ["q"])
    d = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 10).alias("q"),
    )
    engine.insert(d, "cf_t")
    refresh_all(engine)
    got = {
        r["g"]: r["n_rows"] for r in engine.read("cf_roll").collect()
    }
    assert got == {"0": 10, "1": 10, "2": 10}  # q in 5..9 per decade
    # eject every q=5 row from the view; the rollup must shrink
    engine.update("cf_t", set={"q": "0"}, where="q = 5")
    refresh_all(engine)
    got = {
        r["g"]: (r["n_rows"], r["sum_q"])
        for r in engine.read("cf_roll").collect()
    }
    want = {
        r["g"]: (r["n"], r["s"])
        for r in engine.read("cf_t").filter("q >= 5")
        .groupBy("g").agg(F.count("*").alias("n"), F.sum("q").alias("s"))
        .collect()
    }
    assert got == want


def test_rollup_null_sum_semantics(engine, spark):
    """SQL SUM over an only-NULL group is NULL, and the additive fold
    must preserve that across refreshes (NULL+NULL stays NULL; a later
    real value resurrects the sum) — bit-identical to a from-scratch
    re-aggregation at every step."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    engine.create_table("nsrc", record_key="k", partition_by=None)
    create_rollup(engine, "nsrc", "nroll", ["g"], ["v"])

    def rows(data):
        return spark.createDataFrame(data, "k long, g string, v double")

    # group 'a': only NULL values; group 'b': mixed
    engine.insert(rows([(1, "a", None), (2, "b", 5.0), (3, "b", None)]), "nsrc")
    refresh_rollup(engine, "nroll")
    got = {r["g"]: (r["n_rows"], r["sum_v"])
           for r in engine.read("nroll").collect()}
    assert got == {"a": (1, None), "b": (2, 5.0)}

    # second insert-only window: 'a' stays all-NULL, NULL folds with NULL
    engine.insert(rows([(4, "a", None)]), "nsrc")
    refresh_rollup(engine, "nroll")
    got = {r["g"]: (r["n_rows"], r["sum_v"])
           for r in engine.read("nroll").collect()}
    assert got == {"a": (2, None), "b": (2, 5.0)}

    # a real value arriving later resurrects the sum from NULL
    engine.insert(rows([(5, "a", 7.0)]), "nsrc")
    refresh_rollup(engine, "nroll")
    got = {r["g"]: (r["n_rows"], r["sum_v"])
           for r in engine.read("nroll").collect()}
    assert got == {"a": (3, 7.0), "b": (2, 5.0)}


def test_rollup_approx_distinct_sketches(engine, spark):
    """HLL approx-distinct rollup columns: sketch union across
    insert-only refreshes dedups values repeated across commits
    (count-distinct is not additive — the sketch merge is), and a
    delete window's partial recompute rebuilds the sketch exactly.
    Small cardinalities keep the sketch in sparse mode, so estimates
    here are exact."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    engine.create_table("hsrc", record_key="k", partition_by=None)
    create_rollup(
        engine, "hsrc", "hroll", ["g"], ["v"], approx_distinct_cols=["u"]
    )

    def rows(data):
        return spark.createDataFrame(data, "k long, g string, v long, u string")

    engine.insert(
        rows([(1, "a", 1, "u1"), (2, "a", 1, "u2"), (3, "b", 1, "u1")]),
        "hsrc",
    )
    refresh_rollup(engine, "hroll")

    def estimates():
        return {
            r["g"]: (r["n_rows"], int(r["est"]))
            for r in engine.read("hroll")
            .select("g", "n_rows", F.hll_sketch_estimate("hll_u").alias("est"))
            .collect()
        }

    assert estimates() == {"a": (2, 2), "b": (1, 1)}
    # second commit repeats u1/u2 for 'a' (no new distincts) and adds a
    # new distinct for 'b' — the union must dedup across commits
    engine.insert(
        rows([(4, "a", 1, "u1"), (5, "a", 1, "u2"), (6, "b", 1, "u9")]),
        "hsrc",
    )
    refresh_rollup(engine, "hroll")
    assert estimates() == {"a": (4, 2), "b": (2, 2)}
    # delete the only row carrying b/u9: recompute rebuilds the sketch
    engine.delete("hsrc", "k = 6")
    refresh_rollup(engine, "hroll")
    assert estimates() == {"a": (4, 2), "b": (1, 1)}


def test_export_snapshot_time_travel_and_formats(engine, spark, tmp_path):
    """export_snapshot writes a plain dataset an engine-less consumer
    can scan: meta stripped by default (kept on request), as_of exports
    the historical snapshot, partitioning is preserved, bad formats
    refuse."""
    import pytest as _pytest

    engine.create_table("exp_t", record_key="k", partition_by="g")
    df1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, g string, v double"
    )
    engine.insert(df1, "exp_t")
    first = engine.show_commits("exp_t").collect()[-1]["commit_time"]
    engine.upsert(
        spark.createDataFrame([(2, "b", 99.0)], "k long, g string, v double"),
        "exp_t",
    )

    cur = str(tmp_path / "cur")
    engine.export_snapshot("exp_t", cur)
    got = {(r.k, r.v) for r in spark.read.parquet(cur).collect()}
    assert got == {(1, 10.0), (2, 99.0)}
    assert not [
        c for c in spark.read.parquet(cur).columns if c.startswith("_hoodie")
    ]

    old = str(tmp_path / "old")
    engine.export_snapshot("exp_t", old, as_of=first)
    assert {(r.k, r.v) for r in spark.read.parquet(old).collect()} == {
        (1, 10.0), (2, 20.0),
    }

    meta = str(tmp_path / "meta")
    engine.export_snapshot("exp_t", meta, keep_meta=True)
    assert "_hoodie_record_key" in spark.read.parquet(meta).columns

    csvd = str(tmp_path / "csv")
    engine.export_snapshot("exp_t", csvd, fmt="csv")
    assert spark.read.option("header", "true").csv(csvd).count() == 2

    with _pytest.raises(ValueError):
        engine.export_snapshot("exp_t", str(tmp_path / "x"), fmt="avro")


def test_rollup_over_join_view_cascades(engine, spark):
    """A rollup whose source is a derived JOIN VIEW (aggregate an
    enriched fact) — the remaining cascade shape. The view's refresh
    commits are upserts, so the rollup's refresh must take the CDC
    recompute path against the derived source; refresh_all settles both
    levels in one call."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.derived import (
        create_join_view, create_rollup, refresh_all,
    )

    engine.create_table("rjf", record_key="id")
    engine.insert(
        spark.createDataFrame(
            [(i, "ab"[i % 2], 2.0) for i in range(10)],
            "id int, g string, v double",
        ),
        "rjf",
    )
    engine.create_table("rjd", record_key="g")
    engine.insert(
        spark.createDataFrame(
            [("a", "east"), ("b", "west")], "g string, region string"
        ),
        "rjd",
    )
    create_join_view(engine, "rjv", "rjf", "rjd", on=["g"])
    create_rollup(engine, "rjv", "rjf_by_region", ["region"], ["v"])
    out = refresh_all(engine)
    assert out["rjv"] is not None and out["rjf_by_region"] is not None
    got = {r["region"]: (r["n_rows"], r["sum_v"])
           for r in engine.read("rjf_by_region").collect()}
    assert got == {"east": (5, 10.0), "west": (5, 10.0)}
    # upstream update cascades through both levels in one settle
    engine.update("rjf", set={"v": F.lit(7.0)}, where="id = 0")
    refresh_all(engine)
    got = {r["region"]: (r["n_rows"], r["sum_v"])
           for r in engine.read("rjf_by_region").collect()}
    assert got == {"east": (5, 15.0), "west": (5, 10.0)}


def test_vector_index_guards(engine, spark):
    """create_vector_index requires the source record key to be exactly
    [id_col] (eviction casts _hoodie_record_key back to id_col's type —
    composite or mismatched keys would silently diverge the index);
    vector_index_topk with an EMPTY query set returns an empty result
    instead of a malformed 'cell IN ()' predicate."""
    import pytest

    from hudi_demo_spark.engine.vector_index import (
        create_vector_index, refresh_vector_index, vector_index_topk,
    )

    vecs = spark.createDataFrame(
        [(i, i, [float(i), float(i % 3)]) for i in range(12)],
        "vec_id int, other int, embedding array<float>",
    )
    # composite key: rejected
    engine.create_table("gk2", record_key=["vec_id", "other"])
    engine.insert(vecs, "gk2")
    with pytest.raises(ValueError, match="record key"):
        create_vector_index(engine, "gk2", "gi2", "vec_id", "embedding",
                            n_centroids=2)
    # key != id_col: rejected
    engine.create_table("gk3", record_key="other")
    engine.insert(vecs, "gk3")
    with pytest.raises(ValueError, match="record key"):
        create_vector_index(engine, "gk3", "gi3", "vec_id", "embedding",
                            n_centroids=2)
    # happy path + empty-queries short-circuit
    engine.create_table("gk1", record_key="vec_id")
    engine.insert(vecs, "gk1")
    create_vector_index(engine, "gk1", "gi1", "vec_id", "embedding",
                        n_centroids=2)
    refresh_vector_index(engine, "gi1")
    empty = spark.createDataFrame(
        [], "vec_id int, embedding array<float>"
    )
    out = vector_index_topk(engine, "gi1", empty, k=3)
    assert out.columns == ["query_id", "neighbor_id", "score", "rank"]
    assert out.count() == 0


def test_vector_index_codebook_validation(engine, spark):
    """Pre-trained PQ codebooks are validated at CREATE time (they are
    persisted to props and otherwise only fail — or silently mis-encode —
    at refresh/query): subspace count must equal pq_m, code counts must
    be uniform and non-empty, sub-vector widths must be dim/pq_m, and an
    explicitly-empty list errors instead of silently retraining."""
    import pytest

    from hudi_demo_spark.engine.vector_index import create_vector_index

    vecs = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.5]) for i in range(12)],
        "vec_id int, embedding array<float>",
    )
    engine.create_table("cbv", record_key="vec_id")
    engine.insert(vecs, "cbv")
    good = [  # 2 subspaces x 2 codes x width 2 (dim=4, pq_m=2)
        [[0.0, 0.0], [1.0, 1.0]],
        [[0.5, 0.5], [2.0, 2.0]],
    ]
    with pytest.raises(ValueError, match="subspaces"):
        create_vector_index(engine, "cbv", "cbi1", "vec_id", "embedding",
                            n_centroids=2, pq_m=4, codebooks=good)
    with pytest.raises(ValueError, match="subspaces"):
        create_vector_index(engine, "cbv", "cbi2", "vec_id", "embedding",
                            n_centroids=2, pq_m=2, codebooks=[])
    with pytest.raises(ValueError, match="code count"):
        create_vector_index(
            engine, "cbv", "cbi3", "vec_id", "embedding", n_centroids=2,
            pq_m=2, codebooks=[good[0], [[0.5, 0.5]]],
        )
    with pytest.raises(ValueError, match="widths"):
        create_vector_index(
            engine, "cbv", "cbi4", "vec_id", "embedding", n_centroids=2,
            pq_m=2, codebooks=[[[0.0], [1.0]], [[0.5], [2.0]]],
        )
    # well-shaped pre-trained codebooks install without retraining
    create_vector_index(engine, "cbv", "cbi5", "vec_id", "embedding",
                        n_centroids=2, pq_m=2, codebooks=good)
    import json as _json

    stored = _json.loads(
        engine._resolve("cbi5").props["vecindex.codebooks"]
    )
    assert stored == good


def test_rollup_histogram_validation(engine, spark):
    """create_rollup rejects degenerate histogram specs at definition
    time (hi == lo would divide to null and silently uncount every
    row; n_bins < 1 is meaningless)."""
    import pytest

    from hudi_demo_spark.engine.derived import create_rollup

    engine.create_table("hv_t", record_key="k")
    with pytest.raises(ValueError, match="hi must be > lo"):
        create_rollup(engine, "hv_t", "hv_r1", ["g"], [],
                      hist_cols={"v": [5.0, 5.0, 4]})
    with pytest.raises(ValueError, match="n_bins"):
        create_rollup(engine, "hv_t", "hv_r2", ["g"], [],
                      hist_cols={"v": [0.0, 10.0, 0]})


def test_minhash_index_lifecycle(engine, spark):
    """Maintained MinHash-LSH index: the index state always equals the
    direct banding of the source's CURRENT rows — across an insert-only
    fold, a mutated window (second ingest + text UPDATE + DELETE), and
    the probe finds a planted near-duplicate while ignoring novel text.
    Guards: source key must be exactly [id_col]; banding must divide."""
    import pytest
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.minhash_index import (
        cluster_index, create_minhash_index, lsh_band_rows,
        minhash_probe, refresh_minhash_index,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "a completely different document about spark shuffle behavior",
        3: "yet another unrelated text mentioning compaction and cleaning",
        4: "the quick brown fox jumps over the lazy dog again and again",
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id int, text string"
    )
    engine.create_table("mhd", record_key="doc_id")
    engine.insert(df.filter("doc_id <= 2"), "mhd")
    create_minhash_index(engine, "mhd", "mhx", "doc_id", "text")
    assert refresh_minhash_index(engine, "mhx") is not None
    # idempotent: nothing new
    assert refresh_minhash_index(engine, "mhx") is None

    def state():
        return {
            (r["doc_id"], r["band"], r["bucket"])
            for r in engine.read("mhx")
            .select("doc_id", "band", "bucket").collect()
        }

    def expected():
        return {
            (r["doc_id"], r["band"], r["bucket"])
            for r in lsh_band_rows(
                engine.read("mhd"), "doc_id", "text"
            ).collect()
        }

    assert state() == expected()
    # mutated window: ingest + update + delete in one refresh
    engine.insert(df.filter("doc_id > 2"), "mhd")
    engine.update(
        "mhd", set={"text": F.lit(texts[1])}, where="doc_id = 2"
    )
    engine.delete("mhd", "doc_id = 3")
    assert refresh_minhash_index(engine, "mhx") is not None
    assert state() == expected()
    ids = [r["doc_id"] for r in engine.read("mhx").select("doc_id").collect()]
    assert ids.count(3) == 0  # evicted from every band
    # probe: near-dup of doc 1 collides; novel text does not
    batch = spark.createDataFrame(
        [(100, texts[1] + " extra"), (101, "wholly novel words here xyz")],
        "doc_id int, text string",
    )
    pairs = {
        (r["query_id"], r["match_id"])
        for r in minhash_probe(engine, "mhx", batch).collect()
    }
    assert (100, 1) in pairs and (100, 4) in pairs and (100, 2) in pairs
    assert not any(q == 101 for q, _ in pairs)
    # clustering preserves probe results (layout-only service)
    assert cluster_index(engine, "mhx") is not None
    pairs2 = {
        (r["query_id"], r["match_id"])
        for r in minhash_probe(engine, "mhx", batch).collect()
    }
    assert pairs2 == pairs
    # guards
    engine.create_table("mhg", record_key=["doc_id", "text"])
    with pytest.raises(ValueError, match="record key"):
        create_minhash_index(engine, "mhg", "mhgx", "doc_id", "text")
    with pytest.raises(ValueError, match="divisible"):
        create_minhash_index(engine, "mhd", "mhbad", "doc_id", "text",
                             num_hashes=64, bands=15)


def _minhash_ix(engine, name):
    """(module, refresher) of a fresh minhash index `name` over the
    source `src` (created on first use) — besides the text index, the
    kind whose insert-only windows fold by `_append_fold`."""
    from hudi_demo_spark.engine import minhash_index as mh

    if "src" not in engine.list_tables():
        engine.create_table("src", record_key="doc_id")
    mh.create_minhash_index(
        engine, "src", name, "doc_id", "text", num_hashes=8, bands=4
    )
    return mh, mh.refresh_minhash_index


def _src_rows(spark, ids):
    return spark.createDataFrame(
        [(i, f"doc {i} says w{i % 7} w{i % 5} and w{i % 3}") for i in ids],
        "doc_id int, text string",
    )


def _view_rows(engine, name):
    df = engine.read(name)
    cols = [c for c in df.columns if not c.startswith("_hoodie")]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_minhash_insert_only_refresh_appends(engine, spark):
    """An insert-only window folds as a plain append (an `insert`
    commit that removes no file), and the index equals one built from
    scratch over the same source."""
    _, refresh = _minhash_ix(engine, "ix")
    engine.insert(_src_rows(spark, range(0, 12)), "src")
    first = refresh(engine, "ix")
    engine.insert(_src_rows(spark, range(12, 20)), "src")
    second = refresh(engine, "ix")
    for meta in (first, second):
        assert meta["operation"] == "insert"
        assert meta["files_removed"] == []
    _minhash_ix(engine, "ref")
    refresh(engine, "ref")
    assert _view_rows(engine, "ix") == _view_rows(engine, "ref")


@pytest.mark.parametrize("later_insert", [False, True])
def test_minhash_crash_replay_appends_once(
    engine, spark, monkeypatch, later_insert
):
    """A refresh that dies after its append commits but before its
    offset is saved is replayed by the next refresh without appending
    again — also when the source took more commits before the replay —
    and the view equals one clean refresh."""
    from hudi_demo_spark.engine.timeline import Timeline

    mod, refresh = _minhash_ix(engine, "ix")
    _minhash_ix(engine, "ref")
    engine.insert(_src_rows(spark, range(0, 10)), "src")
    refresh(engine, "ix")
    engine.insert(_src_rows(spark, range(10, 16)), "src")
    real, crashed = mod._save_props, []

    def crash_once(*a, **k):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("died after the index commit")
        return real(*a, **k)

    monkeypatch.setattr(mod, "_save_props", crash_once)
    with pytest.raises(RuntimeError, match="died"):
        refresh(engine, "ix")
    monkeypatch.undo()
    tl = Timeline(engine._resolve("ix").path)
    assert len(tl.instants()) == 2  # the crashed window's append did commit
    if later_insert:
        engine.insert(_src_rows(spark, range(16, 20)), "src")
    assert refresh(engine, "ix") is None  # the replay: nothing appended
    assert len(tl.instants()) == 2
    if later_insert:
        assert refresh(engine, "ix")["files_removed"] == []
    assert refresh(engine, "ix") is None
    refresh(engine, "ref")
    assert _view_rows(engine, "ix") == _view_rows(engine, "ref")


def test_minhash_in_window_duplicate_id_appends_bands_rows(engine, spark):
    """A plain INSERT may repeat an id inside one window; the append
    still lands exactly `bands` rows for it, because the banding groups
    by id before it explodes bands."""
    from hudi_demo_spark.engine.minhash_index import (
        create_minhash_index,
        refresh_minhash_index,
    )

    engine.create_table("src", record_key="doc_id")
    create_minhash_index(
        engine, "src", "ix", "doc_id", "text", num_hashes=8, bands=4
    )
    engine.insert(_src_rows(spark, [1, 2, 3, 3]), "src")
    assert refresh_minhash_index(engine, "ix")["operation"] == "insert"
    ids = [r["doc_id"] for r in engine.read("ix").select("doc_id").collect()]
    assert sorted(ids) == sorted([1, 2, 3] * 4)


def test_minhash_admission_guard(engine, spark):
    """minhash_admit: batch rows near-duplicating the INDEXED corpus
    are rejected, within-batch twins do not block each other, and a
    probe against a created-but-never-refreshed index admits everything
    (the first batch of an ingest pipeline)."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.minhash_index import (
        create_minhash_index, minhash_admit, refresh_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, f"{base} variant {i} " + "unique " * (i + 1)) for i in range(6)],
        "doc_id int, text string",
    )
    engine.create_table("adm", record_key="doc_id")
    create_minhash_index(engine, "adm", "admx", "doc_id", "text",
                         num_hashes=16, bands=4)
    # empty index: everything admitted, no signing of the corpus needed
    first = minhash_admit(engine, "admx", docs)
    assert first.count() == 6
    engine.insert(docs, "adm")
    refresh_minhash_index(engine, "admx")
    # batch: 10 = exact clone of doc 2 (rejected), 11/12 = identical
    # twins of each other but novel vs the corpus (both admitted —
    # same-batch rows never block each other), 13 = novel (admitted)
    clone = docs.filter(F.col("doc_id") == 2).collect()[0]["text"]
    twin = "a wholly new sentence about streams and lakes " * 3
    batch = spark.createDataFrame(
        [(10, clone), (11, twin), (12, twin), (13, "novel words " * 8)],
        "doc_id int, text string",
    )
    got = sorted(
        r.doc_id for r in minhash_admit(engine, "admx", batch).collect()
    )
    assert got == [11, 12, 13]


@pytest.mark.slow
def test_planning_stays_flat_after_archival_at_4k_commits(engine, spark):
    """The 100x-scale risk on the driver side is the JSON timeline: a
    long-lived table accretes commits and snapshot-read PLANNING
    (timeline parse + live-file replay + lazy DataFrame construction)
    must not keep paying for history once archival (M3) bounds the
    active timeline. Drive the timeline to ~4k commits (synthesized at
    the Timeline layer — the replay cost is identical to real writes
    and the test stays seconds, not minutes), measure planning laps,
    archive to keep=30, and assert the planning work AND wall time
    collapse with the active-instant count while the snapshot stays
    byte-identical."""
    import time

    from hudi_demo_spark.engine.timeline import Timeline
    from hudi_demo_spark.engine.engine import new_instant

    t = _setup(engine, spark)
    cfg = engine._resolve(t)
    tl = Timeline(cfg.path)
    # ~1k synthesized commits: each adds one (fake) file, O(1) per
    # commit (files_removed=[] skips the OCC live-set check); one final
    # commit retires every fake so the live set is the real snapshot
    fakes = []
    for i in range(4000):
        path = f"synthetic/fake_{i}.parquet"
        tl.commit(
            new_instant(), "commit", "upsert",
            [{"path": path, "kind": "base", "partition": "synthetic",
              "bytes": 1}],
            [],
        )
        fakes.append(path)
    tl.commit(new_instant(), "replacecommit", "clean_synthetic", [], fakes)
    assert len(tl.instants()) >= 4001

    def timeline_lap():
        # time ONLY the component that scales with history: instant
        # parse + live-file replay. (Lazy DataFrame construction on top
        # is a constant ~50 ms of Spark/JVM plumbing either way —
        # including it would just dilute the signal into flakiness.)
        t0 = time.perf_counter()
        files = tl.live_files()
        return time.perf_counter() - t0, files

    laps_active = []
    for _ in range(5):
        el, files_a = timeline_lap()
        laps_active.append(el)
    rows_before = sorted(
        tuple(r) for r in engine.read(t).select("id").collect()
    )

    archived = engine.archive(t, keep=30)
    assert archived >= 3900  # all but the newest 30 of ~4006 instants
    assert len(tl.instants()) <= 30

    laps_arch = []
    for _ in range(5):
        el, files_b = timeline_lap()
        laps_arch.append(el)
    # identical snapshot through the checkpoint-seeded replay
    assert files_b == files_a
    assert (
        sorted(tuple(r) for r in engine.read(t).select("id").collect())
        == rows_before
    )
    # replay work is now bounded by the active window, not history:
    # 30 instants + checkpoint vs ~4k instants — measured ~7x on this
    # box (~110 ms -> ~15 ms); 0.5 leaves ample headroom for load.
    assert min(laps_arch) < 0.5 * min(laps_active), (laps_active, laps_arch)


def test_commit_stats_count_rows_written(engine, spark):
    """`rows_written` (Hudi's numWrites, shown as show_commits'
    total_records) is the row count of the files a commit adds, read
    from their footers: a COW insert's rows, a COW upsert's whole
    rewritten file group (carried-over rows included), a MOR delta's
    deduped batch."""
    from pathlib import Path

    from hudi_demo_spark.engine.config import DATA_DIR, MOR

    def counted(t, meta):
        data = Path(engine._resolve(t).path) / DATA_DIR
        return spark.read.parquet(
            *[str(data / f["path"]) for f in meta["files_added"]]
        ).count()

    def shown(t, meta):
        (row,) = [
            c for c in engine.show_commits(t).collect()
            if c["commit_time"] == meta["instant"]
        ]
        return row["total_records"]

    engine.create_table("c", record_key="id", precombine="ts",
                        partition_by="dt")
    # one file per partition: ids 1 and 2 share a file group
    ins = engine.insert(spark.createDataFrame(ROWS, SCHEMA).coalesce(1), "c")
    assert ins["stats"]["rows_written"] == 5 == counted("c", ins)
    up = engine.upsert(
        spark.createDataFrame(
            [(1, "u", 1.0, 9000, "2022-11-25"), (6, "n", 6.0, 9000, "2022-11-25")],
            SCHEMA,
        ),
        "c",
    )
    # the file group holding id 1 is rewritten whole: ids 1, 2 and the
    # new 6
    assert up["stats"]["rows_written"] == 3 == counted("c", up)
    engine.create_table("m", record_key="id", precombine="ts",
                        partition_by="dt", table_type=MOR)
    engine.insert(spark.createDataFrame(ROWS, SCHEMA), "m")
    delta = engine.upsert(
        spark.createDataFrame(
            [(1, "u", 1.0, 9000, "2022-11-25"), (1, "v", 2.0, 9001, "2022-11-25"),
             (3, "w", 3.0, 9000, "2022-11-26")],
            SCHEMA,
        ),
        "m",
    )
    assert delta["action"] == "deltacommit"
    assert delta["stats"]["rows_written"] == 2 == counted("m", delta)
    for t, meta in (("c", ins), ("c", up), ("m", delta)):
        assert shown(t, meta) == meta["stats"]["rows_written"]
