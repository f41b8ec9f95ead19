"""Functional index (Hudi 1.0 CREATE INDEX ... USING functional_index):
per-base-file [min,max] of an expression, write-maintained, file
skipping on derived-value predicates, MOR-merge safe."""

from pyspark.sql import functions as F

SCHEMA = "id int, name string, price double, ts long, dt string"
ROWS = [
    (1, "a", 10.0, 1, "2022-01-01"),
    (2, "b", 20.0, 1, "2022-01-01"),
    (3, "c", 900.0, 1, "2022-01-02"),
    (4, "d", 950.0, 1, "2022-01-02"),
]


def _setup(engine, spark, name="fx", **kw):
    engine.create_table(
        name, record_key="id", precombine="ts", partition_by="dt", **kw
    )
    engine.insert(spark.createDataFrame(ROWS, SCHEMA), name)
    return name


def test_build_and_prune_files(engine, spark):
    import pathlib

    t = _setup(engine, spark)
    engine.sql(
        f"create index idx_double on {t} using functional_index (price * 2)"
    )
    cfg = engine._resolve(t)
    idx = engine._functional_index(cfg, "idx_double")
    assert idx is not None and idx.usable()
    rng = idx.ranges()
    assert len(rng) >= 2  # every base file carries an entry
    # corrupt the high-range partition's file: a pruned low-range probe
    # must never touch it
    for p in (pathlib.Path(cfg.path) / "data" / "dt=2022-01-02").rglob(
        "*.parquet"
    ):
        p.write_bytes(b"junk")
    got = engine.read(t, func_filter=("idx_double", 0.0, 100.0))
    assert sorted(r["id"] for r in got.collect()) == [1, 2]


def test_maintained_on_writes(engine, spark):
    t = _setup(engine, spark)
    engine.create_functional_index(t, "fxv", "price * 2")
    engine.upsert(
        spark.createDataFrame([(5, "e", 30.0, 1, "2022-01-03")], SCHEMA), t
    )
    got = engine.read(t, func_filter=("fxv", 0.0, 100.0))
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 5]
    cfg = engine._resolve(t)
    idx = engine._functional_index(cfg, "fxv")
    # the new partition's file gained an entry
    assert any(p.startswith("dt=2022-01-03/") for p in idx.ranges())


def test_mor_merge_never_resurrects_skipped_base(engine, spark):
    """A base row whose NEW (delta) value moves out of the probed range:
    the probe must not return the stale base version, nor a delta
    version that loses the merge."""
    t = _setup(engine, spark, name="fxmor", table_type="mor")
    engine.create_functional_index(t, "fxv", "price * 2")
    # id=1: 10.0 -> 600.0 (out of [0,100] probe) via MOR delta
    engine.upsert(
        spark.createDataFrame([(1, "a2", 600.0, 2, "2022-01-01")], SCHEMA), t
    )
    got = engine.read(t, func_filter=("fxv", 0.0, 100.0))
    assert sorted(r["id"] for r in got.collect()) == [2]
    # and the moved row is findable at its new value
    got_hi = engine.read(t, func_filter=("fxv", 1100.0, 1300.0))
    assert [(r["id"], r["name"]) for r in got_hi.collect()] == [(1, "a2")]
    # out-of-order preCombine: id=3's delta (ts 0, in range) LOSES the
    # merge to its base (ts 1, 900.0, out of range); skipping that base
    # would serve the losing delta row alone. Compacting first gives the
    # base files index entries, so there is a base to skip.
    engine.compact(t)
    engine.upsert(
        spark.createDataFrame([(3, "c0", 5.0, 0, "2022-01-02")], SCHEMA), t
    )
    got = engine.read(t, func_filter=("fxv", 0.0, 100.0))
    assert sorted(r["id"] for r in got.collect()) == [2]


def test_sql_ddl_and_show(engine, spark):
    t = _setup(engine, spark, name="fxsql")
    engine.sql(
        f"create index half on {t} using functional_index (price / 2)"
    )
    rows = engine.sql(f"show indexes from {t}").collect()
    assert [(r["column"], r["index_type"], r["usable"]) for r in rows] == [
        ("half (price / 2)", "functional_index", True)
    ]
    engine.sql(f"drop index half on {t}")
    assert engine.sql(f"show indexes from {t}").count() == 0
    cfg = engine._resolve(t)
    assert engine._functional_index(cfg, "half") is None


def test_validate_reports_index_health(engine, spark):
    t = _setup(engine, spark, name="fxval")
    engine.create_functional_index(t, "v1", "price + 1")
    engine.create_index(t, "name")
    rows = {r["check"]: r["status"] for r in engine.validate(t).collect()}
    assert rows["secondary_indexes_complete"] == "OK"
    assert rows["functional_indexes_cover_base_files"] == "OK"


def test_clean_compacts_sidecar_entries(engine, spark):
    """clean() folds per-commit index entry files into one and drops
    dead-file entries; probes stay exact afterwards."""
    t = _setup(engine, spark, name="fxclean")
    engine.create_functional_index(t, "fxv", "price * 2")
    for i in range(3):
        engine.upsert(
            spark.createDataFrame(
                [(1, "a", 10.0 + i, 2 + i, "2022-01-01")], SCHEMA
            ),
            t,
        )
    cfg = engine._resolve(t)
    idx = engine._functional_index(cfg, "fxv")
    n_files_before = len(list(idx.dir.glob("*.json")))
    assert n_files_before >= 4  # build + one per upsert
    engine.clean(t, retain_commits=1, stale_staging_s=0)
    idx = engine._functional_index(engine._resolve(t), "fxv")
    assert len(list(idx.dir.glob("*.json"))) == 1  # folded
    rng = idx.ranges()
    # dead-file entries dropped: every entry points at a live file
    from hudi_demo_spark.engine.timeline import Timeline

    live = set(Timeline(cfg.path).live_files())
    assert set(rng) <= live and rng
    got = engine.read(t, func_filter=("fxv", 24.0, 25.0))
    assert [r["price"] for r in got.collect()] == [12.0]
    # maintenance after the fold still appends (newer entries win)
    engine.upsert(
        spark.createDataFrame([(9, "z", 500.0, 9, "2022-02-01")], SCHEMA), t
    )
    assert engine.read(t, func_filter=("fxv", 999.0, 1001.0)).count() == 1


def test_covers_percent_encoded_partition_paths(engine, spark):
    """input_file_name() returns a percent-encoded URI; a partition
    value with spaces must still get index entries (pre-fix those files
    were silently uncovered — conservative but useless)."""
    t = "fxenc"
    engine.create_table(t, record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(
        spark.createDataFrame(
            [(1, "a", 10.0, 1, "v spc"), (2, "b", 900.0, 1, "plain")],
            SCHEMA),
        t,
    )
    engine.create_functional_index(t, "fxv", "price * 2")
    cfg = engine._resolve(t)
    idx = engine._functional_index(cfg, "fxv")
    rng = idx.ranges()
    assert any("v spc" in p for p in rng), rng
    got = engine.read(t, func_filter=("fxv", 0.0, 100.0))
    assert [r["id"] for r in got.collect()] == [1]


def test_entries_follow_clustering(engine, spark):
    """Clustering REPLACES every live base file (replacecommit): the
    new files must carry functional-index entries of their own — the
    rewrite lands through the same materialize hook as any write, so a
    post-cluster pruned read keeps both completeness AND skipping. A
    silent gap here would not corrupt results (files without an entry
    are always kept) but would quietly turn the index off right after
    the table service that runs most often at scale."""
    import pathlib

    from hudi_demo_spark.engine.timeline import Timeline

    t = _setup(engine, spark)
    engine.create_functional_index(t, "fxv", "price * 2")
    cfg = engine._resolve(t)
    before = set(engine._functional_index(cfg, "fxv").ranges())
    engine.cluster(t, ["price"])
    live = set(Timeline(cfg.path).live_files())
    rng = engine._functional_index(cfg, "fxv").ranges()
    # completeness: every post-cluster live base file has an entry
    assert live <= set(rng), sorted(live - set(rng))
    # the clustered layout produced NEW files, with NEW entries
    assert live.isdisjoint(before)
    # skipping still proven physically: corrupt the high-range files —
    # a low-range pruned probe must never open them
    for p in live:
        lo_hi = rng[p]
        if lo_hi[0] > 100:
            (pathlib.Path(cfg.path) / "data" / p).write_bytes(b"junk")
    got = engine.read(t, func_filter=("fxv", 0.0, 100.0))
    assert sorted(r["id"] for r in got.collect()) == [1, 2]
