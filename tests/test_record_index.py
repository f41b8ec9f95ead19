"""Record-level index (RLI): correctness of the key→partition lookup,
pruning effectiveness visible in commit metadata, completeness guard,
and invalidation on rollback."""

import pytest
from pyspark.sql import functions as F

from hudi_demo_spark.engine.record_index import RecordIndex

ROWS = [
    # interleaved ids across two partitions so footer key ranges overlap
    # completely — range pruning alone cannot separate the partitions
    (1, "a", 1.0, 100, "p1"),
    (3, "a", 1.0, 100, "p1"),
    (5, "a", 1.0, 100, "p1"),
    (2, "a", 1.0, 100, "p2"),
    (4, "a", 1.0, 100, "p2"),
    (6, "a", 1.0, 100, "p2"),
]


def _mkdf(spark, rows):
    return spark.createDataFrame(
        rows, "id int, name string, price double, ts long, dt string"
    )


def _setup(engine, spark, **props):
    engine.create_table(
        "r", record_key="id", precombine="ts", partition_by="dt",
        props={"index.global": "true", "index.record_level": "true", **props},
    )
    engine.insert(_mkdf(spark, ROWS), "r")
    return "r"


def _state(engine, t):
    return sorted(
        tuple(r)
        for r in engine.read(t).select("id", "name", "price", "ts", "dt").collect()
    )


def test_index_built_and_lookup_exact(engine, spark):
    t = _setup(engine, spark)
    cfg = engine._resolve(t)
    idx = RecordIndex(spark, cfg)
    assert idx.usable()
    keys = _mkdf(spark, [(3, "x", 0.0, 0, "zz")]).withColumn(
        "_hoodie_record_key", F.col("id").cast("string")
    )
    assert idx.lookup_partitions(keys) == {"dt=p1"}


def test_rli_upsert_rewrites_only_owning_partition(engine, spark):
    """Ranges overlap across p1/p2, so the range prune keeps both; the
    index must scope the rewrite to the single owning partition —
    observable as files_removed all living in dt=p1."""
    t = _setup(engine, spark)
    meta = engine.upsert(_mkdf(spark, [(3, "b", 9.0, 200, "p1")]), t)
    assert meta["files_removed"], "upsert should rewrite the owning file"
    assert all(p.startswith("dt=p1/") for p in meta["files_removed"])
    by_id = {r[0]: r for r in _state(engine, t)}
    assert by_id[3][1] == "b" and len(by_id) == 6


def test_rli_partition_move_correct(engine, spark):
    t = _setup(engine, spark)
    engine.upsert(_mkdf(spark, [(2, "moved", 9.0, 200, "p3")]), t)
    st = _state(engine, t)
    assert len(st) == 6
    assert {r[0]: r[4] for r in st}[2] == "p3"
    # the index learned the new location: a second touch of the key
    # rewrites p3 (its current home); p2's stale entry only adds reads
    meta = engine.upsert(_mkdf(spark, [(2, "again", 9.5, 300, "p3")]), t)
    assert any(p.startswith("dt=p3/") for p in meta["files_removed"])
    assert not any(p.startswith("dt=p1/") for p in meta["files_removed"])


def test_rli_insert_drop_duplicates(engine, spark):
    t = _setup(engine, spark)
    engine.insert(
        _mkdf(spark, [(3, "dup", 0.0, 999, "p2"), (7, "new", 7.0, 100, "p2")]),
        t, drop_duplicates=True,
    )
    by_id = {r[0]: r for r in _state(engine, t)}
    assert len(by_id) == 7
    assert by_id[3][1] == "a"  # global dup dropped even across partitions
    assert by_id[7][1] == "new"


def test_rollback_truncates_then_rebuild(engine, spark):
    t = _setup(engine, spark)
    cfg = engine._resolve(t)
    first = engine.show_commits(t).collect()[-1]["commit_time"]
    engine.upsert(_mkdf(spark, [(1, "b", 9.0, 200, "p1")]), t)
    engine.rollback(t, first)
    assert not RecordIndex(spark, cfg).usable()
    # next write rebuilds from the restored snapshot
    engine.upsert(_mkdf(spark, [(5, "c", 9.0, 200, "p1")]), t)
    assert RecordIndex(spark, cfg).usable()
    by_id = {r[0]: r for r in _state(engine, t)}
    assert by_id[1][1] == "a" and by_id[5][1] == "c"


def test_rebuild_and_compact_drop_nothing_live(engine, spark):
    t = _setup(engine, spark)
    cfg = engine._resolve(t)
    engine.upsert(_mkdf(spark, [(4, "mv", 1.0, 200, "p9")]), t)
    assert engine.rebuild_record_index(t) is True
    idx = RecordIndex(spark, cfg)
    idx.compact()
    keys = spark.createDataFrame([("4",)], "_hoodie_record_key string")
    # after rebuild the stale p2 entry for key 4 is gone
    assert idx.lookup_partitions(keys) == {"dt=p9"}


def test_rli_requires_global_index(engine, spark):
    engine.create_table(
        "ng", record_key="id", partition_by="dt",
        props={"index.record_level": "true"},
    )
    assert engine._record_index(engine._resolve("ng")) is None
    assert engine.rebuild_record_index("ng") is False


def test_global_delete_by_bare_keys(engine, spark):
    """GLOBAL_* delete semantics: keys_df carries only the key field —
    the index locates owning partitions; no partition columns needed."""
    t = _setup(engine, spark)
    keys = spark.createDataFrame([(3,), (4,)], "id int")
    engine.delete_keys(t, keys)
    assert sorted(r[0] for r in _state(engine, t)) == [1, 2, 5, 6]


def test_rli_survives_clustering(engine, spark):
    """Clustering replaces every live file but PRESERVES partitions —
    the RLI's key→partition pairs stay valid across the replacecommit
    (no truncation, unlike rollback/restore), and the next global
    upsert still locates each key's owning partition through it."""
    t = _setup(engine, spark)
    engine.cluster(t, ["price"])
    cfg = engine._resolve(t)
    idx = RecordIndex(spark, cfg)
    assert idx.usable()  # not truncated by the table service
    # global upsert routed through the surviving index: key 4 lives in
    # p2 and must be updated there, not duplicated into a new partition
    engine.upsert(_mkdf(spark, [(4, "z", 9.0, 200, "p2")]), t)
    st = _state(engine, t)
    assert (4, "z", 9.0, 200, "p2") in st and len(st) == 6


@pytest.mark.parametrize("summary_bound", [None, "2"])
def test_index_append_and_compact_keep_pairs_and_file_shape(
    engine, spark, monkeypatch, summary_bound
):
    """Record and secondary index appends and compactions shuffle ONCE,
    by bucket, and take the distinct inside that shuffle: the stored
    pairs are still exactly the table's distinct pairs, each append
    adds one file to each bucket it touches (and holds no duplicate),
    and a compaction leaves one duplicate-free file per bucket. With the
    batch-summary bound at 2, the 5-row batch is past it and the
    secondary index drops duplicate pairs map-side first: same files,
    same pairs."""
    from hudi_demo_spark.engine.config import PARTITION_PATH_META, RECORD_KEY_META

    props = {"index.record_level.buckets": "4", "index.secondary.buckets": "4"}
    if summary_bound is not None:
        props["index.bloom.hash.distribute_min"] = summary_bound
    t = _setup(engine, spark, **props)
    engine.create_index(t, "name")
    cfg = engine._resolve(t)
    rli = RecordIndex(spark, cfg)
    sec = engine._secondary_index(cfg, "name")
    indexes = ((rli, "key", RECORD_KEY_META), (sec, "value", "name"))

    def stored(idx, col):
        return [
            tuple(r)
            for r in spark.read.parquet(str(idx.path))
            .select(col, "partition").collect()
        ]

    def truth(col):
        snap = engine.read(t).select(
            F.col(col).cast("string"), PARTITION_PATH_META
        )
        return {tuple(r) for r in snap.collect()}

    def buckets(idx, col, df):
        return {
            f"__bucket={r[0]}"
            for r in df.select(idx._bucket(F.col(col).cast("string")))
            .distinct().collect()
        }

    before = {idx.path: set(idx.path.rglob("*.parquet")) for idx, _, _ in indexes}
    # repeated (name, partition) pairs inside the batch, and key 1
    # re-upserted with its old name
    batch = _mkdf(spark, [
        (7, "b", 1.0, 200, "p1"), (9, "b", 1.0, 200, "p1"),
        (8, "c", 1.0, 200, "p2"), (10, "c", 1.0, 200, "p2"),
        (1, "a", 2.0, 200, "p1"),
    ])
    from hudi_demo_spark.engine.secondary_index import SecondaryIndex

    shapes, real_append = [], SecondaryIndex.append

    def append(self, df, small=False):
        shapes.append(small)
        return real_append(self, df, small)

    monkeypatch.setattr(SecondaryIndex, "append", append)
    engine.upsert(batch, t)
    assert shapes == [summary_bound is None]
    stamped = engine.read(t).filter(F.col("id").isin(7, 9, 8, 10, 1))
    for idx, col, src in indexes:
        new = set(idx.path.rglob("*.parquet")) - before[idx.path]
        assert sorted(f.parent.name for f in new) == sorted(
            buckets(idx, src, stamped)
        )
        for f in new:
            rows = spark.read.parquet(str(f)).collect()
            assert len(rows) == len(set(rows))
        assert set(stored(idx, col)) == truth(src)
        idx.compact()
        dirs = [d for d in idx.path.iterdir() if d.is_dir()]
        assert dirs and all(
            len(list(d.glob("*.parquet"))) == 1 for d in dirs
        )
        pairs = stored(idx, col)
        assert len(pairs) == len(set(pairs))
        assert set(pairs) == truth(src)
