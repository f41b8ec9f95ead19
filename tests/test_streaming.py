"""Streaming tests mirroring TestStreamingMOR (SURVEY §5 item 5):
rate-source datagen → foreachBatch ingest → commit-per-batch, inline
compaction after N delta commits, incremental pull picks up new commits."""

import time

import pytest
from pyspark.sql import functions as F

SCHEMA = "id int, name string, price double, ts long, dt string"


def test_stream_write_bounded_and_commits(engine, spark, tmp_path):
    """Bounded (availableNow) streaming insert: every micro-batch is one
    commit on the timeline with its batch_id recorded."""
    from hudi_demo_spark.sources.datagen import rate_stream_source
    from hudi_demo_spark.streaming import stream_write

    engine.create_table(
        "s", record_key="user_id", precombine="ts",
        table_type="mor",
        props={"compact.inline": True, "compact.max_delta_commits": 2},
    )
    src = rate_stream_source(spark, rows_per_second=1000, max_user_id=100)
    q = stream_write(
        engine, "s", src, checkpoint=str(tmp_path / "ckpt"), bounded=True
    )
    q.awaitTermination(60)
    time.sleep(1)
    commits = engine.show_commits("s").collect()
    # rate source may produce 0 rows instantly; ensure query at least ran
    assert q.lastProgress is not None
    if commits:
        assert all(c["action"] in ("deltacommit", "compaction") for c in commits)


def test_stream_write_upsert_idempotent_batches(engine, spark, tmp_path):
    """foreachBatch exactly-once: re-delivering a batch_id is a no-op."""
    engine.create_table("t", record_key="id", precombine="ts", partition_by="dt")
    df = spark.createDataFrame([(1, "a", 1.0, 1, "d1")], SCHEMA)
    engine.insert(df, "t", batch_id=7)
    from hudi_demo_spark.engine.timeline import Timeline

    cfg = engine._resolve("t")
    assert 7 in Timeline(cfg.path).committed_batch_ids()


def test_incremental_puller(engine, spark):
    """S21/T4: DeltaStreamer-style pull loop sees each commit once."""
    from hudi_demo_spark.streaming import IncrementalPuller

    engine.create_table("p", record_key="id", precombine="ts", partition_by="dt")
    mk = lambda i: spark.createDataFrame([(i, f"v{i}", 1.0, i, "d")], SCHEMA)
    engine.insert(mk(1), "p")
    puller = IncrementalPuller(engine, "p")
    first = puller.pull()
    assert [r["id"] for r in first.collect()] == [1]
    assert puller.pull() is None  # caught up
    engine.insert(mk(2), "p")
    engine.insert(mk(3), "p")
    nxt = puller.pull()
    assert sorted(r["id"] for r in nxt.collect()) == [2, 3]
    assert puller.pull() is None


def test_inline_compaction_trigger(engine, spark):
    """T5: MOR compaction fires after compact.max_delta_commits deltas;
    `compact.inline` is read as a flag, so 'false' keeps it off."""
    mk = lambda i, ts: spark.createDataFrame([(i, f"v{ts}", 1.0, ts, "d")], SCHEMA)
    engine.create_table(
        "off", table_type="mor", record_key="id", precombine="ts",
        props={"compact.inline": "false", "compact.max_delta_commits": 1},
    )
    engine.insert(mk(1, 1), "off")
    engine.upsert(mk(1, 2), "off")
    actions = [c["action"] for c in engine.show_commits("off").collect()]
    assert actions == ["deltacommit", "deltacommit"]
    engine.create_table(
        "m", record_key="id", precombine="ts", partition_by="dt",
        table_type="mor",
        props={"compact.inline": True, "compact.max_delta_commits": 2},
    )
    engine.insert(mk(1, 1), "m")
    engine.upsert(mk(1, 2), "m")  # 2nd delta → compaction fires
    actions = [c["action"] for c in engine.show_commits("m").collect()]
    assert "compaction" in actions
    rows = engine.read("m").collect()
    assert len(rows) == 1 and rows[0]["name"] == "v2"
    # read-optimized now serves the merged base
    ro = engine.read("m", query_type="read_optimized").collect()
    assert len(ro) == 1 and ro[0]["name"] == "v2"


def test_stream_read_file_source(engine, spark, tmp_path):
    """S21 file-source form: streaming read of an insert-only table."""
    from hudi_demo_spark.streaming import stream_read

    engine.create_table("r", record_key="id", precombine="ts", partition_by="dt")
    engine.insert(
        spark.createDataFrame([(1, "a", 1.0, 1, "d1"), (2, "b", 2.0, 2, "d2")], SCHEMA),
        "r",
    )
    feed = stream_read(spark, engine, "r")
    q = (
        feed.writeStream.format("memory")
        .queryName("feed_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select id from feed_out").collect()
    assert sorted(r["id"] for r in out) == [1, 2]


def test_stream_dedup_exact_with_watermark(spark, tmp_path):
    """Duplicate keys across micro-batches are emitted once; watermark
    variant uses bounded per-key state (dropDuplicatesWithinWatermark)."""
    import shutil

    from pyspark.sql import functions as F

    from hudi_demo_spark.streaming.stateful import stream_dedup_exact

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    rows = [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:05"),
            (1, "2024-01-01 00:00:10"), (3, "2024-01-01 00:00:15"),
            (2, "2024-01-01 00:00:20")]
    df = spark.createDataFrame(rows, "k long, ts string")
    df.coalesce(1).write.json(str(src_dir / "batch"))
    feed = (
        spark.readStream.schema("k long, ts string")
        .json(str(src_dir / "batch"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_dedup_exact(feed, ["k"], event_time_col="ts")
    q = (
        out.writeStream.format("memory").queryName("dedup_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    got = sorted(r["k"] for r in spark.sql("select k from dedup_t").collect())
    assert got == [1, 2, 3]
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_stream_stream_join_within_gap(spark, tmp_path):
    """Watermarked stream-stream join: pairs within the time gap match;
    pairs outside it don't. Replay via file sources + availableNow."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.streaming.stateful import stream_stream_join

    l_dir, r_dir = tmp_path / "l", tmp_path / "r"
    l_dir.mkdir(); r_dir.mkdir()
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:30:00")],
        "k long, lts string",
    ).coalesce(1).write.json(str(l_dir / "b"))
    spark.createDataFrame(
        [(1, "2024-01-01 00:02:00"),   # within 5 min of left k=1 -> match
         (2, "2024-01-01 00:50:00")],  # 20 min after left k=2 -> no match
        "k long, rts string",
    ).coalesce(1).write.json(str(r_dir / "b"))
    lf = (spark.readStream.schema("k long, lts string").json(str(l_dir / "b"))
          .withColumn("lts", F.col("lts").cast("timestamp")))
    rf = (spark.readStream.schema("k long, rts string").json(str(r_dir / "b"))
          .withColumn("rts", F.col("rts").cast("timestamp")))
    out = stream_stream_join(lf, rf, ["k"], "lts", "rts", max_gap="5 minutes")
    q = (out.writeStream.format("memory").queryName("ssj_t")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = [r["k"] for r in spark.sql("select k from ssj_t").collect()]
    assert got == [1]


def test_size_based_compaction_trigger(engine, spark):
    """compact.max_delta_bytes triggers compaction by accumulated delta
    size even below the commit-count threshold."""
    from hudi_demo_spark.engine import timeline as tlmod
    from hudi_demo_spark.engine.timeline import Timeline

    from pyspark.sql import functions as F

    engine.create_table(
        "szc", record_key="k", table_type="mor",
        props={"compact.inline": True, "compact.max_delta_commits": 100,
               "compact.max_delta_bytes": "1"},  # 1 byte -> always trigger
    )
    df = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    engine.upsert(df, "szc")
    cfg = engine._resolve("szc")
    actions = [m["action"] for m in Timeline(cfg.path).instants(True)]
    assert tlmod.COMPACTION in actions  # size trigger fired on commit 1


def test_async_compaction_schedule_then_execute(engine, spark):
    """Schedule/execute split: the executed plan covers ONLY deltas
    captured at schedule time — a delta landing in between stays live
    and un-compacted (Hudi async-compaction semantics)."""
    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table("a", record_key="id", precombine="ts",
                        table_type="mor")

    def df(rows):
        return spark.createDataFrame(rows, "id int, v string, ts long")

    engine.insert(df([(1, "a", 1), (2, "b", 1)]), "a")
    inst = engine.schedule_compaction("a")
    assert inst is not None
    assert engine.pending_compactions("a") == [inst]
    # a delta written AFTER the schedule must survive the execution
    engine.upsert(df([(1, "a2", 2)]), "a")
    meta = engine.compact("a")
    assert meta["instant"] == inst
    assert engine.pending_compactions("a") == []
    live = Timeline(engine._resolve("a").path).live_files()
    kinds = sorted(m["kind"] for m in live.values())
    assert "delta" in kinds  # the post-schedule delta is untouched
    by_id = {r["id"]: r["v"] for r in engine.read("a").collect()}
    assert by_id == {1: "a2", 2: "b"}  # snapshot still merges it
    # second compact folds the straggler inline
    engine.compact("a")
    live2 = Timeline(engine._resolve("a").path).live_files()
    assert all(m["kind"] == "base" for m in live2.values())


def test_stale_compaction_plan_dropped(engine, spark):
    """A scheduled compaction whose files a later write replaced can
    never commit (OCC). `compact()` drops it and compacts the current
    deltas instead of raising forever, and so does the inline
    compaction in a MOR upsert's commit tail."""
    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table("sc", record_key="id", precombine="ts",
                        partition_by="dt", table_type="mor")
    mk = lambda rows: spark.createDataFrame(rows, SCHEMA)
    engine.insert(mk([(1, "a", 1.0, 1, "x"), (2, "b", 2.0, 1, "y")]), "sc")
    stale = engine.schedule_compaction("sc")
    engine.cluster("sc", ["price"])  # replaces every planned file
    engine.upsert(mk([(1, "a2", 1.5, 2, "x")]), "sc")
    assert engine.pending_compactions("sc") == [stale]
    meta = engine.compact("sc")
    assert meta is not None and meta["instant"] != stale
    assert engine.pending_compactions("sc") == []
    live = Timeline(engine._resolve("sc").path).live_files()
    assert all(m["kind"] == "base" for m in live.values())
    by_id = {r["id"]: r["name"] for r in engine.read("sc").collect()}
    assert by_id == {1: "a2", 2: "b"}
    # inline: the upsert whose tail compacts returns normally
    engine.upsert(mk([(2, "b2", 2.5, 2, "y")]), "sc")
    engine.schedule_compaction("sc")
    engine.cluster("sc", ["price"])
    cfg = engine._resolve("sc")
    cfg.props.update({"compact.inline": "true",
                      "compact.max_delta_commits": 1})
    cfg.save()
    engine.upsert(mk([(3, "c", 3.0, 3, "x")]), "sc")
    assert engine.pending_compactions("sc") == []
    actions = [m["action"] for m in Timeline(cfg.path).instants()]
    assert actions[-2:] == ["deltacommit", "compaction"]
    by_id = {r["id"]: r["name"] for r in engine.read("sc").collect()}
    assert by_id == {1: "a2", 2: "b2", 3: "c"}


def test_schedule_compaction_none_without_deltas(engine, spark):
    engine.create_table("c", record_key="id", table_type="mor")
    assert engine.schedule_compaction("c") is None


def test_call_run_compaction_schedule_op(engine, spark):
    from hudi_demo_spark.engine.sql import SqlRouter

    engine.create_table("s", record_key="id", precombine="ts",
                        table_type="mor")
    engine.insert(
        spark.createDataFrame([(1, "a", 1)], "id int, v string, ts long"),
        "s",
    )
    router = SqlRouter(engine)
    out = router.sql("call run_compaction(table => 's', op => 'schedule')")
    inst = out.collect()[0][0]
    assert inst is not None
    shown = router.sql("call show_compaction(table => 's')").collect()
    assert [r[0] for r in shown] == [inst]
    router.sql("call run_compaction(table => 's')")
    assert engine.pending_compactions("s") == []


def test_log_compaction_folds_deltas_only(engine, spark):
    """log_compact: N delta files fold to one per partition, base files
    untouched, snapshot identical, delete markers survive the fold."""
    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table("lc", record_key="id", precombine="ts",
                        table_type="mor")

    def df(rows):
        return spark.createDataFrame(rows, "id int, v string, ts long")

    engine.insert(df([(1, "a", 1), (2, "b", 1), (3, "c", 1)]), "lc")
    engine.compact("lc")  # establish base files
    engine.upsert(df([(1, "a2", 2)]), "lc")
    engine.upsert(df([(2, "b2", 2)]), "lc")
    engine.delete("lc", "id = 3")
    cfg = engine._resolve("lc")
    before = sorted(tuple(r) for r in
                    engine.read("lc").select("id", "v").collect())
    live0 = Timeline(cfg.path).live_files()
    n_delta0 = sum(1 for m in live0.values() if m["kind"] == "delta")
    base0 = {p for p, m in live0.items() if m["kind"] == "base"}
    assert n_delta0 == 3
    meta = engine.log_compact("lc")
    assert meta["action"] == "logcompaction"
    live1 = Timeline(cfg.path).live_files()
    n_delta1 = sum(1 for m in live1.values() if m["kind"] == "delta")
    assert n_delta1 == 1
    # base files untouched — log compaction never reads or writes base
    assert {p for p, m in live1.items() if m["kind"] == "base"} == base0
    after = sorted(tuple(r) for r in
                   engine.read("lc").select("id", "v").collect())
    assert after == before == [(1, "a2"), (2, "b2")]
    # full compaction still folds the rest down to base
    engine.compact("lc")
    assert engine.read("lc", query_type="read_optimized").count() == 2


def test_log_compaction_refuses_partial_payload(engine, spark):
    import pytest as _pytest

    engine.create_table("lp", record_key="id", precombine="ts",
                        table_type="mor", payload="partial_update")
    with _pytest.raises(ValueError, match="partial_update"):
        engine.log_compact("lp")


def test_log_compaction_noop_single_delta(engine, spark):
    engine.create_table("ls", record_key="id", precombine="ts",
                        table_type="mor")
    engine.insert(
        spark.createDataFrame([(1, 1)], "id int, ts long").coalesce(1), "ls"
    )
    assert engine.log_compact("ls") is None


def test_bounded_io_compaction_drains_fattest_first(engine, spark):
    """max_io_mb bounds one compaction run's IO: partitions fold
    fattest-delta-first, repeated runs drain the backlog, and results
    are identical to one unbounded compaction."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table(
        "bio", record_key="k", precombine="ts", partition_by="g",
        table_type="mor",
    )

    def batch(n, g, ts):
        return spark.range(0, n).select(
            F.col("id").alias("k"), F.lit(g).alias("g"),
            F.lit(float(ts)).alias("v"), F.lit(ts).cast("long").alias("ts"),
        )

    # base rows in three partitions, then delta backlogs of very
    # different sizes: g2 (multi-MB) >> g1 >> g0, so a 1 MB budget can
    # only afford the small partitions together, never g2 plus anything
    for g, n in [("g0", 500), ("g1", 15_000), ("g2", 150_000)]:
        engine.insert(batch(n, g, 1), "bio")
    for g, n in [("g0", 100), ("g1", 8_000), ("g2", 100_000)]:
        engine.upsert(batch(n, g, 2), "bio")

    cfg = engine._resolve("bio")

    def delta_parts():
        return {
            m.get("partition", "")
            for m in Timeline(cfg.path).live_files().values()
            if m.get("kind") == "delta"
        }

    assert delta_parts() == {"g=g0", "g=g1", "g=g2"}
    meta1 = engine.compact("bio", max_io_mb=1)
    # the fattest-delta partition went first; at least one remains
    folded = {f["partition"] for f in meta1["files_added"]}
    assert "g=g2" in folded
    remaining = delta_parts()
    assert remaining and "g=g2" not in remaining
    while delta_parts():
        assert engine.compact("bio", max_io_mb=1) is not None
    agg = {
        (r["g"], r["v"]): r["n"]
        for r in engine.read("bio").groupBy("g", "v").count()
        .withColumnRenamed("count", "n").collect()
    }
    for g, n_up, n_base in [
        ("g0", 100, 500), ("g1", 8_000, 15_000), ("g2", 100_000, 150_000)
    ]:
        assert agg[(g, 2.0)] == n_up
        assert agg[(g, 1.0)] == n_base - n_up


def test_cdc_puller_change_feed(engine, spark):
    """CdcPuller: each pull yields the per-key changes (incl. deletes)
    since the last pulled instant — the streaming form of read_cdc."""
    from hudi_demo_spark.streaming import CdcPuller

    engine.create_table("cdcp", record_key="id", precombine="ts")
    engine.insert(
        spark.createDataFrame(
            [(1, "a", 1.0, 1, "d"), (2, "b", 2.0, 1, "d")],
            "id int, name string, price double, ts long, dt string",
        ),
        "cdcp",
    )
    puller = CdcPuller(engine, "cdcp")
    first = puller.pull()
    assert sorted(
        (r["id"], r["_change_type"]) for r in first.collect()
    ) == [(1, "insert"), (2, "insert")]
    assert puller.pull() is None  # caught up
    engine.upsert(
        spark.createDataFrame(
            [(1, "a2", 9.0, 2, "d")],
            "id int, name string, price double, ts long, dt string",
        ),
        "cdcp",
    )
    engine.delete("cdcp", "id = 2")
    second = puller.pull()
    got = sorted((r["id"], r["_change_type"]) for r in second.collect())
    assert got == [(1, "update"), (2, "delete")]
    assert puller.pull() is None


def test_streaming_derived_join_view_maintenance(engine, spark, tmp_path):
    """The continuous derived-table pattern: a file stream feeds the fact
    table via foreachBatch (insert + refresh_join_view per micro-batch),
    so the materialized fact⋈dim view tracks the stream — each refresh
    folds only the arrived delta."""
    import json as _json

    from hudi_demo_spark.engine.derived import (
        create_join_view, refresh_join_view,
    )

    engine.create_table("sdim", record_key="g")
    engine.insert(
        spark.createDataFrame([("a", "alpha"), ("b", "beta")],
                              "g string, label string"),
        "sdim",
    )
    engine.create_table("sfact", record_key="k")
    # seed commit so the view can infer schemas
    engine.insert(
        spark.createDataFrame([(0, "a", 1.0)], "k long, g string, v double"),
        "sfact",
    )
    create_join_view(engine, "sview", "sfact", "sdim", on=["g"])
    refresh_join_view(engine, "sview")

    src_dir = tmp_path / "in"
    src_dir.mkdir()

    def feed(rows, name):
        with open(src_dir / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    feed([{"k": 1, "g": "a", "v": 2.0}, {"k": 2, "g": "c", "v": 3.0}],
         "b1.json")
    feed([{"k": 3, "g": "b", "v": 4.0}], "b2.json")

    def fold(batch_df, batch_id):
        engine.insert(batch_df, "sfact", batch_id=batch_id)
        refresh_join_view(engine, "sview")

    q = (
        spark.readStream.schema("k long, g string, v double")
        .json(str(src_dir))
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["k"], r["g"], r["label"])
           for r in engine.read("sview").collect()}
    # k=2 joins nothing (g='c' not in dim); k=0 seed + streamed 1, 3 do
    assert got == {(0, "a", "alpha"), (1, "a", "alpha"), (3, "b", "beta")}
