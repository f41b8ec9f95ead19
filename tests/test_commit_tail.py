"""The one commit tail of the data writes (`Engine._commit_write`):
every insert, upsert, delete, delete_keys, update, merge, overwrite and
insert_overwrite materializes, validates, publishes, maintains the
indexes and runs the inline table services through it. The table
services share a rewrite tail (`Engine._rewrite`) and a plan execute
loop (`Engine._run_plans`). These tests pin what the tails must not
change: the Spark jobs of each DML write and of each rewrite service."""

import pytest
from pyspark.sql import functions as F

SCHEMA = "id int, name string, price double, ts long, dt string"

# Spark jobs of one write on the table `_table` builds (a secondary
# index on `name`, two partitions, 20 rows), in the order run below
JOBS = {
    "cow": {"delete": 3, "update": 5, "delete_keys": 5, "merge": 7,
            "overwrite": 4},
    "mor": {"delete": 2, "update": 5, "delete_keys": 5, "merge": 7,
            "overwrite": 4},
}


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _table(engine, spark, table_type):
    t = f"tail_{table_type}"
    engine.create_table(
        t, record_key="id", precombine="ts", partition_by="dt",
        table_type=table_type,
    )
    engine.insert(_df(spark, [
        (i, f"n{i}", float(i), 1, "a" if i % 2 else "b") for i in range(20)
    ]), t)
    engine.create_index(t, "name")
    # one write of each kind first: the measured writes below then run
    # on a table whose session-level memos are already warm
    engine.upsert(_df(spark, [(0, "n0", 0.5, 2, "b")]), t)
    return t


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_dml_write_jobs_pinned(engine, spark, table_type):
    t = _table(engine, spark, table_type)
    writes = {
        "delete": lambda: engine.delete(t, "id = 3"),
        "update": lambda: engine.update(
            t, set={"name": F.lit("renamed")}, where="id = 4"
        ),
        "delete_keys": lambda: engine.delete_keys(
            t, spark.createDataFrame([(5, "a")], "id int, dt string")
        ),
        "merge": lambda: engine.merge(t, _df(spark, [
            (6, "m6", 60.0, 3, "b"), (40, "m40", 40.0, 3, "a"),
        ])),
        "overwrite": lambda: engine.overwrite(_df(spark, [
            (i, f"o{i}", float(i), 4, "a") for i in range(5)
        ]), t),
    }
    got = {
        op: _jobs(spark, f"test_commit_tail:{table_type}:{op}", fn)
        for op, fn in writes.items()
    }
    assert got == JOBS[table_type]
    assert sorted(r["id"] for r in engine.read(t).collect()) == list(range(5))


# Spark jobs of each table service on the table `_service_table` builds,
# in the order run below; `inline_compact` is the MOR upsert whose
# commit tail compacts, its own write included
SERVICE_JOBS = {
    "cow": {"cluster_linear": 3, "cluster_zorder": 5, "cluster_hilbert": 5,
            "run_clustering_plan": 3, "resize_buckets": 2},
    "mor": {"log_compact": 3, "compact_plan": 3, "inline_compact": 3,
            "cluster_linear": 4, "cluster_zorder": 7, "cluster_hilbert": 7,
            "run_clustering_plan": 3, "resize_buckets": 3},
}


def _service_table(engine, spark, table_type):
    t = f"svc_{table_type}"
    engine.create_table(
        t, record_key="id", precombine="ts", partition_by="dt",
        table_type=table_type, props={"bucket.num": 2},
    )
    engine.insert(_df(spark, [
        (i, f"n{i}", float(i), 1, "a" if i % 2 else "b") for i in range(20)
    ]), t)
    engine.upsert(_df(spark, [(0, "n0", 0.5, 2, "b")]), t)
    return t


def _unreferenced(engine, t):
    """Data files on disk that no commit of `t` ever added."""
    from pathlib import Path

    from hudi_demo_spark.engine.timeline import Timeline

    path = engine._resolve(t).path
    added = {
        f["path"]
        for m in Timeline(path).instants(include_archived=True)
        for f in m["files_added"]
    }
    data = Path(path) / "data"
    return sorted(
        str(p.relative_to(data)) for p in data.rglob("*.parquet")
        if str(p.relative_to(data)) not in added
    )


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_service_jobs_pinned(engine, spark, table_type):
    """The Spark jobs of each rewrite service, COW and MOR, through
    the direct, planned and inline entry points."""
    t = _service_table(engine, spark, table_type)
    step = [0]

    def touch():  # a delta (MOR) or a rewritten file (COW) per partition
        step[0] += 1
        engine.upsert(_df(spark, [
            (i, f"u{step[0]}", 1.5 * i, 10 + step[0], "a" if i % 2 else "b")
            for i in (step[0], step[0] + 1)
        ]), t)

    def planned_compaction():
        engine.schedule_compaction(t)
        touch()  # a delta after the schedule stays out of the plan
        return lambda: engine.compact(t)

    def inline(on):
        cfg = engine._resolve(t)
        if on:
            cfg.props.update({"compact.inline": "true",
                              "compact.max_delta_commits": 2})
        else:
            cfg.props.pop("compact.inline")
        cfg.save()

    def inline_compaction():
        inline(True)
        touch()  # the first delta since the last compaction

        def run():
            touch()  # the second: its commit tail compacts
            inline(False)
        return run

    def clustering(strategy, cols):
        def setup():
            touch()
            return lambda: engine.cluster(t, cols, strategy=strategy)
        return setup

    def clustering_plan():
        engine.schedule_clustering(t, ["price"])
        return lambda: engine.run_clustering_plan(t)

    def resize():
        touch()
        return lambda: engine.resize_buckets(t, 3)

    services = {
        "log_compact": lambda: lambda: engine.log_compact(t),
        "compact_plan": planned_compaction,
        "inline_compact": inline_compaction,
        "cluster_linear": clustering("linear", ["price"]),
        "cluster_zorder": clustering("zorder", ["price", "ts"]),
        "cluster_hilbert": clustering("hilbert", ["price", "ts"]),
        "run_clustering_plan": clustering_plan,
        "resize_buckets": resize,
    }
    got = {}
    for name in SERVICE_JOBS[table_type]:
        run = services[name]()
        got[name] = _jobs(
            spark, f"test_commit_tail:{table_type}:{name}", run
        )
    assert got == SERVICE_JOBS[table_type]
    ops = [m["operation"] for m in engine.show_commits(t).collect()]
    assert (ops.count("cluster"), ops.count("bucket_resize")) == (4, 1)
    if table_type == "mor":  # the planned and the inline compaction
        assert (ops.count("log_compact"), ops.count("compact")) == (1, 2)
    assert sorted(r["id"] for r in engine.read(t).collect()) == list(
        range(20)
    )
    assert engine.pending_compactions(t) == []
    assert engine.pending_clusterings(t) == []


def test_stale_clustering_plan_runs_nothing(engine, spark):
    """An unnamed `run_clustering_plan` over a plan whose files a later
    write replaced drops the plan before it reads or writes anything."""
    t = "stale_cow"
    engine.create_table(t, record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_df(spark, [
        (i, f"n{i}", float(i), 1, "a" if i % 2 else "b") for i in range(20)
    ]), t)
    engine.schedule_clustering(t, ["price"])
    engine.cluster(t, ["name"])  # replaces every planned file
    before = _unreferenced(engine, t)
    jobs = _jobs(
        spark, "test_commit_tail:stale_plan",
        lambda: engine.run_clustering_plan(t),
    )
    assert jobs == 0
    assert engine.pending_clusterings(t) == []
    assert _unreferenced(engine, t) == before == []
