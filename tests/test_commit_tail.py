"""The one commit tail of the data writes (`Engine._commit_write`):
every insert, upsert, delete, delete_keys, update, merge, overwrite and
insert_overwrite materializes, validates, publishes, maintains the
indexes and runs the inline table services through it. These tests pin
what the tail must not change: the Spark jobs of each DML write."""

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
