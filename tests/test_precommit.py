"""Pre-commit validators (hoodie.precommit.validators analog): a SQL
quality gate over the CANDIDATE snapshot; violating writes abort before
publishing — readers never see the bad data, staged files are cleaned."""

import pathlib

import pytest
from pyspark.sql import functions as F  # noqa: F401

from hudi_demo_spark.engine.engine import PreCommitValidationError

SCHEMA = "id int, price double, ts long"


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_validator_blocks_bad_writes(engine, spark, table_type):
    t = f"pv_{table_type}"
    engine.create_table(
        t, record_key="id", precombine="ts", table_type=table_type,
        props={
            "precommit.validator.sql":
                "SELECT id, price FROM __candidate WHERE price < 0"
        },
    )
    engine.insert(spark.createDataFrame([(1, 10.0, 1), (2, 20.0, 1)], SCHEMA), t)
    cfg = engine._resolve(t)
    n_files = len(list((pathlib.Path(cfg.path) / "data").rglob("*.parquet")))
    # an upsert introducing a negative price is REJECTED
    with pytest.raises(PreCommitValidationError, match="violations"):
        engine.upsert(spark.createDataFrame([(2, -5.0, 2)], SCHEMA), t)
    # nothing published, staged files cleaned, no inflight leftovers
    assert {r["id"]: r["price"] for r in engine.read(t).collect()} == {
        1: 10.0, 2: 20.0,
    }
    assert len(
        list((pathlib.Path(cfg.path) / "data").rglob("*.parquet"))
    ) == n_files
    from hudi_demo_spark.engine.timeline import Timeline

    assert Timeline(cfg.path).inflight() == []
    # a clean write passes, and the table stays writable
    engine.upsert(spark.createDataFrame([(2, 25.0, 3)], SCHEMA), t)
    assert {r["id"]: r["price"] for r in engine.read(t).collect()} == {
        1: 10.0, 2: 25.0,
    }
    # insert path gated too
    with pytest.raises(PreCommitValidationError):
        engine.insert(spark.createDataFrame([(3, -1.0, 1)], SCHEMA), t)
    assert engine.read(t).count() == 2


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_validator_gates_every_write_path(engine, spark, table_type):
    """The hoodie.precommit.validators contract gates EVERY write
    operation — UPDATE / MERGE / DELETE-shaped commits must abort on a
    violating candidate snapshot, not just insert/upsert."""
    t = f"pvall_{table_type}"
    engine.create_table(
        t, record_key="id", precombine="ts", table_type=table_type,
        props={
            "precommit.validator.sql":
                "SELECT id FROM __candidate WHERE price < 0 "
                "UNION ALL SELECT 1 FROM __candidate HAVING count(*) < 2"
        },
    )
    engine.insert(
        spark.createDataFrame([(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)],
                              SCHEMA), t)

    def state():
        return {r["id"]: r["price"] for r in engine.read(t).collect()}

    good = state()
    # UPDATE introducing a negative price aborts
    with pytest.raises(PreCommitValidationError):
        engine.update(t, set={"price": "-1.0"}, where="id = 1")
    assert state() == good
    # MERGE with an explicit SET writing a negative price aborts
    with pytest.raises(PreCommitValidationError):
        engine.merge(
            t,
            spark.createDataFrame([(2, 0.0, 9)], SCHEMA),
            matched_update_set={"price": "-9.0", "ts": "s.ts"},
        )
    assert state() == good
    # DELETE shrinking the table below the floor aborts
    with pytest.raises(PreCommitValidationError):
        engine.delete(t, "id in (1, 2)")
    assert state() == good
    # delete_keys path gated the same way
    with pytest.raises(PreCommitValidationError):
        engine.delete_keys(
            t, spark.createDataFrame([(1,), (2,)], "id int"))
    assert state() == good
    # truncate empties the table → count floor fires
    with pytest.raises(PreCommitValidationError):
        engine.truncate(t)
    assert state() == good
    # a compliant UPDATE still publishes
    engine.update(t, set={"price": "price + 1"}, where="id = 1")
    assert state()[1] == 11.0


def test_validator_gates_partition_scoped_writes(engine, spark):
    """insert_overwrite / delete_partition candidates reflect the
    replaced partitions; violations abort before the replacecommit."""
    t = "pvpart"
    engine.create_table(
        t, record_key="id", precombine="ts", partition_by="dt",
        props={
            "precommit.validator.sql":
                "SELECT 1 FROM __candidate HAVING count(*) < 2"
        },
    )
    sch = "id int, price double, ts long, dt string"
    engine.insert(spark.createDataFrame(
        [(1, 10.0, 1, "a"), (2, 20.0, 1, "b")], sch), t)
    with pytest.raises(PreCommitValidationError):
        engine.delete_partition(t, "dt=a")
    assert engine.read(t).count() == 2
    # overwrite that keeps the floor passes
    engine.insert_overwrite(spark.createDataFrame(
        [(3, 30.0, 1, "a")], sch), t)
    assert sorted(r["id"] for r in engine.read(t).collect()) == [2, 3]
    # a whole-table overwrite's candidate is its batch alone: one row
    # breaks the floor and publishes nothing; two rows pass
    with pytest.raises(PreCommitValidationError):
        engine.overwrite(spark.createDataFrame([(4, 40.0, 1, "a")], sch), t)
    assert sorted(r["id"] for r in engine.read(t).collect()) == [2, 3]
    assert [m["operation"] for m in engine.show_commits(t).collect()][0] == (
        "insert_overwrite"
    )
    engine.overwrite(spark.createDataFrame(
        [(4, 40.0, 1, "a"), (5, 50.0, 1, "b")], sch), t)
    assert sorted(r["id"] for r in engine.read(t).collect()) == [4, 5]
