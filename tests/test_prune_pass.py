"""The read path's one where-router (`Engine._where_probes`) and its one
ordered prune pass (`Engine._prune_pass`): literal normalisation, MOR
safety of the data-column pruners, composition of every layer that
applies, and a differential check that pruning never changes rows —
for reads, time travel, DELETE and UPDATE, on COW and MOR."""

import pytest
from pyspark.sql import functions as F

from hudi_demo_spark.engine.timeline import Timeline


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def _state(df):
    return sorted(
        tuple(r) for r in df.select("id", "p", "c", "s", "f", "v").collect()
    )


# ---------------------------------------------------------------------------
# literals with leading zeros
# ---------------------------------------------------------------------------


def test_leading_zero_literals_route_normalised(engine, spark):
    """Partition paths and the secondary index store Spark's
    cast-to-string form ('7'), so a bare `007` must probe as 7: the
    pruned read equals the unpruned one and DML is no silent no-op."""
    t = "lz"
    engine.create_table(t, record_key="id", partition_by="p")
    engine.insert(
        spark.createDataFrame(
            [(i, i % 10, i % 5) for i in range(50)], "id int, p int, c int"
        ),
        t,
    )
    engine.create_index(t, "c")
    for w in ("p = 007", "p in (07, 8)", "c = 03", "c = -0",
              "p = 07 and c = 002"):
        assert _ids(engine.read(t, where=w)) == _ids(
            engine.read(t).filter(w)
        ), w
    assert len(_ids(engine.read(t, where="p = 007"))) == 5
    engine.delete(t, "c = 03")
    assert engine.read(t).filter("c = 3").count() == 0
    assert engine.read(t).count() == 40
    engine.delete(t, "c = -0")
    assert engine.read(t).filter("c = 0").count() == 0
    assert engine.read(t).count() == 30


def test_router_splits_only_top_level_and(engine, spark):
    """An AND inside a quoted literal, a parenthesised group or a CASE
    is not a conjunct boundary: routing its pieces would prune by a
    predicate the condition does not imply."""
    engine.create_table("sp", record_key="id")
    engine.insert(
        spark.createDataFrame([(1, 1, "x")], "id int, c int, s string"), "sp"
    )
    cfg = engine._resolve("sp")
    assert engine._where_probes(cfg, "s = 'x and c = 5'") == [
        ("point", "s", ["x and c = 5"])
    ]
    for w in ("s = 'x\\' and c = 5 and \\'y'",
              "(s = 'x' or c = 5) or c = 6",
              "case when s = 'x' and c = 5 then true end",
              "end = 1 and c = 5 or c = 6"):
        assert engine._where_probes(cfg, w) == [], w
    assert engine._where_probes(
        cfg, "(s = 'x' or c = 1) and c = 5 and s = 'a and b'"
    ) == [("point", "c", [5]), ("point", "s", ["a and b"])]


# ---------------------------------------------------------------------------
# MOR: col stats describe one file version
# ---------------------------------------------------------------------------

_MOR_SCHEMA = "id int, c int, ts long"


def _mor(engine, spark, name, rows):
    engine.create_table(
        name, record_key="id", precombine="ts", table_type="mor",
        props={"write.stats_cols": "c"},
    )
    engine.insert(spark.createDataFrame(rows, _MOR_SCHEMA), name)
    return name


def test_mor_stats_never_serve_stale_base(engine, spark):
    """An in-order update moves c from 5 to 1 in a delta whose col stats
    exclude 5: skipping that delta would serve the stale base row."""
    t = _mor(engine, spark, "mor_stale", [(1, 5, 1), (2, 7, 1)])
    engine.upsert(spark.createDataFrame([(1, 1, 2)], _MOR_SCHEMA), t)
    assert engine.read(t, range_filter=("c", 5, 5)).count() == 0
    assert engine.read(t, point_filter=("c", [5])).count() == 0
    assert engine.read(t, where="c between 5 and 5").count() == 0
    assert _ids(engine.read(t, where="c = 1")) == [1]


def test_mor_delete_never_tombstones_losing_delta(engine, spark):
    """Out-of-order preCombine: the delta's c = 5 loses the merge to the
    base's c = 1. Skipping the base by col stats would match the losing
    delta row alone, and its tombstone would delete the key."""
    t = _mor(engine, spark, "mor_lost", [(1, 1, 9), (2, 2, 1)])
    engine.upsert(spark.createDataFrame([(1, 5, 2)], _MOR_SCHEMA), t)
    before = sorted(tuple(r) for r in engine.read(t).collect())
    assert len(before) == 2
    engine.delete(t, "c between 5 and 5")
    assert sorted(tuple(r) for r in engine.read(t).collect()) == before


# ---------------------------------------------------------------------------
# composition: every layer that applies prunes
# ---------------------------------------------------------------------------


@pytest.fixture
def layered(engine, spark):
    """10 partitions (p) x 4 commits = 40 files. A secondary index on c
    (c = p % 5, so c = 1 lives in partitions 1 and 6) and col stats on v
    (commit k writes v in [10k, 10k + 4])."""
    t = "layers"
    engine.create_table(
        t, record_key="id", partition_by="p",
        props={"write.stats_cols": "v"},
    )
    for k in range(4):
        engine.insert(
            spark.createDataFrame(
                [(k * 1000 + p * 10 + j, p, p % 5, k * 10 + j)
                 for p in range(10) for j in range(5)],
                "id int, p int, c int, v int",
            ).coalesce(1),  # one file per partition per commit
            t,
        )
    engine.create_index(t, "c")
    assert len(engine.read(t).inputFiles()) == 40
    return t


@pytest.mark.parametrize("conjuncts,expect", [
    (["p IN (1,2)", "c = 1"], 4),
    (["p IN (1,2)", "v BETWEEN 0 AND 9"], 2),
    (["v >= 0 AND v <= 9", "c = 1"], 2),
])
def test_conjunction_composes_layers(engine, layered, conjuncts, expect):
    """A two-layer conjunction scans the intersection of what each layer
    keeps alone — strictly fewer files than either."""
    single = [set(engine.read(layered, where=c).inputFiles())
              for c in conjuncts]
    w = " AND ".join(conjuncts)
    got = engine.read(layered, where=w)
    files = set(got.inputFiles())
    assert files == single[0] & single[1]
    assert len(files) == expect and all(len(s) > expect for s in single)
    assert _ids(got) == _ids(engine.read(layered).filter(w))


# ---------------------------------------------------------------------------
# differential: pruned == unpruned, for reads and DML
# ---------------------------------------------------------------------------

_SCHEMA = "id int, p string, c int, s string, f double, v long, ts long"
# p covers '' and NULL (both stored under the 'default' sentinel) and a
# literal 'default'; s holds '7' and '07', which `s = 7` both matches
# (numeric strings only: ANSI mode casts s to a number there)
_ROWS = [
    (i, ["a", "b", "", None, "default", "c"][i % 6], i % 4,
     ["7", "07", "8", "10"][i % 4], i / 2, i * 3, 1)
    for i in range(36)
]
# the MOR deltas: an in-order move (c, v), an out-of-order (losing)
# version, and a new key
_UPSERT = [
    (1, "b", 3, "7", 0.5, 100, 2),
    (8, "c", 1, "8", 9.5, 7, 0),
    (40, "a", 2, "07", 1.5, 12, 1),
]

PREDICATES = [
    "p = 'a'",
    "p = ''",
    "p = 'default'",
    "p in ('a', 'b') and c = 3",
    "c = 3 or p = 'b'",
    "c = '3'",
    "s = 7",
    "s = '07' and c in (1, 03)",
    "f = 1.5",
    "v between 10 and 30 and p = 'a'",
    "c between 2 and 3 and v >= 5 and v <= 60",
    "p = 'b' and (c = 1 or c = 2)",
    "_hoodie_record_key = '7' and c = 3",
    "v >= 30",
    "id = 7",
    "id in (1, 8, 40)",
    "id = 008 and c = 1",
]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
@pytest.mark.parametrize("w", PREDICATES)
def test_pruned_equals_unpruned(engine, spark, table_type, w):
    """read(where=w) equals read().filter(w), now and as of the commit
    before the upsert; UPDATE and DELETE with w leave exactly the state
    the unpruned filter predicts."""
    t = "diff"
    engine.create_table(
        t, record_key="id", precombine="ts", partition_by="p",
        table_type=table_type, props={"write.stats_cols": "c,v,s"},
    )
    engine.insert(spark.createDataFrame(_ROWS, _SCHEMA), t)
    engine.create_index(t, "c")
    first = Timeline(engine._resolve(t).path).last_instant()
    engine.upsert(spark.createDataFrame(_UPSERT, _SCHEMA), t)
    assert _state(engine.read(t, where=w)) == _state(
        engine.read(t).filter(w)
    )
    assert _state(engine.read(t, as_of=first, where=w)) == _state(
        engine.read(t, as_of=first).filter(w)
    )
    cond = F.coalesce(F.expr(w), F.lit(False))
    want = _state(
        engine.read(t).withColumn(
            "v", F.when(cond, F.col("v") + 1000).otherwise(F.col("v"))
        )
    )
    engine.update(t, {"v": "v + 1000"}, w)
    assert _state(engine.read(t)) == want
    want = _state(engine.read(t).filter(~cond))
    engine.delete(t, w)
    assert _state(engine.read(t)) == want
