"""The one record-key pruning stage (`Engine._key_probe`): write tagging
keeps only the files whose key range holds one of the batch's keys
(not one [min, max] envelope per partition), record-key point reads
gain the bloom step, and every step keeps every file it cannot rule
out — time travel and MOR snapshots still return the right row."""

import pytest
from pyspark.sql import functions as F

from hudi_demo_spark.engine.timeline import Timeline

SCHEMA = "id int, name string, ts long, dt string"


def _live(engine, t):
    return Timeline(engine._resolve(t).path).live_files()


def _holding(live, keys):
    """Files whose [key_min, key_max] holds one of `keys`."""
    return {
        p for p, m in live.items()
        if any(m["key_min"] <= str(k) <= m["key_max"] for k in keys)
    }


def _ranged(engine, spark, t, props=None, parts=("a",)):
    """64 files with non-overlapping key ranges: ids 1000-1639 (four
    digits, so string order is numeric order) in 64 input slices of 10
    contiguous ids, spread round-robin over `parts` by slice; one file
    per slice."""
    engine.create_table(
        t, record_key="id", precombine="ts", partition_by="dt",
        props=props or {},
    )
    df = spark.range(1000, 1640, numPartitions=64).select(
        F.col("id").cast("int").alias("id"),
        F.lit("seed").alias("name"),
        F.lit(1).cast("long").alias("ts"),
        F.element_at(
            F.array(*[F.lit(p) for p in parts]),
            (F.floor((F.col("id") - 1000) / 10) % len(parts) + 1).cast("int"),
        ).alias("dt"),
    )
    engine.insert(df, t)
    live = _live(engine, t)
    assert len(live) == 64
    return live


@pytest.mark.parametrize("props", [{}, {"index.global": "true"}],
                         ids=["partitioned", "global"])
def test_upsert_rewrites_only_files_holding_a_key(engine, spark, props):
    """A 2-key upsert whose keys sit at both ends of the key space: one
    envelope per partition would span (and rewrite) all 64 files."""
    parts = ("a",) if not props else ("a", "b")
    live = _ranged(engine, spark, "r", props, parts)
    keys = [1005, 1635]
    rows = [(k, "upd", 2, parts[(k - 1000) // 10 % len(parts)]) for k in keys]
    meta = engine.upsert(spark.createDataFrame(rows, SCHEMA), "r")
    want = _holding(live, keys)
    assert len(want) == 2
    assert set(meta["files_removed"]) == want
    got = engine.read("r").groupBy("name").count().collect()
    assert {r["name"]: r["count"] for r in got} == {"seed": 638, "upd": 2}


def test_delete_keys_rewrites_only_files_holding_a_key(engine, spark):
    live = _ranged(engine, spark, "r")
    meta = engine.delete_keys(
        "r", spark.createDataFrame([(1005, "a"), (1635, "a")], "id int, dt string")
    )
    assert set(meta["files_removed"]) == _holding(live, [1005, 1635])
    assert engine.read("r").count() == 638


def test_compaction_scope_global_widening_per_delta_range(engine):
    """Under the global index compaction also merges the base files whose
    key range meets a delta's range (a partition-moving delta may
    supersede a base row elsewhere) — each delta's range, not their
    envelope. A delta without a key range keeps every base file."""
    engine.create_table(
        "g", record_key="id", partition_by="dt", table_type="mor",
        props={"index.global": "true"},
    )
    cfg = engine._resolve("g")

    def f(pp, kind, lo, hi):
        return {"partition": pp, "kind": kind, "key_min": lo, "key_max": hi}

    live = {
        f"dt=b/b{i}.parquet": f("dt=b", "base", str(1000 + 10 * i),
                                 str(1009 + 10 * i))
        for i in range(64)
    }
    live["dt=a/base.parquet"] = f("dt=a", "base", "0000", "0999")
    live["dt=a/d1.parquet"] = f("dt=a", "delta", "1005", "1005")
    live["dt=a/d2.parquet"] = f("dt=a", "delta", "1635", "1635")
    scope = engine._compaction_scope(cfg, live)
    assert set(scope) == {
        "dt=a/base.parquet", "dt=a/d1.parquet", "dt=a/d2.parquet",
        "dt=b/b0.parquet", "dt=b/b63.parquet",
    }
    live["dt=a/d3.parquet"] = f("dt=a", "delta", None, None)
    assert set(engine._compaction_scope(cfg, live)) == set(live)


# ---------------------------------------------------------------------------
# record-key point reads on a bloom table
# ---------------------------------------------------------------------------


@pytest.fixture
def bloomed(engine, spark):
    """12 files in one partition whose key ranges all overlap (hash
    placement), so only the bloom step can narrow a point read."""
    engine.create_table(
        "bl", record_key="id", precombine="ts", partition_by="dt",
        props={"index.bloom.enabled": "true", "write.parallelism": "12"},
    )
    engine.insert(
        spark.createDataFrame(
            [(i, f"n{i}", 1, "2022-09-05") for i in range(1200)], SCHEMA
        ),
        "bl",
    )
    live = _live(engine, "bl")
    assert len(live) == 12 and len(_holding(live, [5])) == 12
    return "bl"


def test_point_read_on_bloom_table_scans_one_file(engine, spark, bloomed):
    sc = spark.sparkContext
    group = "test_key_probe:point_read"
    sc.setJobGroup(group, "point read")
    try:
        df = engine.read(bloomed, where="id = 5")
        rows = df.select("id", "name").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [tuple(r) for r in rows] == [(5, "n5")]
    assert len(df.inputFiles()) == 1
    # the probe itself launches no job: the collect is the only one
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    # an IN-list probes every key; a string literal on the int key no key
    df = engine.read(bloomed, where="id in (5, 700)")
    assert len(df.inputFiles()) <= 2 and df.count() == 2
    assert len(engine.read(bloomed, where="id = '5'").inputFiles()) == 12


def test_point_read_as_of_keeps_old_version(engine, spark, bloomed):
    first = Timeline(engine._resolve(bloomed).path).last_instant()
    engine.upsert(
        spark.createDataFrame([(5, "upd", 2, "2022-09-05")], SCHEMA), bloomed
    )
    old = engine.read(bloomed, as_of=first, where="id = 5")
    assert [r["name"] for r in old.collect()] == ["n5"]
    assert len(old.inputFiles()) == 1
    new = engine.read(bloomed, where="id = 5")
    assert [r["name"] for r in new.collect()] == ["upd"]


def test_point_read_mor_current_row_in_delta(engine, spark):
    """MOR: base files with blooms (from compaction) and the key's
    current row in a delta — deltas carry no bloom, so the stage keeps
    them, and the merge serves the delta's version."""
    engine.create_table(
        "m", record_key="id", precombine="ts", partition_by="dt",
        table_type="mor",
        props={"index.bloom.enabled": "true", "write.parallelism": "4"},
    )
    engine.insert(
        spark.createDataFrame(
            [(i, f"n{i}", 1, "2022-09-05") for i in range(400)], SCHEMA
        ),
        "m",
    )
    engine.compact("m")
    engine.upsert(
        spark.createDataFrame([(5, "upd", 2, "2022-09-05")], SCHEMA), "m"
    )
    live = _live(engine, "m")
    bases = {p for p, m in live.items() if m.get("kind") == "base"}
    assert len(bases) >= 2 and all(live[p].get("bloom") for p in bases)
    df = engine.read("m", where="id = 5")
    assert [(r["id"], r["name"]) for r in df.collect()] == [(5, "upd")]
    files = {p.rsplit("/", 1)[-1] for p in df.inputFiles()}
    assert len(files & {p.rsplit("/", 1)[-1] for p in bases}) == 1
    assert engine.read("m", where="id = 6").collect()[0]["name"] == "n6"


def test_key_probe_keeps_files_it_cannot_rule_out(engine):
    """Files without a key range, without a sidecar, or outside the
    probed scope: the first two are kept, the last dropped."""
    engine.create_table("k", record_key="id", partition_by="dt")
    cfg = engine._resolve("k")
    files = {
        "a/1": {"partition": "a", "key_min": "10", "key_max": "19"},
        "a/2": {"partition": "a", "key_min": "20", "key_max": "29"},
        "a/3": {"partition": "a"},
        "b/1": {"partition": "b", "key_min": "10", "key_max": "19"},
    }
    got = engine._key_probe(cfg, files, {"a": [("15", "15")]})
    assert set(got) == {"a/1", "a/3"}
    got = engine._key_probe(cfg, files, {None: [("15", "15"), ("25", "25")]})
    assert set(got) == set(files)
    got = engine._key_probe(cfg, files, {None: [("30", "40"), ("00", "05")]})
    assert set(got) == {"a/3"}


# ---------------------------------------------------------------------------
# the record-key probe's premise: the stored key renders the key columns
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_update_of_record_key_refused(engine, spark, bloomed, table_type):
    """UPDATE never recomputes `_hoodie_record_key`, so a reassigned key
    column would leave `id = 9999` stored under key "5" and hide it from
    the record-key probe: the assignment is refused (Hudi forbids it
    too), by the API and by SQL, and the row stays findable."""
    t = bloomed
    if table_type == "mor":
        t = "mk"
        engine.create_table("mk", record_key="id", precombine="ts",
                            partition_by="dt", table_type="mor")
        engine.insert(spark.createDataFrame(
            [(5, "n5", 1, "2022-09-05")], SCHEMA), t)
    with pytest.raises(ValueError, match="record key"):
        engine.update(t, set={"id": "9999"}, where="id = 5")
    with pytest.raises(ValueError, match="record key"):
        engine.sql(f"update {t} set ID = 9999 where id = 5")
    assert [r["name"] for r in engine.read(t, where="id = 5").collect()] == ["n5"]
    assert engine.read(t, where="id = 9999").count() == 0
    engine.delete(t, "id = 5")
    assert engine.read(t).filter("id = 5").count() == 0


def test_merge_assigning_record_key_refused(engine, spark, bloomed):
    """MERGE may assign a key column only its own source or target value
    (`t.id = s.id` is how Hudi-style MERGEs spell "keep the key")."""
    src = spark.createDataFrame([(5, "m5", 2, "2022-09-05"),
                                 (5000, "new", 2, "2022-09-05")], SCHEMA)
    for kw in (
        {"matched_update_set": {"id": "s.id + 1"}},
        {"matched_clauses": [(None, {"id": "99", "name": "s.name"})]},
        {"not_matched_insert_values": {"id": "s.id * 2", "dt": "s.dt"}},
        {"not_matched_by_source_update_set": {"id": "s.id"}},
    ):
        with pytest.raises(ValueError, match="record key"):
            engine.merge(bloomed, src, **kw)
    engine.merge(
        bloomed, src,
        matched_update_set={"id": "s.id", "name": "s.name"},
        not_matched_insert_values={"id": "`s`.`id`", "name": "s.name",
                                   "ts": "s.ts", "dt": "s.dt"},
    )
    got = {r["id"]: r["name"]
           for r in engine.read(bloomed, where="id in (5, 5000)").collect()}
    assert got == {5: "m5", 5000: "new"}
