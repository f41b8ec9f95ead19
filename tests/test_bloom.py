"""Bloom-filter key index (M1 — JavaClientHive2Hudi.java:167-180):
unit tests for the filter itself, and engine tests proving (a) point
upserts skip files the filter rules out even when key RANGES overlap
everywhere (the case range pruning cannot help), and (b) results stay
identical to the no-bloom table."""

import pytest
from pyspark.sql import functions as F

from hudi_demo_spark.engine import bloom as B


# ---------------------------------------------------------------- unit

def test_bloom_no_false_negatives():
    keys = [f"k{i:05d}" for i in range(5000)]
    import tempfile
    from pathlib import Path

    import numpy as np

    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(B.build(keys, 1e-6, 150_000))
    bl = B.load(Path(f.name))
    for probe in ["k00000", "k02500", "k04999"]:
        h1, h2 = B.key_hashes(probe)
        assert B.might_contain_any(
            bl,
            np.array([h1], dtype=np.uint64),
            np.array([h2], dtype=np.uint64),
        )


def test_bloom_rejects_absent_keys():
    keys = [f"k{i:05d}" for i in range(5000)]
    import tempfile
    from pathlib import Path

    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(B.build(keys, 1e-6, 150_000))
    bl = B.load(Path(f.name))
    import numpy as np

    absent = np.array(
        [B.key_hashes(f"absent-{i}") for i in range(200)], dtype=np.uint64
    )
    # at fpp=1e-6 the chance ANY of 200 absent keys false-positives is
    # ~2e-4 — deterministic inputs, so this is a fixed outcome, not flaky
    assert not B.might_contain_any(bl, absent[:, 0], absent[:, 1])


def test_bloom_overload_degrades_not_wrong():
    # more keys than the dynamic cap: filter overloads (higher FPP) but
    # still never false-negative
    keys = [f"x{i}" for i in range(3000)]
    import tempfile
    from pathlib import Path

    with tempfile.NamedTemporaryFile(delete=False) as f:
        f.write(B.build(keys, 0.01, 500))
    bl = B.load(Path(f.name))
    import numpy as np

    h = np.array([B.key_hashes(k) for k in keys[::97]], dtype=np.uint64)
    for row in h:
        assert B.might_contain_any(bl, row[0:1], row[1:2])


# -------------------------------------------------------------- engine

def _seed(engine, spark, props):
    """One partition, several base files with fully OVERLAPPING key
    ranges: ids interleaved across files so [key_min, key_max] of every
    file spans the space and range pruning keeps all of them."""
    engine.create_table(
        "t", record_key="id", precombine="ts", partition_by="dt",
        props=props,
    )
    for batch in range(4):
        rows = [
            (i, f"n{i}", float(i), 100, "2022-09-05")
            for i in range(batch, 4000, 4)
        ]
        engine.insert(
            spark.createDataFrame(
                rows, "id int, name string, price double, ts long, dt string"
            ),
            "t",
        )
    return "t"


def _live_by_path(engine, t):
    from hudi_demo_spark.engine.timeline import Timeline

    return Timeline(engine._resolve(t).path).live_files()


def test_bloom_sidecars_written(engine, spark):
    t = _seed(engine, spark, {"index.bloom.enabled": "true"})
    live = _live_by_path(engine, t)
    assert live and all(m.get("bloom") for m in live.values())
    for p in live:
        assert B.sidecar_path(engine._resolve(t).path, p).is_file()


def test_bloom_point_upsert_skips_files(engine, spark):
    t = _seed(engine, spark, {"index.bloom.enabled": "true"})
    before = set(_live_by_path(engine, t))
    assert len(before) >= 3
    # one existing key: ranges overlap every file, bloom pins the one
    up = spark.createDataFrame(
        [(17, "upd", 99.0, 200, "2022-09-05")],
        "id int, name string, price double, ts long, dt string",
    )
    meta = engine.upsert(up, t)
    assert len(meta["files_removed"]) == 1
    row = engine.read(t).filter("id = 17").collect()
    assert len(row) == 1 and row[0]["price"] == 99.0
    assert engine.read(t).count() == 4000


def test_bloom_matches_no_bloom_results(engine, spark):
    ta = _seed(engine, spark, {"index.bloom.enabled": "true"})
    up = spark.createDataFrame(
        [(17, "upd", 99.0, 200, "2022-09-05"),
         (9999, "new", 1.0, 200, "2022-09-05")],
        "id int, name string, price double, ts long, dt string",
    )
    engine.upsert(up, ta)
    engine.delete_keys(
        ta, spark.createDataFrame([(33, "2022-09-05")], "id int, dt string")
    )
    got = sorted(
        tuple(r) for r in engine.read(ta).select("id", "price").collect()
    )
    expect = sorted(
        [(i, float(i)) for i in range(4000) if i not in (17, 33)]
        + [(17, 99.0), (9999, 1.0)]
    )
    assert got == expect


def test_bloom_delete_keys_prunes(engine, spark):
    t = _seed(engine, spark, {"index.bloom.enabled": "true"})
    meta = engine.delete_keys(
        t, spark.createDataFrame([(20, "2022-09-05")], "id int, dt string")
    )
    assert len(meta["files_removed"]) == 1
    assert engine.read(t).filter("id = 20").count() == 0
    assert engine.read(t).count() == 3999


def test_show_bloom_filters_procedure(engine, spark):
    t = _seed(engine, spark, {"index.bloom.enabled": "true"})
    live = _live_by_path(engine, t)
    rows = engine.sql(f"call show_bloom_filters(table => '{t}')").collect()
    assert {r["file"] for r in rows} == set(live)
    assert all(r["m_bits"] > 0 and r["k_hashes"] >= 1 for r in rows)
    assert sum(r["n_keys"] for r in rows) == 4000


def test_bloom_clean_sweeps_sidecars(engine, spark):
    t = _seed(engine, spark, {"index.bloom.enabled": "true"})
    cfg = engine._resolve(t)
    up = spark.createDataFrame(
        [(17, "upd", 99.0, 200, "2022-09-05")],
        "id int, name string, price double, ts long, dt string",
    )
    engine.upsert(up, t)
    engine.clean(t, retain_commits=1, stale_staging_s=0.0)
    live = set(_live_by_path(engine, t))
    from pathlib import Path

    bloom_root = Path(cfg.path) / B.BLOOM_DIR
    on_disk = {
        str(p.relative_to(bloom_root))[: -len(".bf")]
        for p in bloom_root.rglob("*.bf")
    }
    assert on_disk == live


@pytest.mark.slow
def test_bulk_commit_writes_sidecars_executor_side(engine, spark):
    """Scale contract: a bulk commit landing many base files must not
    funnel bloom bitmaps through the driver — the write's metadata tail
    (`_scan_files`) writes each sidecar inside its executor task and the
    driver only collects a few scalars per file. Proven by committing
    64+ base files across 64 partitions and inspecting what the tail
    returns for them."""
    from pathlib import Path

    from hudi_demo_spark.engine.config import DATA_DIR

    engine.create_table(
        "tb64", record_key="id", precombine="ts", partition_by="dt",
        props={"index.bloom.enabled": "true"},
    )
    rows = [
        (i, float(i), 1, f"p{i % 64:02d}") for i in range(6400)
    ]
    df = spark.createDataFrame(rows, "id int, price double, ts long, dt string")
    engine.insert(df, "tb64")
    live = _live_by_path(engine, "tb64")
    base = {p: m for p, m in live.items() if m.get("kind") == "base"}
    assert len(base) >= 64
    cfg = engine._resolve("tb64")
    for p, m in base.items():
        assert m.get("bloom") is True
        side = B.sidecar_path(cfg.path, p)
        assert side.is_file() and side.stat().st_size > 0
        # no leftover tmp from the atomic publish
        assert not (side.parent / (side.name + ".tmp")).exists()
    # what the driver receives per file carries NO bitmap payload
    data = Path(cfg.path) / DATA_DIR
    scans = engine._scan_files(
        [(str(data / p), str(B.sidecar_path(cfg.path, p))) for p in base],
        [],
        cfg.props,
    )
    assert len(scans) == len(base) and all(
        set(s) == {"rows", "stats", "bloom"} and s["bloom"]
        for s in scans.values()
    )
    # probes still prune: a single-key upsert touches one file group
    upd = spark.createDataFrame(
        [(7, 700.0, 9, "p07")], "id int, price double, ts long, dt string"
    )
    n_before = len(_live_by_path(engine, "tb64"))
    engine.upsert(upd, "tb64")
    got = engine.read("tb64").filter("id = 7").collect()
    assert got[0]["price"] == 700.0
    assert len(_live_by_path(engine, "tb64")) == n_before


# ------------------------------------------- tagging and the metadata tail

SCHEMA = "id int, name string, price double, ts long, dt string"


def _upd(spark, ids, name="upd"):
    from hudi_demo_spark.operators.util import rows_df

    return rows_df(
        spark, [(i, name, 99.0, 200, "2022-09-05") for i in ids], SCHEMA
    )


def _file_ids(engine, t, paths) -> dict:
    """{relpath: (commit ordinal, file index)} — data-file names carry
    their commit's instant, which differs between tables written with
    the same rows."""
    from pathlib import Path

    from hudi_demo_spark.engine.timeline import Timeline

    instants = [m["instant"] for m in Timeline(engine._resolve(t).path).instants()]
    order = {i: n for n, i in enumerate(sorted(instants))}
    out = {}
    for p in paths:
        _, instant, idx = Path(p).stem.split("_")
        out[p] = (order[instant], idx)
    return out


def test_point_upsert_job_budget(engine, spark):
    """A 40-row COW upsert with a bloom and a secondary index runs at
    most five Spark jobs: one bounded batch summary (ranges, row count
    and bloom keys together), the merge and the write, a driver-side
    metadata tail, and one shuffle plus its write for the index append.
    The aggregate + pair-collect tagging, the applyInPandas bloom build
    and the two-shuffle index append took 13."""
    t = _seed(engine, spark, {"index.bloom.enabled": "true"})
    engine.create_index(t, "name")
    up = _upd(spark, range(1, 160, 4))
    sc = spark.sparkContext
    group = "test_bloom:point_upsert"
    sc.setJobGroup(group, "40-row upsert")
    try:
        meta = engine.upsert(up, t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 5, len(jobs)
    # keys ≡ 1 (mod 4) all live in the second seed commit's files: the
    # bloom probe, fed by the summary, still prunes every other file
    removed = _file_ids(engine, t, meta["files_removed"]).values()
    assert {o for o, _ in removed} == {1}
    assert engine.read(t).filter("name = 'upd'").count() == 40


def _blooms_by_file(engine, t):
    """{(seed commit ordinal, file index): sidecar bytes}."""
    cfg = engine._resolve(t)
    return {
        fid: B.sidecar_path(cfg.path, p).read_bytes()
        for p, fid in _file_ids(engine, t, _live_by_path(engine, t)).items()
    }


@pytest.mark.parametrize(
    "switch", ["_FOOTER_DISTRIBUTE_MIN", "_BLOOM_BUILD_DISTRIBUTE_ROWS"]
)
def test_driver_and_executor_sidecars_byte_equal(
    engine, spark, monkeypatch, switch
):
    """The metadata tail builds sidecars on the driver for small commits
    and in one executor job past either size switch (file count, or
    footer rows when blooms are built); both must write the same
    bytes."""
    import pyarrow.parquet as pq

    from hudi_demo_spark import Engine
    from hudi_demo_spark.engine.engine import Engine as E

    _seed(engine, spark, {"index.bloom.enabled": "true"})
    driver = _blooms_by_file(engine, "t")

    opens, builds = [], []
    real_pf, real_build = pq.ParquetFile, B.build

    def driver_pf(*a, **kw):
        opens.append(a)
        return real_pf(*a, **kw)

    def driver_build(*a):
        builds.append(a)
        return real_build(*a)

    monkeypatch.setattr(E, switch, 1)
    # driver-side modules only: executor workers import their own
    monkeypatch.setattr(pq, "ParquetFile", driver_pf)
    monkeypatch.setattr(B, "build", driver_build)
    other = Engine(spark, engine.root.parent / "lake_exec")
    _seed(other, spark, {"index.bloom.enabled": "true"})
    # every file was scanned and every key hashed on executors
    assert opens == [] and builds == []
    executor = _blooms_by_file(other, "t")
    assert driver and executor == driver


@pytest.mark.parametrize("op", ["upsert", "merge", "delete_keys"])
def test_batch_summary_fallback_matches_default(engine, spark, op):
    """Past `index.bloom.hash.distribute_min` rows the tagging falls back
    to the key-range aggregate and executor-side bloom hashing; with the
    bound at 2 that path must rewrite the same files and leave the same
    rows as the one-collect summary."""
    from hudi_demo_spark import Engine

    ids = [1, 5, 9, 13]  # all in the second seed commit's files
    results = []
    for eng, props in (
        (engine, {}),
        (
            Engine(spark, engine.root.parent / "lake_fallback"),
            {"index.bloom.hash.distribute_min": "2"},
        ),
    ):
        t = _seed(eng, spark, {"index.bloom.enabled": "true", **props})
        if op == "upsert":
            meta = eng.upsert(_upd(spark, ids), t)
        elif op == "merge":
            meta = eng.merge(t, _upd(spark, ids + [4001]))
        else:
            meta = eng.delete_keys(
                t,
                spark.createDataFrame(
                    [(i, "2022-09-05") for i in ids], "id int, dt string"
                ),
            )
        removed = set(_file_ids(eng, t, meta["files_removed"]).values())
        rows = sorted(
            tuple(r)
            for r in eng.read(t).select("id", "name", "price").collect()
        )
        results.append((removed, rows))
    # the bloom pruned every file outside the second seed commit
    assert {o for o, _ in results[0][0]} == {1}
    assert results[0] == results[1]
