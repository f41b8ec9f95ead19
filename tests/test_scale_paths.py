"""Scale-path regression tests (round-3 VERDICT items): file-group-granular
COW predicate DML, executor-side bloom probe, loud incremental-range
cleaning, and distributed empty-file footer checks. Each asserts the
DISTRIBUTION property (what runs where), not just the result — the result
checks live in test_dml / test_bloom / test_timeline."""

import pytest
from pyspark.sql import functions as F

ROWS = "id int, name string, price double, ts long, dt string"


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, ROWS)


def _batch(tag, lo, hi, dt="2022-09-05"):
    return [(i, f"{tag}", 10.0, 100, dt) for i in range(lo, hi)]


def _live(engine, table):
    from hudi_demo_spark.engine.timeline import Timeline

    cfg = engine._resolve(table)
    return set(Timeline(cfg.path).live_files())


# ---------------------------------------------------------------------------
# weak #1: COW predicate DELETE/UPDATE rewrite matched file groups only
# ---------------------------------------------------------------------------

def _two_filegroup_table(engine, spark):
    """One partition, two commits → ≥2 live file groups; the predicate
    targets a row that lives only in the FIRST commit's file(s), via a
    non-key column so auto point-filter pruning cannot help."""
    engine.create_table("t", record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_mkdf(spark, _batch("alpha", 1, 6)), "t")
    first = _live(engine, "t")
    assert first
    engine.insert(_mkdf(spark, _batch("beta", 100, 106)), "t")
    second_only = _live(engine, "t") - first
    assert second_only  # second commit added its own file group(s)
    return first, second_only


def test_delete_rewrites_only_matched_file_groups(engine, spark):
    first, second_only = _two_filegroup_table(engine, spark)
    meta = engine.delete("t", "name = 'alpha' and id = 1")
    live = _live(engine, "t")
    # sibling file groups (second commit) carry forward UN-rewritten
    assert second_only <= live
    assert set(meta["files_removed"]) <= first
    got = sorted(r[0] for r in engine.read("t").select("id").collect())
    assert got == [2, 3, 4, 5] + list(range(100, 106))


def test_update_rewrites_only_matched_file_groups(engine, spark):
    first, second_only = _two_filegroup_table(engine, spark)
    meta = engine.update("t", set={"price": F.lit(99.0)},
                         where="name = 'alpha' and id = 2")
    live = _live(engine, "t")
    assert second_only <= live
    assert set(meta["files_removed"]) <= first
    st = {r[0]: r[1] for r in engine.read("t").select("id", "price").collect()}
    assert st[2] == 99.0 and st[1] == 10.0 and st[100] == 10.0


def test_delete_unmatched_partition_untouched(engine, spark):
    """Cross-partition sanity: a delete matching one partition must not
    replace the other partition's files (pre-existing behavior, pinned)."""
    engine.create_table("t", record_key="id", precombine="ts",
                        partition_by="dt")
    engine.insert(_mkdf(spark, _batch("a", 1, 4, dt="2022-09-05")
                        + _batch("b", 10, 14, dt="2022-09-25")), "t")
    before = _live(engine, "t")
    other = {p for p in before if "2022-09-25" in p}
    assert other
    engine.delete("t", "id = 1")
    assert other <= _live(engine, "t")


# ---------------------------------------------------------------------------
# weak #2: bloom probe fans out to executors (no driver sidecar IO)
# ---------------------------------------------------------------------------

def test_bloom_probe_distributed_no_driver_sidecar_reads(engine, spark,
                                                         monkeypatch):
    from hudi_demo_spark.engine import bloom as B

    engine.create_table(
        "t", record_key="id", precombine="ts", partition_by="dt",
        props={"index.bloom.enabled": "true", "write.parallelism": "72"},
    )
    # 72 file groups in one partition, hash-spread keys → overlapping key
    # ranges, so range pruning keeps everything and the bloom probe is
    # the only pruner (the regime the distributed path exists for)
    engine.insert(_mkdf(spark, _batch("seed", 1, 721)), "t")
    flagged = _live(engine, "t")
    assert len(flagged) >= 64

    calls = []
    real_load = B.load

    def driver_load(path):
        calls.append(path)
        return real_load(path)

    monkeypatch.setattr(B, "load", driver_load)
    meta = engine.upsert(_mkdf(spark, [(5, "upd", 11.0, 200,
                                        "2022-09-05")]), "t")
    # the probe ran on executors: zero driver-side sidecar loads
    assert calls == []
    # and it actually pruned: a 1-key upsert rewrites ~1 file group
    assert 1 <= len(meta["files_removed"]) <= 4
    row = engine.read("t").filter("id = 5").select("price").collect()
    assert [r[0] for r in row] == [11.0]


def test_bloom_probe_small_candidate_driver_path(engine, spark):
    """Under the distribute threshold the driver loop still prunes
    correctly (the one-key batch is hashed on the driver, from the
    tagging's batch summary)."""
    engine.create_table(
        "t", record_key="id", precombine="ts", partition_by="dt",
        props={"index.bloom.enabled": "true", "write.parallelism": "4"},
    )
    engine.insert(_mkdf(spark, _batch("seed", 1, 41)), "t")
    meta = engine.upsert(_mkdf(spark, [(7, "upd", 12.0, 200,
                                        "2022-09-05")]), "t")
    assert len(meta["files_removed"]) <= 2
    row = engine.read("t").filter("id = 7").select("price").collect()
    assert [r[0] for r in row] == [12.0]


# ---------------------------------------------------------------------------
# weak #3: incremental read over a cleaned range fails loudly
# ---------------------------------------------------------------------------

def test_incremental_cleaned_range_raises(engine, spark):
    from hudi_demo_spark.engine.engine import IncrementalRangeCleanedError

    engine.create_table("t", record_key="id", precombine="ts",
                        partition_by="dt")
    m1 = engine.insert(_mkdf(spark, _batch("v1", 1, 5)), "t")
    engine.upsert(_mkdf(spark, _batch("v2", 1, 5)), "t")
    engine.upsert(_mkdf(spark, _batch("v3", 1, 5)), "t")
    engine.upsert(_mkdf(spark, _batch("v4", 1, 5)), "t")
    engine.clean("t", retain_commits=1, stale_staging_s=0.0)
    with pytest.raises(IncrementalRangeCleanedError):
        engine.read_incremental("t", begin=m1["instant"]).count()
    # opt-out: partial changeset allowed, skip count recorded
    df = engine.read_incremental("t", begin=m1["instant"],
                                 allow_cleaned=True)
    assert df.count() == 4  # latest state of the 4 keys, from live files
    assert engine.last_incremental_stats["cleaned_files_skipped"] >= 1


def test_incremental_cleaned_range_full_scan_fallback(engine, spark):
    """fallback_full_scan (Hudi's read.incr.fallback.fulltablescan):
    a cleaned range answers from the snapshot filtered on commit time —
    every LIVE changed row is returned (here all 4 keys, at their
    latest version), the stats record the fallback, and path_glob is
    refused (the fallback cannot prune paths)."""
    engine.create_table("t", record_key="id", precombine="ts",
                        partition_by="dt")
    m1 = engine.insert(_mkdf(spark, _batch("v1", 1, 5)), "t")
    engine.upsert(_mkdf(spark, _batch("v2", 1, 5)), "t")
    engine.upsert(_mkdf(spark, _batch("v3", 1, 5)), "t")
    engine.clean("t", retain_commits=1, stale_staging_s=0.0)
    df = engine.read_incremental("t", begin=m1["instant"],
                                 fallback_full_scan=True)
    rows = {r["id"]: r["name"] for r in df.collect()}
    assert rows == {i: "v3" for i in range(1, 5)}
    assert engine.last_incremental_stats["full_scan_fallback"] is True
    assert engine.last_incremental_stats["cleaned_files_skipped"] >= 1
    with pytest.raises(ValueError, match="path_glob"):
        engine.read_incremental(
            "t", begin=m1["instant"], path_glob="dt=*/*",
            fallback_full_scan=True,
        )


def test_incremental_unclean_range_records_zero_skips(engine, spark):
    engine.create_table("t", record_key="id", precombine="ts",
                        partition_by="dt")
    m1 = engine.insert(_mkdf(spark, _batch("v1", 1, 5)), "t")
    engine.upsert(_mkdf(spark, _batch("v2", 1, 5)), "t")
    assert engine.read_incremental("t", begin=m1["instant"]).count() == 4
    assert engine.last_incremental_stats["cleaned_files_skipped"] == 0


# ---------------------------------------------------------------------------
# minor: the write's footer scan distributes past _FOOTER_DISTRIBUTE_MIN
# ---------------------------------------------------------------------------

def test_footer_rows_distributes_large_commits(engine, tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(70):
        p = tmp_path / f"f{i:03d}.parquet"
        n = 0 if i % 2 == 0 else 3
        pq.write_table(pa.table({"a": list(range(n))}), str(p))
        paths.append(str(p))

    calls = []
    real_pf = pq.ParquetFile

    def driver_pf(*a, **kw):
        calls.append(a)
        return real_pf(*a, **kw)

    # patch DRIVER-side pyarrow only; executor workers re-import the real
    # module in their own processes, so counts stay correct iff the read
    # fanned out
    monkeypatch.setattr(pq, "ParquetFile", driver_pf)
    out = engine._scan_files([(p, None) for p in paths], [], {})
    assert calls == []  # zero driver footer reads at 70 files
    assert out[paths[0]]["rows"] == 0 and out[paths[1]]["rows"] == 3
    assert len(out) == 70

    # under the threshold the driver path is used (and counted)
    small = engine._scan_files([(p, None) for p in paths[:5]], [], {})
    assert len(calls) == 5
    assert small[paths[0]]["rows"] == 0 and small[paths[1]]["rows"] == 3


# ---------------------------------------------------------------------------
# round-4: record-key point probes prune files; derived-view refreshes
# read KEY-PRUNED snapshots; DML footprint collect is capped; the
# file-prune intersection falls back rather than silently no-op'ing
# ---------------------------------------------------------------------------

def _read_spy(monkeypatch, record):
    """Wrap Engine.read to log (table, point probe, n_input_files) per
    call — the observable for 'the refresh scanned a pruned snapshot'.
    Captures point_prune (file pruning without the row filter — the
    derived-view path) and point_filter alike."""
    from hudi_demo_spark.engine.engine import Engine

    orig = Engine.read

    def spy(self, table, *a, **kw):
        df = orig(self, table, *a, **kw)
        name = table if isinstance(table, str) else getattr(
            table, "name", str(table)
        )
        record.append((
            str(name),
            kw.get("point_prune") or kw.get("point_filter"),
            len(df.inputFiles()),
        ))
        return df

    monkeypatch.setattr(Engine, "read", spy)


def test_point_filter_record_key_prunes_files(engine, spark):
    from hudi_demo_spark.engine.config import RECORD_KEY_META

    engine.create_table("kt", record_key="id", precombine="ts")
    for lo in (10, 20, 30, 40):
        engine.insert(_mkdf(spark, _batch("x", lo, lo + 10)), "kt")
    total = len(engine.read("kt").inputFiles())
    assert total >= 4
    pruned = engine.read("kt", point_filter=(RECORD_KEY_META, ["25"]))
    assert len(pruned.inputFiles()) < total
    assert [r[0] for r in pruned.select("id").collect()] == [25]


def test_rollup_recompute_prunes_snapshot_scan(engine, spark, monkeypatch):
    from hudi_demo_spark.engine.derived import create_rollup, refresh_rollup

    rows = "id int, g string, v double"

    def df(lo, g, v=1.0):
        return spark.createDataFrame(
            [(i, g, v) for i in range(lo, lo + 10)], rows
        )

    engine.create_table(
        "dsrc2", record_key="id", props={"write.stats_cols": "g"}
    )
    for lo, g in ((10, "a"), (20, "b"), (30, "c"), (40, "d")):
        engine.insert(df(lo, g), "dsrc2")
    create_rollup(engine, "dsrc2", "droll2", ["g"], ["v"])
    assert refresh_rollup(engine, "droll2") is not None
    engine.update("dsrc2", set={"v": F.lit(5.0)}, where="id = 25")
    total = len(engine.read("dsrc2").inputFiles())
    calls = []
    _read_spy(monkeypatch, calls)
    assert refresh_rollup(engine, "droll2") is not None
    src_pruned = [c for c in calls if c[0] == "dsrc2"]
    assert src_pruned, "recompute must read the source"
    assert all(pf is not None for _, pf, _ in src_pruned), (
        "every source snapshot read must carry a point_filter"
    )
    assert all(n < total for *_, n in src_pruned), (
        "every source snapshot read must scan a strict file subset"
    )
    got = {
        r["g"]: (r["n_rows"], r["sum_v"])
        for r in engine.read("droll2").collect()
    }
    assert got["b"] == (10, 14.0)  # 9×1.0 + the updated 5.0
    assert got["a"] == (10, 10.0) and got["d"] == (10, 10.0)


def test_join_view_fold_prunes_snapshot_scan(engine, spark, monkeypatch):
    from hudi_demo_spark.engine.derived import (
        create_join_view, refresh_join_view,
    )

    lrows = "id int, g string, v double"
    engine.create_table("jl", record_key="id",
                        props={"write.stats_cols": "g"})
    for lo, g in ((10, "a"), (20, "b"), (30, "c")):
        engine.insert(
            spark.createDataFrame(
                [(i, g, 1.0) for i in range(lo, lo + 5)], lrows
            ),
            "jl",
        )
    engine.create_table("jr", record_key="g",
                        props={"write.stats_cols": "g"})
    for g, w in (("a", "x"), ("b", "y"), ("c", "z")):
        engine.insert(
            spark.createDataFrame([(g, w)], "g string, w string"), "jr"
        )
    create_join_view(engine, "jv2", "jl", "jr", on=["g"])
    assert refresh_join_view(engine, "jv2") is not None
    # single-group delta: the right-snapshot read of the fold must
    # touch a strict subset of the right table's files
    engine.insert(
        spark.createDataFrame(
            [(i, "c", 2.0) for i in range(40, 45)], lrows
        ),
        "jl",
    )
    total_r = len(engine.read("jr").inputFiles())
    assert total_r >= 3
    calls = []
    _read_spy(monkeypatch, calls)
    assert refresh_join_view(engine, "jv2") is not None
    r_reads = [c for c in calls if c[0] == "jr"]
    assert r_reads and all(pf is not None for _, pf, _ in r_reads)
    assert all(n < total_r for *_, n in r_reads)
    assert engine.read("jv2").count() == 20


def test_services_do_not_force_rollup_recompute(engine, spark, monkeypatch):
    """Row-preserving timeline instants (cluster/clean/compact) must
    neither additive-fold nor partial-recompute — the refresh advances
    the offset and leaves the rollup untouched."""
    from hudi_demo_spark.engine import derived as D

    rows = "id int, g string, v double"

    def df(lo, g):
        return spark.createDataFrame(
            [(i, g, 1.0) for i in range(lo, lo + 10)], rows
        )

    engine.create_table("csrc", record_key="id")
    engine.insert(df(10, "a"), "csrc")
    engine.insert(df(20, "b"), "csrc")
    D.create_rollup(engine, "csrc", "croll", ["g"], ["v"])
    assert D.refresh_rollup(engine, "croll") is not None
    engine.cluster("csrc", ["g"])
    called = []
    monkeypatch.setattr(
        D, "_refresh_recompute",
        lambda *a, **k: called.append(1),
    )
    assert D.refresh_rollup(engine, "croll") is None
    assert not called, "cluster-only window must not trigger recompute"
    monkeypatch.undo()
    engine.insert(df(30, "b"), "csrc")
    assert D.refresh_rollup(engine, "croll") is not None
    got = {
        r["g"]: (r["n_rows"], r["sum_v"])
        for r in engine.read("croll").collect()
    }
    assert got == {"a": (10, 10.0), "b": (20, 20.0)}


def test_dml_file_prune_cap_falls_back_partition_granular(engine, spark):
    """Past the cap, the matched-file collect stops and the rewrite set
    degrades to partition-granular — results identical, driver safe."""
    engine.create_table(
        "capt", record_key="id", precombine="ts", partition_by="dt",
        props={"write.dml.file_prune_cap": "1"},
    )
    engine.insert(_mkdf(spark, _batch("a", 1, 6)), "capt")
    engine.insert(_mkdf(spark, _batch("b", 100, 106)), "capt")
    engine.insert(_mkdf(spark, _batch("c", 200, 206)), "capt")
    before = _live(engine, "capt")
    assert len(before) >= 3
    meta = engine.delete("capt", "name = 'a' or name = 'b'")
    # 2 matched files > cap 1 → partition-granular: ALL partition files
    # replaced (the 'c' file carries forward via the rewrite)
    assert set(meta["files_removed"]) == before
    got = sorted(r[0] for r in engine.read("capt").select("id").collect())
    assert got == list(range(200, 206))


def test_dml_rewrite_set_falls_back_when_partition_emptied(
    engine, monkeypatch
):
    """A path-normalization mismatch (symlinked data dir, exotic URI
    scheme) must abandon pruning, not silently no-op the DML."""
    engine.create_table("pfb", record_key="id")
    cfg = engine._resolve("pfb")
    affected = {
        "f1.parquet": {"partition": ""},
        "f2.parquet": {"partition": ""},
    }
    # the matched scan hit partition "" through a path no file resolves to
    monkeypatch.setattr(
        engine, "_matched_scan_footprint",
        lambda matched, cap: ({""}, {"/no/such/file"}),
    )
    out = engine._dml_rewrite_set(cfg, affected, None)
    assert out == affected


def test_read_where_auto_partition_prune(engine, spark):
    """read(where="dt = '...'") must scan ONLY the named partition's
    files (metadata-level prune), and the auto-routing must stay
    conservative: a coercible-but-differently-stringified literal falls
    back to a full scan rather than a wrong prune."""
    from pyspark.sql import functions as F

    engine.create_table("wp_t", record_key="k", partition_by="dt")
    df = spark.range(0, 90).select(
        F.col("id").alias("k"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1).cast("string"))
        .alias("dt"),
        (F.col("id") * 1.0).alias("v"),
    )
    engine.insert(df, "wp_t")
    all_files = set(engine.read("wp_t").inputFiles())
    pruned = engine.read("wp_t", where="dt = '2024-01-02'")
    sub = set(pruned.inputFiles())
    assert sub and sub < all_files
    assert all("dt=2024-01-02" in f for f in sub)
    assert pruned.count() == 30
    # IN list prunes to two partitions
    two = engine.read("wp_t", where="dt IN ('2024-01-01', '2024-01-03')")
    assert {f.split("dt=")[1].split("/")[0] for f in two.inputFiles()} == {
        "2024-01-01", "2024-01-03"
    }
    assert two.count() == 60
    # complex predicate: no prune, correct rows
    c = engine.read("wp_t", where="dt = '2024-01-02' or v < 3")
    assert set(c.inputFiles()) == all_files
    assert c.count() == 32  # 30 in dt-02 plus ids 0,2 (id 1 overlaps)


def test_dml_auto_partition_prune(engine, spark):
    """DELETE/UPDATE with a partition-column predicate must scan (and
    rewrite) only that partition's file groups."""
    from pyspark.sql import functions as F

    engine.create_table("wd_t", record_key="k", partition_by="dt")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("dt"),
        (F.col("id") * 1.0).alias("v"),
    )
    engine.insert(df, "wd_t")
    meta = engine.delete("wd_t", "dt = 'a'")
    # only partition a's files were replaced
    assert len(meta["files_removed"]) >= 1
    assert engine.read("wd_t").count() == 30
    assert engine.read("wd_t").filter("dt = 'a'").count() == 0
    # an update routed by partition predicate touches only partition b
    before_b = {
        f for f in engine.read("wd_t").inputFiles() if "dt=b" in f
    }
    engine.update("wd_t", set={"v": "v + 1"}, where="dt = 'b'")
    after = set(engine.read("wd_t").inputFiles())
    assert before_b.isdisjoint(after)  # b rewritten
    got = engine.read("wd_t").agg(F.sum("v")).collect()[0][0]
    assert got == sum(i for i in range(60) if i % 2 == 1) + 30


def test_read_where_partition_prune_bare_style(engine, spark):
    """Auto partition pruning must also match BARE (non-hive) partition
    paths positionally — and never cross-match another partition
    column's equal value in a multi-level layout."""
    from pyspark.sql import functions as F

    engine.create_table(
        "bp_t", record_key="k", partition_by=["a", "b"], hive_style=False
    )
    df = spark.createDataFrame(
        [(1, "x", "y", 1.0), (2, "y", "x", 2.0), (3, "x", "x", 3.0)],
        "k long, a string, b string, v double",
    )
    engine.insert(df, "bp_t")
    pruned = engine.read("bp_t", where="b = 'y'")
    files = set(pruned.inputFiles())
    assert files and all("/x/y/" in f for f in files)  # only (a=x, b=y)
    assert [r.k for r in pruned.collect()] == [1]


def test_partition_prune_empty_string_falls_back(engine, spark):
    """Rows with an empty-string partition value live under the
    'default' sentinel path; a where probe for '' must fall back to an
    unpruned scan (pruning on the literal would lose those rows), and
    DML through the same route must still delete them."""
    from pyspark.sql import functions as F

    engine.create_table("ep_t", record_key="k", partition_by="dt")
    df = spark.createDataFrame(
        [(1, "", 1.0), (2, "a", 2.0), (3, "a", 3.0)],
        "k long, dt string, v double",
    )
    engine.insert(df, "ep_t")
    got = engine.read("ep_t", where="dt = ''")
    assert [r.k for r in got.collect()] == [1]
    engine.delete("ep_t", "dt = ''")
    assert engine.read("ep_t").count() == 2


def test_partition_prune_conjunctions_and_or_guard(engine, spark):
    """AND-conjunctions route each parsed partition conjunct to the
    prune (unparsed conjuncts skipped — sound superset); a TOP-LEVEL OR
    disables routing entirely, because pruning on one disjunct would
    drop the other's rows."""
    from pyspark.sql import functions as F

    engine.create_table("cj_t", record_key="k", partition_by=["a", "b"])
    df = spark.createDataFrame(
        [(1, "x", "p", 1.0), (2, "x", "q", 2.0),
         (3, "y", "p", 3.0), (4, "y", "q", 4.0)],
        "k long, a string, b string, v double",
    )
    engine.insert(df, "cj_t")
    full = set(engine.read("cj_t").inputFiles())
    # both conjuncts parse -> prune to the single (x, q) partition
    d = engine.read("cj_t", where="a = 'x' and b = 'q'")
    assert all("a=x/b=q" in f for f in d.inputFiles())
    assert [r.k for r in d.collect()] == [2]
    # one conjunct parses, the other (row predicate) is skipped
    d2 = engine.read("cj_t", where="a = 'y' and v > 3")
    assert all("a=y" in f for f in d2.inputFiles())
    assert [r.k for r in d2.collect()] == [4]
    # top-level OR: no pruning, full correctness
    d3 = engine.read("cj_t", where="a = 'x' and b = 'q' or a = 'y'")
    assert set(d3.inputFiles()) == full
    assert sorted(r.k for r in d3.collect()) == [2, 3, 4]
    # parenthesized OR inside a conjunct: partition conjunct still prunes
    d4 = engine.read("cj_t", where="a = 'x' and (v < 2 or b = 'q')")
    assert all("a=x" in f for f in d4.inputFiles())
    assert sorted(r.k for r in d4.collect()) == [1, 2]


def test_minhash_probe_small_and_large_batch_paths(engine, spark, monkeypatch):
    """minhash_probe's two plans agree: a batch under _PROBE_COLLECT_CAP
    becomes a driver-collected local relation (one signing pass + a
    bucket point-prune of the index read); past the cap the index reads
    unpruned and the batch signs exactly once inside the join (no second
    signing pass just to learn the prune-set overflowed). Same rows
    either way."""
    from hudi_demo_spark.engine import minhash_index as MH

    engine.create_table("docs", record_key="i")
    rows = [(i, f"w{i} common tokens here {'x' * (i % 4)}") for i in range(40)]
    engine.insert(spark.createDataFrame(rows, "i int, text string"), "docs")
    MH.create_minhash_index(engine, "docs", "mh", "i", "text",
                            num_hashes=16, bands=4)
    MH.refresh_minhash_index(engine, "mh")
    # batch contains exact clones of half the corpus → guaranteed hits
    batch = spark.createDataFrame(
        [(100 + i, t) for i, t in rows[::2]], "i int, text string"
    )
    small = sorted(
        tuple(r) for r in MH.minhash_probe(engine, "mh", batch).collect()
    )
    assert small, "probe found no candidates — fixture broken"
    monkeypatch.setattr(MH, "_PROBE_COLLECT_CAP", 3)
    large = sorted(
        tuple(r) for r in MH.minhash_probe(engine, "mh", batch).collect()
    )
    assert large == small
