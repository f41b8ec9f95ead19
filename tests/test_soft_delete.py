"""Soft-delete upserts — the public Hudi `_hoodie_is_deleted` marker
(hoodie.datasource.write.payload / OverwriteWithLatestAvroPayload
delete-field semantics): a batch row carrying `_hoodie_is_deleted=true`
is a tombstone, applied by the SAME upsert commit that writes the rest
of the batch. This is what makes every incremental index/view refresh a
single atomic commit (upsert + evictions together) instead of an upsert
followed by a delete with an observable inconsistent state in between.

Reference parity: the reference's writers express deletes either as
`client.delete(keys)` (HoodieJavaWriteClientExample.java:109-116) or by
EmptyHoodieRecordPayload-style deleted payloads; `_hoodie_is_deleted`
is the DataFrame-API spelling of the latter.
"""

import json

import pytest
from pyspark.sql import functions as F

from hudi_demo_spark.engine.config import DELETED_META
from hudi_demo_spark.engine.timeline import Timeline


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, p string, v int")


def _mk_marked(spark, rows):
    return spark.createDataFrame(
        rows, f"k int, p string, v int, {DELETED_META} boolean"
    )


def _state(engine, t="t"):
    return sorted(
        tuple(r) for r in engine.read(t).select("k", "p", "v").collect()
    )


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_mixed_batch_updates_and_evicts_in_one_commit(
    engine, spark, table_type
):
    engine.create_table(
        "t", record_key="k", partition_by="p", table_type=table_type
    )
    engine.insert(_mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]), "t")
    tl = Timeline(engine._resolve("t").path)
    before = len(tl.instants())
    # one batch: update k=1, tombstone k=2, insert k=4, tombstone for a
    # key that was never written (must be a silent no-op)
    engine.upsert(
        _mk_marked(
            spark,
            [
                (1, "a", 11, False),
                (2, "a", None, True),
                (4, "b", 40, False),
                (9, "b", None, True),
            ],
        ),
        "t",
    )
    assert _state(engine) == [(1, "a", 11), (3, "b", 30), (4, "b", 40)]
    # atomicity: the whole mixed batch is ONE commit
    assert len(tl.instants()) == before + 1


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_marker_never_leaks_into_schema_or_reads(engine, spark, table_type):
    engine.create_table(
        "t", record_key="k", partition_by="p", table_type=table_type
    )
    engine.insert(_mk(spark, [(1, "a", 10), (2, "a", 20)]), "t")
    engine.upsert(_mk_marked(spark, [(2, "a", None, True)]), "t")
    assert DELETED_META not in engine.read("t").columns
    if table_type == "cow":
        # COW never persists the marker; MOR's stored schema carries it
        # by design (delta files hold it physically) but reads strip it
        stored = json.loads(engine._resolve("t").schema_json)
        assert DELETED_META not in [f["name"] for f in stored["fields"]]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_delete_then_reinsert_resurrects(engine, spark, table_type):
    """Era fencing: a later upsert of the key must win over the
    tombstone regardless of table type (snapshot semantics must not
    depend on COW-vs-MOR physical layout)."""
    engine.create_table(
        "t", record_key="k", partition_by="p", table_type=table_type
    )
    engine.insert(_mk(spark, [(1, "a", 10)]), "t")
    engine.upsert(_mk_marked(spark, [(1, "a", None, True)]), "t")
    assert _state(engine) == []
    engine.upsert(_mk(spark, [(1, "a", 12)]), "t")
    assert _state(engine) == [(1, "a", 12)]


@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_insert_skips_tombstone_rows(engine, spark, table_type):
    """INSERT cannot delete, on either table type: COW must not land a
    tombstone as live data once the reserved column is stripped, and
    MOR must not turn it into a delta delete marker (snapshot semantics
    must not depend on the physical layout) — an existing key INSERTed
    as a tombstone survives untouched."""
    engine.create_table(
        "t", record_key="k", partition_by="p", table_type=table_type
    )
    engine.insert(_mk(spark, [(3, "b", 30)]), "t")
    engine.insert(
        _mk_marked(
            spark,
            [(1, "a", 10, False), (2, "a", 20, True), (3, "b", None, True)],
        ),
        "t",
    )
    assert _state(engine) == [(1, "a", 10), (3, "b", 30)]


def test_tombstone_only_batch_equals_delete_keys(engine, spark):
    """A pure-tombstone upsert is delete-by-key-list with one commit."""
    engine.create_table("t", record_key="k", partition_by="p")
    engine.insert(
        _mk(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]), "t"
    )
    engine.upsert(
        _mk_marked(spark, [(1, "a", None, True), (3, "b", None, True)]), "t"
    )
    assert _state(engine) == [(2, "a", 20)]


def test_global_index_tombstone_by_bare_key(engine, spark):
    """Under the GLOBAL index the tombstone's partition value may be
    unknown (null): the key-only merge must still evict the row from
    whichever partition holds it — the shape index refreshes rely on."""
    engine.create_table(
        "t", record_key="k", partition_by="p", props={"index.global": "true"}
    )
    engine.insert(_mk(spark, [(1, "a", 10), (2, "b", 20)]), "t")
    tomb = spark.createDataFrame(
        [(2, None, None, True)], f"k int, p string, v int, {DELETED_META} boolean"
    )
    engine.upsert(tomb, "t")
    assert _state(engine) == [(1, "a", 10)]


def test_refresh_is_single_commit_minhash(engine, spark):
    """A mutated-window MinHash-index refresh (re-signs + evictions)
    lands as ONE commit on the index table."""
    from hudi_demo_spark.engine.minhash_index import (
        create_minhash_index,
        refresh_minhash_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i} zeta eta theta")
         for i in range(30)],
        "doc_id int, text string",
    )
    engine.create_table("docs", record_key="doc_id")
    engine.insert(docs, "docs")
    create_minhash_index(
        engine, "docs", "mh", "doc_id", "text", num_hashes=16, bands=4
    )
    refresh_minhash_index(engine, "mh")
    engine.update(
        "docs",
        set={"text": F.concat(F.col("text"), F.lit(" changed"))},
        where="doc_id % 5 = 0",
    )
    engine.delete("docs", "doc_id % 7 = 0")
    mh_tl = Timeline(engine._resolve("mh").path)
    before = len(mh_tl.instants())
    refresh_minhash_index(engine, "mh")
    assert len(mh_tl.instants()) == before + 1
    # evicted ids are gone from EVERY band; re-signed ids are present
    left = engine.read("mh").select("doc_id").distinct()
    ids = sorted(r.doc_id for r in left.collect())
    assert ids == [i for i in range(30) if i % 7 != 0]


def test_empty_dml_window_writes_no_index_commit(engine, spark):
    """An UPDATE that matches no row still commits an `update` on the
    source. The MinHash and vector indexes fold that empty DML window
    without writing: the refresh returns None, the index timeline gains
    no instant, and the offset moves past the update."""
    from hudi_demo_spark.engine.derived import _OFFSET_PROP
    from hudi_demo_spark.engine.minhash_index import (
        create_minhash_index,
        refresh_minhash_index,
    )
    from hudi_demo_spark.engine.vector_index import (
        create_vector_index,
        refresh_vector_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i}", [float(i % 3), 1.0, 0.5])
         for i in range(12)],
        "doc_id int, text string, emb array<float>",
    )
    engine.create_table("docs", record_key="doc_id")
    engine.insert(docs, "docs")
    create_minhash_index(
        engine, "docs", "mh", "doc_id", "text", num_hashes=16, bands=4
    )
    create_vector_index(engine, "docs", "vix", "doc_id", "emb", n_centroids=2)
    refreshers = {"mh": refresh_minhash_index, "vix": refresh_vector_index}
    for name, refresh in refreshers.items():
        assert refresh(engine, name) is not None
    engine.sql("update docs set text = 'gone' where doc_id = 99")
    last = Timeline(engine._resolve("docs").path).instants()[-1]
    assert last["operation"] == "update"
    for name, refresh in refreshers.items():
        tl = Timeline(engine._resolve(name).path)
        before = len(tl.instants())
        assert refresh(engine, name) is None
        assert len(tl.instants()) == before
        assert engine._resolve(name).props[_OFFSET_PROP] == last["instant"]


def test_refresh_is_single_commit_filter_view(engine, spark):
    from hudi_demo_spark.engine.derived import (
        create_filter_view,
        refresh_filter_view,
    )

    src = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k int, v int"
    )
    engine.create_table("s", record_key="k")
    engine.insert(src, "s")
    create_filter_view(engine, "s", "fv", "v >= 50")
    refresh_filter_view(engine, "fv")
    # drop some below the threshold (leave the view), delete others
    engine.update("s", set={"v": F.lit(0)}, where="k in (5, 6)")
    engine.delete("s", "k in (7, 8)")
    fv_tl = Timeline(engine._resolve("fv").path)
    before = len(fv_tl.instants())
    refresh_filter_view(engine, "fv")
    assert len(fv_tl.instants()) == before + 1
    ks = sorted(r.k for r in engine.read("fv").select("k").collect())
    assert ks == [9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19]


def test_cdc_emits_delete_for_tombstoned_key(engine, spark):
    """Downstream derived tables consume the view's CDC feed — a key
    evicted by a soft-delete upsert must surface there as a `delete`
    change (and the updated key as an update), or chained views would
    silently keep retired rows."""
    engine.create_table("t", record_key="k", partition_by="p")
    engine.insert(_mk(spark, [(1, "a", 10), (2, "a", 20)]), "t")
    begin = Timeline(engine._resolve("t").path).last_instant()
    engine.upsert(
        _mk_marked(spark, [(1, "a", 11, False), (2, "a", None, True)]), "t"
    )
    ch = {
        r["k"]: r["_change_type"]
        for r in engine.read_cdc("t", begin=begin).collect()
    }
    assert ch == {1: "update", 2: "delete"}


def test_tombstones_never_enter_record_or_secondary_index(engine, spark):
    """A soft-delete upsert evicts keys in the same commit — its
    tombstone rows must NOT be appended to the record index or to
    secondary indexes (matching delete_keys, which appends nothing):
    indexing them would grow both with permanently-dead entries, and
    hand secondary indexes (null, partition) rows from the tombstones'
    null data columns."""
    engine.create_table(
        "t", record_key="k", partition_by="p",
        props={"index.global": "true", "index.record_level": "true"},
    )
    engine.insert(_mk(spark, [(1, "a", 10), (2, "b", 20)]), "t")
    engine.create_index("t", "v")
    cfg = engine._resolve("t")
    # upsert: one live update (k=1) + one tombstone (k=2, null v)
    engine.upsert(
        _mk_marked(spark, [(1, "a", 11, False), (2, "b", None, True)]), "t"
    )
    assert _state(engine) == [(1, "a", 11)]
    ri = engine._record_index(cfg)
    ri_rows = spark.read.parquet(str(ri.path)).collect()
    # k=1 appended by both commits; k=2 only by the initial insert
    assert sorted(r["key"] for r in ri_rows) == ["1", "1", "2"]
    si = engine._secondary_index(cfg, "v")
    si_rows = spark.read.parquet(str(si.path)).collect()
    vals = sorted(r[0] for r in si_rows if r[0] is not None)
    # build (10, 20) + append of the live row (11); no null-valued row
    # and no third append from the tombstone (values stored as strings)
    assert vals == ["10", "11", "20"]
    assert all(r[0] is not None for r in si_rows)
