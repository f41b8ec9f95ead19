"""Incrementally-maintained BM25 text index (engine/text_index.py):
lifecycle differential against the batch operator, scalar-stats
exactness, posting eviction, window routing, and pruning."""

import pytest
from pyspark.sql import functions as F

from hudi_demo_spark.engine.text_index import (
    _TB_COL,
    _bucket,
    cluster_text_index,
    create_text_index,
    postings,
    refresh_text_index,
    text_index_search,
)
from hudi_demo_spark.functions.textfn import tokens


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


DOCS = [
    (1, "spark streams data and more data"),
    (2, "hash joins beat loops"),
    (3, "vector search over spark"),
    (4, "   "),  # zero tokens: counts toward N, no postings
    (5, "data data data hash"),
    (6, "streams of vector data"),
]


def _setup(engine, spark):
    engine.create_table("docs", record_key="doc_id")
    engine.insert(_mk(spark, DOCS[:3]), "docs")
    create_text_index(engine, "docs", "tix", "doc_id", "text", buckets=4)
    refresh_text_index(engine, "tix")  # insert-only bootstrap
    engine.insert(_mk(spark, DOCS[3:]), "docs")
    refresh_text_index(engine, "tix")  # insert-only fold


def _batch_topk(engine, terms, k=10):
    """Reference ranking: the BATCH operator over the CURRENT snapshot
    (same formula, same rounding) — the index must agree exactly."""
    from hudi_demo_spark.operators.text import bm25_score

    snap = engine.read("docs").select("doc_id", "text")
    return sorted(
        (r["doc_id"], r["bm25"])
        for r in bm25_score(snap, "doc_id", "text", terms).collect()
        if r["bm25"] > 0.0
    )


def _index_topk(engine, terms, k=10):
    return sorted(
        (r["doc_id"], r["bm25"])
        for r in text_index_search(engine, "tix", terms, k=k).collect()
    )


def test_insert_only_fold_matches_batch_operator(engine, spark):
    _setup(engine, spark)
    assert _index_topk(engine, ["data", "hash"]) == _batch_topk(
        engine, ["data", "hash"]
    )


def test_insert_only_fold_never_reads_cdc(engine, spark, monkeypatch):
    """Insert-only windows tokenize just the incremental delta — the
    CDC image machinery must not run."""
    engine.create_table("docs", record_key="doc_id")
    engine.insert(_mk(spark, DOCS[:3]), "docs")
    create_text_index(engine, "docs", "tix", "doc_id", "text", buckets=4)

    def _boom(*a, **k):
        raise AssertionError("insert-only refresh used read_cdc")

    monkeypatch.setattr(engine, "read_cdc", _boom)
    assert refresh_text_index(engine, "tix") is not None
    monkeypatch.undo()
    assert _index_topk(engine, ["data"]) == _batch_topk(engine, ["data"])


def test_dml_window_rederives_and_evicts(engine, spark):
    """UPDATE moves tf/dl of exactly the changed docs; DELETE evicts
    every posting of the dead doc; a VANISHED term's (term, doc) key is
    tombstoned. End state must equal the batch operator's replay."""
    _setup(engine, spark)
    # doc 2 loses 'hash' entirely (term vanishes), doc 5 gains 'spark'
    engine.update(
        "docs", set={"text": F.lit("join engines win")}, where="doc_id = 2"
    )
    engine.update(
        "docs",
        set={"text": F.concat(F.col("text"), F.lit(" spark"))},
        where="doc_id = 5",
    )
    engine.delete("docs", "doc_id = 6")
    assert refresh_text_index(engine, "tix") is not None
    for terms in (["hash"], ["spark", "data"], ["vector", "join"]):
        assert _index_topk(engine, terms) == _batch_topk(engine, terms), terms
    # the vanished term points at nothing: doc 2 must not surface
    assert all(d != 2 for d, _ in _index_topk(engine, ["hash"]))
    # the deleted doc is gone from every term it held
    assert all(d != 6 for d, _ in _index_topk(engine, ["streams", "vector"]))


def test_scalar_stats_track_corpus_exactly(engine, spark):
    """textindex.n_docs / sum_dl fold incrementally (insert deltas,
    CDC image diffs) and must equal a from-scratch recount after
    arbitrary DML — including the zero-token doc."""
    _setup(engine, spark)
    engine.update(
        "docs",
        set={"text": F.concat(F.col("text"), F.lit(" zq zq"))},
        where="doc_id % 2 = 1",
    )
    engine.delete("docs", "doc_id = 2")
    refresh_text_index(engine, "tix")
    cfg = engine._resolve("tix")
    snap = engine.read("docs")
    want_n = snap.count()
    want_s = snap.agg(
        F.coalesce(F.sum(F.size(tokens("text"))), F.lit(0))
    ).collect()[0][0]
    assert int(cfg.props["textindex.n_docs"]) == want_n == 5
    assert int(cfg.props["textindex.sum_dl"]) == want_s


def test_window_routing_and_idempotence(engine, spark):
    _setup(engine, spark)
    # nothing new: no commit, offset unchanged
    assert refresh_text_index(engine, "tix") is None
    # row-preserving service only: offset advances, no data commit
    engine.cluster("docs", sort_cols=["doc_id"])
    assert refresh_text_index(engine, "tix") is None
    assert refresh_text_index(engine, "tix") is None  # and stays settled
    assert _index_topk(engine, ["data"]) == _batch_topk(engine, ["data"])


def test_search_pruning_is_strict_subset(engine, spark):
    _setup(engine, spark)
    cluster_text_index(engine, "tix")
    terms = ["data"]
    tbs = sorted(
        {
            r[_TB_COL]
            for r in spark.createDataFrame([(t,) for t in terms],
                                           "term string")
            .select(_bucket(F.col("term"), 4).alias(_TB_COL))
            .collect()
        }
    )
    n_all = len(engine.read("tix").inputFiles())
    n_probed = len(
        engine.read(
            "tix",
            where=f"{_TB_COL} IN ({','.join(str(t) for t in tbs)})",
            point_filter=("term", terms),
        ).inputFiles()
    )
    assert 0 < n_probed < n_all


def test_contracts(engine, spark):
    engine.create_table("multi", record_key=["doc_id", "text"])
    with pytest.raises(ValueError, match="record key"):
        create_text_index(engine, "multi", "t2", "doc_id", "text")
    engine.create_table("docs", record_key="doc_id")
    create_text_index(engine, "docs", "tix", "doc_id", "text", buckets=4)
    with pytest.raises(ValueError, match="empty"):
        text_index_search(engine, "tix", ["data"])  # never refreshed
    engine.insert(_mk(spark, DOCS[:2]), "docs")
    refresh_text_index(engine, "tix")
    with pytest.raises(ValueError, match="query term"):
        text_index_search(engine, "tix", [])


def test_postings_shape(spark):
    p = postings(_mk(spark, [(7, "a b a")]), "doc_id", "text", 4).collect()
    got = sorted((r["term"], r["doc_id"], r["tf"], r["dl"]) for r in p)
    assert got == [("a", 7, 2, 3), ("b", 7, 1, 3)]
    assert all(0 <= r[_TB_COL] < 4 for r in p)


@pytest.mark.slow
def test_randomized_dml_differential_vs_batch_operator(engine, spark):
    """Randomized windows of mixed insert/upsert/update/delete on the
    source, each folded by refresh_text_index — after EVERY window the
    index-served ranking and the maintained scalars must equal the
    batch operator / a recount over the live snapshot."""
    import random

    from pyspark.sql import functions as F

    rnd = random.Random(99)
    words = ["data", "hash", "spark", "vector", "stream", "join", "zq"]

    def txt():
        return " ".join(rnd.choice(words)
                        for _ in range(rnd.randint(0, 6)))

    engine.create_table("docs", record_key="doc_id")
    engine.insert(
        _mk(spark, [(i, txt()) for i in range(1, 7)]), "docs"
    )
    create_text_index(engine, "docs", "tix", "doc_id", "text", buckets=4)
    refresh_text_index(engine, "tix")
    live = set(range(1, 7))
    for window in range(6):
        for _ in range(rnd.randint(1, 2)):
            op = rnd.choice(["insert", "upsert", "update", "delete"])
            ids = rnd.sample(range(1, 10), rnd.randint(1, 3))
            if op == "insert":
                rows = [(i, txt()) for i in ids if i not in live]
                if rows:
                    engine.insert(_mk(spark, rows), "docs")
                    live |= {r[0] for r in rows}
            elif op == "upsert":
                engine.upsert(_mk(spark, [(i, txt()) for i in ids]),
                              "docs")
                live |= set(ids)
            elif op == "update" and live:
                lo = rnd.randint(1, 9)
                engine.update(
                    "docs",
                    set={"text": F.concat(F.col("text"),
                                          F.lit(" " + rnd.choice(words)))},
                    where=f"doc_id >= {lo}",
                )
            elif live:
                lo = rnd.randint(1, 9)
                engine.delete("docs", f"doc_id = {lo}")
                live.discard(lo)
        refresh_text_index(engine, "tix")
        cfg = engine._resolve("tix")
        snap = engine.read("docs")
        assert int(cfg.props["textindex.n_docs"]) == snap.count(), window
        want_s = snap.agg(
            F.coalesce(F.sum(F.size(tokens("text"))), F.lit(0))
        ).collect()[0][0]
        assert int(cfg.props["textindex.sum_dl"]) == want_s, window
        if int(cfg.props["textindex.n_docs"]) > 0:
            terms = rnd.sample(words, 2)
            assert _index_topk(engine, terms) == _batch_topk(
                engine, terms
            ), (window, terms)


def test_batch_topk_matches_batch_operator(engine, spark):
    """text_index_topk (many queries, one pruned index scan) must rank
    exactly like operators/text.bm25_topk over the raw corpus."""
    from hudi_demo_spark.engine.text_index import text_index_topk
    from hudi_demo_spark.operators.text import bm25_topk

    _setup(engine, spark)
    queries = spark.createDataFrame(
        [(10, ["data", "hash"]), (20, ["vector", "streams"]),
         (30, ["spark"])],
        "query_id int, terms array<string>",
    )
    got = sorted(
        tuple(r)
        for r in text_index_topk(
            engine, "tix", queries, "query_id", "terms", k=4
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in bm25_topk(
            engine.read("docs").select("doc_id", "text"),
            queries, "doc_id", "text", "query_id", "terms", k=4,
        ).collect()
    )
    assert got == want and got


def test_batch_topk_over_cap_joins_unpruned(engine, spark, monkeypatch):
    """Past _TOPK_COLLECT_CAP, text_index_topk must skip the driver
    term-collect and the broadcasts and serve from an unpruned shuffled
    join — with bit-identical scores to the pruned path."""
    import hudi_demo_spark.engine.text_index as tix
    from hudi_demo_spark.engine.text_index import text_index_topk

    _setup(engine, spark)
    queries = spark.createDataFrame(
        [(10, ["data", "hash"]), (20, ["vector", "streams"]),
         (30, ["spark"])],
        "query_id int, terms array<string>",
    )
    want = sorted(
        tuple(r)
        for r in text_index_topk(
            engine, "tix", queries, "query_id", "terms", k=4
        ).collect()
    )
    calls = []
    orig = spark.createDataFrame
    monkeypatch.setattr(
        spark, "createDataFrame", lambda *a, **k: calls.append(a) or orig(*a, **k)
    )
    monkeypatch.setattr(tix, "_TOPK_COLLECT_CAP", 0)
    over = text_index_topk(engine, "tix", queries, "query_id", "terms", k=4)
    got = sorted(tuple(r) for r in over.collect())
    assert got == want and got
    # no local relation was built — nothing was collected to the driver
    assert not calls
    # and the broadcast hint is absent from the over-cap plan
    assert "broadcast" not in over._jdf.queryExecution().logical().toString().lower()


def test_insert_duplicate_id_aborts_fold(engine, spark, monkeypatch):
    """engine.insert appends without key dedup; a duplicate-id window
    must abort the refresh BEFORE postings or scalar stats are written
    (the table-prop scalars would never self-heal) — on the driver
    route, and on the Spark route (the cut at zero)."""
    import hudi_demo_spark.engine.engine as E
    from hudi_demo_spark.engine.derived import _OFFSET_PROP
    from hudi_demo_spark.engine.text_index import _stats

    _setup(engine, spark)
    before_stats = _stats(engine._resolve("tix"))
    before_offset = engine._resolve("tix").props[_OFFSET_PROP]
    before_rows = engine.read("tix").count()
    engine.insert(
        _mk(spark, [(7, "dup doc"), (7, "dup doc again")]), "docs"
    )
    for cut in (E._SMALL_READ_CUT, (0, 0)):
        monkeypatch.setattr(E, "_SMALL_READ_CUT", cut)
        with pytest.raises(ValueError, match="1 duplicate"):
            refresh_text_index(engine, "tix")
        cfg = engine._resolve("tix")
        assert _stats(cfg) == before_stats
        assert cfg.props[_OFFSET_PROP] == before_offset
        assert engine.read("tix").count() == before_rows


def _index_rows(engine, name):
    """An index's rows without the meta columns, sorted: two indexes
    folded at different instants compare equal."""
    from hudi_demo_spark.engine.text_index import _META

    return sorted(
        tuple(r) for r in engine.read(name).drop(*_META).collect()
    )


def _postings(engine, name="tix"):
    return sorted(
        tuple(r)
        for r in engine.read(name).select("term", "doc_id", "tf", "dl").collect()
    )


def test_insert_only_refresh_appends(engine, spark):
    """An insert-only window is a plain append: no existing posting file
    is rewritten, and the index still matches the batch operator."""
    engine.create_table("docs", record_key="doc_id")
    engine.insert(_mk(spark, DOCS[:3]), "docs")
    create_text_index(engine, "docs", "tix", "doc_id", "text", buckets=4)
    first = refresh_text_index(engine, "tix")
    engine.insert(_mk(spark, DOCS[3:]), "docs")
    second = refresh_text_index(engine, "tix")
    assert [first["operation"], second["operation"]] == ["insert", "insert"]
    assert first["files_removed"] == [] and second["files_removed"] == []
    assert _index_topk(engine, ["data", "hash"]) == _batch_topk(
        engine, ["data", "hash"]
    )


@pytest.mark.parametrize("later_insert", [False, True])
def test_crash_replay_appends_once(engine, spark, monkeypatch, later_insert):
    """A refresh that dies after its append commits but before the
    offset and stats are saved is replayed by the next refresh: the
    append is not repeated and the stats are folded exactly once — also
    when the source took more commits before the replay (the replay
    settles just the crashed window; the next refresh folds the rest).
    Postings and stats equal those of one clean refresh."""
    import hudi_demo_spark.engine.text_index as tix
    from hudi_demo_spark.engine.timeline import Timeline

    engine.create_table("docs", record_key="doc_id")
    engine.insert(_mk(spark, DOCS[:2]), "docs")
    create_text_index(engine, "docs", "tix", "doc_id", "text", buckets=4)
    create_text_index(engine, "docs", "ref", "doc_id", "text", buckets=4)
    refresh_text_index(engine, "tix")
    engine.insert(_mk(spark, DOCS[2:4]), "docs")
    real, crashed = tix._save_props, []

    def crash_once(*a, **k):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("died after the index commit")
        return real(*a, **k)

    monkeypatch.setattr(tix, "_save_props", crash_once)
    with pytest.raises(RuntimeError, match="died"):
        refresh_text_index(engine, "tix")
    monkeypatch.undo()
    commits = len(Timeline(engine._resolve("tix").path).instants())
    assert commits == 2  # the crashed window's append did commit
    if later_insert:
        engine.insert(_mk(spark, DOCS[4:]), "docs")
    assert refresh_text_index(engine, "tix") is None  # the replay
    assert len(Timeline(engine._resolve("tix").path).instants()) == commits
    if later_insert:
        assert refresh_text_index(engine, "tix")["files_removed"] == []
    assert refresh_text_index(engine, "tix") is None
    refresh_text_index(engine, "ref")
    assert _postings(engine) == _postings(engine, "ref")
    assert tix._stats(engine._resolve("tix")) == tix._stats(
        engine._resolve("ref")
    )


def test_append_rounds_stay_bounded_by_inline_clustering(engine, spark):
    """Eight insert + refresh rounds on a 16-bucket index: appends add
    a file per touched bucket per round, and the inline clustering the
    index turns on at create time (every 4 commits, on `term`) keeps
    the files per bucket at 5 or fewer. Search equals the batch
    operator every round, across the cluster boundaries."""
    import random
    from collections import Counter

    from hudi_demo_spark.engine.timeline import Timeline
    from hudi_demo_spark.operators.text import bm25_topk

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]

    def docs(lo, hi):
        return _mk(
            spark,
            [(i, " ".join(rng.choices(vocab, k=8))) for i in range(lo, hi)],
        )

    engine.create_table("docs", record_key="doc_id")
    engine.insert(docs(0, 200), "docs")
    create_text_index(engine, "docs", "tix", "doc_id", "text", buckets=16)
    refresh_text_index(engine, "tix")
    tl = Timeline(engine._resolve("tix").path)
    for rnd in range(8):
        lo = 200 + 40 * rnd
        engine.insert(docs(lo, lo + 40), "docs")
        assert refresh_text_index(engine, "tix")["files_removed"] == []
        per_bucket = Counter(m["partition"] for m in tl.live_files().values())
        assert max(per_bucket.values()) <= 5, (rnd, per_bucket)
        terms = rng.sample(vocab, 3)
        queries = spark.createDataFrame(
            [(0, terms)], "query_id int, terms array<string>"
        )
        want = sorted(
            (r["doc_id"], r["bm25"], r["rank"])
            for r in bm25_topk(
                engine.read("docs").select("doc_id", "text"), queries,
                "doc_id", "text", "query_id", "terms", k=10,
            ).collect()
        )
        got = sorted(
            tuple(r) for r in text_index_search(engine, "tix", terms).collect()
        )
        assert got == want, (rnd, terms)
    ops = [m["operation"] for m in tl.instants()]
    assert ops.count("cluster") == 2 and ops[-1] == "insert"


def test_insert_only_refresh_job_budget(engine, spark, monkeypatch):
    """One insert-only refresh of a 40-doc window (a 16-bucket index over
    200 docs, below the inline-clustering cadence) runs 1 Spark job for
    each index on the driver route: the append's write. The Spark route
    (the cut at zero, the plan every fold ran before the driver route)
    runs at most 3 for the MinHash index and 6 for the text index. The
    upsert fold they replaced took 6 and 9: it tagged and rewrote every
    touched bucket file."""
    import hudi_demo_spark.engine.engine as E
    from hudi_demo_spark.engine.minhash_index import (
        create_minhash_index,
        refresh_minhash_index,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa"]

    def docs(ids):
        return _mk(spark, [
            (i, " ".join(words[(i * k) % 10] for k in range(1, 9)) + f" d{i}")
            for i in ids
        ])

    engine.create_table("docs", record_key="doc_id")
    engine.insert(docs(range(200)), "docs")
    for route in ("driver", "spark"):
        create_minhash_index(engine, "docs", f"mh_{route}", "doc_id", "text")
        create_text_index(engine, "docs", f"tix_{route}", "doc_id", "text")
        refresh_minhash_index(engine, f"mh_{route}")
        refresh_text_index(engine, f"tix_{route}")
    engine.insert(docs(range(200, 240)), "docs")
    sc = spark.sparkContext
    for route, budgets in (("driver", (1, 1)), ("spark", (3, 6))):
        if route == "spark":
            monkeypatch.setattr(E, "_SMALL_READ_CUT", (0, 0))
        for name, refresh, budget in zip(
            (f"mh_{route}", f"tix_{route}"),
            (refresh_minhash_index, refresh_text_index),
            budgets,
        ):
            group = f"test_text_index:refresh_{name}"
            sc.setJobGroup(group, "insert-only refresh")
            try:
                meta = refresh(engine, name)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert len(jobs) <= budget, (name, len(jobs))
            assert meta["files_removed"] == []
    for kind in ("mh", "tix"):
        assert _index_rows(engine, f"{kind}_driver") == _index_rows(
            engine, f"{kind}_spark"
        )


def test_xxhash64_py_matches_spark(spark):
    """The driver-side bucket twin must be bit-equal to F.xxhash64 for
    any term — search pruning reads exactly the partitions the producer
    wrote. Covers every tail-length branch (0..32+ bytes) and
    multi-byte UTF-8."""
    from pyspark.sql import functions as F

    from hudi_demo_spark.functions.hashfn import xxhash64_py

    terms = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "abcdefghi", "0123456789abcdef", "0123456789abcdef0123456789abcde",
        "0123456789abcdef0123456789abcdef",
        "0123456789abcdef0123456789abcdefX",
        "the quick brown fox jumps over the lazy dog and keeps running",
        "naïve café – ünïcödé ✓ 你好 мир",
        "zq", "term_0042",
    ]
    df = spark.createDataFrame([(t,) for t in terms], "t string")
    got = {
        r["t"]: (r["h"], r["b"])
        for r in df.select(
            "t",
            F.xxhash64("t").alias("h"),
            F.pmod(F.xxhash64("t"), F.lit(16)).cast("int").alias("b"),
        ).collect()
    }
    for t in terms:
        h = xxhash64_py(t)
        assert (h, h % 16) == got[t], t


def test_buckets_of_matches_bucket_expr(spark):
    from pyspark.sql import functions as F

    from hudi_demo_spark.engine.text_index import _bucket, _buckets_of

    terms = ["alpha", "beta", "gamma", "δέλτα", "z" * 40]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    want = sorted(
        {
            r["b"]
            for r in df.select(
                _bucket(F.col("term"), 7).alias("b")
            ).collect()
        }
    )
    assert _buckets_of(terms, 7) == want


# ---------------------------------------------------------------------------
# driver-served search (Engine._read_small): same rows as the Spark route
# ---------------------------------------------------------------------------

def _dml_window(engine, spark):
    """A DML refresh window on top of `_setup`: changed docs re-derive
    and vanished (term, doc) postings are tombstoned in one upsert."""
    _setup(engine, spark)
    engine.update(
        "docs", set={"text": F.lit("join engines win")}, where="doc_id = 2"
    )
    engine.delete("docs", "doc_id = 6")
    engine.insert(_mk(spark, [(7, "hash data streams")]), "docs")
    assert refresh_text_index(engine, "tix") is not None


@pytest.mark.parametrize("state", ["appended", "clustered", "dml_window"])
def test_driver_search_matches_spark_route(engine, spark, read_routes,
                                           state):
    """The driver route returns the Spark route's rows, bit for bit,
    and its schema, on a never-clustered index, a clustered one and
    one after a DML window with tombstones."""
    if state == "dml_window":
        _dml_window(engine, spark)
    else:
        _setup(engine, spark)
    if state == "clustered":
        cluster_text_index(engine, "tix")
    for terms, k in ((["data", "hash"], 10), (["spark"], 2),
                     (["vector", "streams", "join", "nope"], 3),
                     (["nope"], 10)):
        d, s = read_routes(
            engine, lambda: text_index_search(engine, "tix", terms, k=k)
        )
        assert d.schema == s.schema, terms
        assert [tuple(r) for r in d.collect()] == [
            tuple(r) for r in s.orderBy("rank").collect()
        ], terms


def test_driver_search_reads_the_pruned_files(engine, spark, monkeypatch):
    """The driver route opens exactly the files the Spark route scans
    (its `inputFiles()`), read from the same prune pass: 3 of the 6
    live files for this query on the appended 4-bucket index."""
    import pyarrow.parquet as pq

    from hudi_demo_spark.engine.text_index import _buckets_of
    from hudi_demo_spark.engine.timeline import Timeline

    _setup(engine, spark)
    terms = ["data", "hash", "spark"]
    opened = []
    orig = pq.read_table
    monkeypatch.setattr(
        pq, "read_table", lambda src, **k: opened.extend(src) or orig(src, **k)
    )
    res = text_index_search(engine, "tix", terms)
    assert res.inputFiles() == []  # a LocalRelation scans no file
    tbs = _buckets_of(terms, 4)
    scanned = engine.read(
        "tix", where=f"{_TB_COL} IN ({','.join(map(str, tbs))})",
        point_filter=("term", terms),
    ).inputFiles()
    names = sorted(p.rsplit("/", 1)[-1] for p in opened)
    assert names == sorted(p.rsplit("/", 1)[-1] for p in scanned)
    live = Timeline(engine._resolve("tix").path).live_files()
    assert (len(names), len(live)) == (3, 6)


def test_driver_search_runs_no_job(engine, spark):
    """A driver-served search, collect included, runs no Spark job
    (the Spark route runs 4)."""
    _setup(engine, spark)
    text_index_search(engine, "tix", ["data"]).collect()  # warm
    sc = spark.sparkContext
    group = "driver-search-jobs"
    sc.setJobGroup(group, "driver search")
    try:
        got = text_index_search(engine, "tix", ["data", "hash"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_driver_search_equals_bm25_topk_on_random_queries(engine, spark,
                                                          monkeypatch):
    """60 seeded queries of 1-4 terms (some unknown to the corpus) over
    an appended and partly clustered index: every driver-served result
    equals operators/text.bm25_topk over the snapshot, ranks included."""
    import random

    from hudi_demo_spark.operators.text import bm25_topk

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(50)]

    def docs(lo, hi):
        return _mk(spark, [
            (i, " ".join(rng.choices(vocab, k=rng.randrange(1, 12))))
            for i in range(lo, hi)
        ])

    engine.create_table("docs", record_key="doc_id")
    engine.insert(docs(0, 120), "docs")
    create_text_index(engine, "docs", "tix", "doc_id", "text", buckets=8)
    refresh_text_index(engine, "tix")
    cluster_text_index(engine, "tix")
    for lo in (120, 150):
        engine.insert(docs(lo, lo + 30), "docs")
        refresh_text_index(engine, "tix")
    queries = [
        rng.sample(vocab + ["zz1", "zz2"], rng.randrange(1, 5))
        for _ in range(60)
    ]
    want: dict = {}
    for r in bm25_topk(
        engine.read("docs").select("doc_id", "text"),
        spark.createDataFrame(list(enumerate(queries)),
                              "query_id int, terms array<string>"),
        "doc_id", "text", "query_id", "terms", k=10,
    ).collect():
        want.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["bm25"], r["rank"])
        )
    served = []
    orig = engine._read_small
    monkeypatch.setattr(
        engine, "_read_small",
        lambda *a, **k: served.append(orig(*a, **k)) or served[-1],
    )
    for qid, terms in enumerate(queries):
        got = sorted(
            tuple(r) for r in text_index_search(engine, "tix", terms).collect()
        )
        assert got == sorted(want.get(qid, [])), terms
    assert len(served) == 60 and all(t is not None for t in served)


def test_round_half_up_matches_spark_round(spark):
    """The driver route's rounding twin equals F.round(x, 4) bit for bit
    on 150k doubles: 50k exact decimal ties (`…5` in the fifth
    place), 50k random scores in the BM25 range and 50k of random
    magnitude, through Spark's generated code."""
    import random
    import struct

    from hudi_demo_spark.engine.text_index import _round_half_up
    from hudi_demo_spark.operators.util import rows_df

    rng = random.Random(5)
    xs = [float(f"{rng.randrange(40)}.{rng.randrange(10_000):04d}5")
          for _ in range(50_000)]
    xs += [rng.uniform(0.0, 40.0) for _ in range(50_000)]
    xs += [rng.random() * 10.0 ** rng.randrange(-8, 15)
           for _ in range(50_000)]
    df = rows_df(spark, [(i, x) for i, x in enumerate(xs)],
                 "i int, x double")
    got = {
        r["i"]: r["r"]
        for r in df.select("i", F.round("x", 4).alias("r")).collect()
    }

    def bits(v):
        return struct.pack(">d", v)

    bad = [x for i, x in enumerate(xs)
           if bits(_round_half_up(x, 4)) != bits(got[i])]
    assert not bad, bad[:5]


# ---------------------------------------------------------------------------
# driver-served insert-only folds (derived._window_rows): same index as the
# Spark route
# ---------------------------------------------------------------------------

FOLD_DOCS = [
    (1, None),                                   # null text: no postings
    (2, ""),
    (3, " \t\n\r\x0b\x0c "),                     # Java \s only
    (4, "a\u00a0b c\u2003d e\x1cf g h"),    # NBSP, U+2003, \x1c: not Java \s
    (5, "data data data hash data hash"),        # repeated terms
    (6, "two words"),                            # <3 tokens: no shingles
    (7, "naïve café ünïcödé 你好 мир naïve café"),  # multi-byte UTF-8
    (8, "spark streams data and more data over spark"),
    (9, "x"),
]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_driver_fold_matches_spark_route(engine, spark, read_routes, ansi):
    """An insert-only fold served on the driver writes the Spark
    route's index rows, bit for bit, with its schema, and folds the
    same `textindex.n_docs` / `sum_dl`, for the bootstrap window and
    an incremental one, over texts that split differently under
    Java's and Python's whitespace classes. With ANSI off, Spark's
    legacy `size(null)` is -1, and a null text subtracts one token."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        stats = _fold_differential(engine, spark, read_routes)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    # 29 tokens in all (docs 4-9: 5 + 6 + 2 + 7 + 8 + 1)
    assert stats == (len(FOLD_DOCS), 29 if ansi == "true" else 28)


def _fold_differential(engine, spark, read_routes):
    """Fold FOLD_DOCS in two windows into a driver-route and a
    Spark-route pair of indexes, assert them equal, and return the
    text index stats."""
    from hudi_demo_spark.engine import minhash_index as mh
    from hudi_demo_spark.engine.text_index import _stats

    engine.create_table("docs", record_key="doc_id")
    for route in ("d", "s"):
        create_text_index(engine, "docs", f"tix_{route}", "doc_id", "text",
                          buckets=4)
        mh.create_minhash_index(engine, "docs", f"mh_{route}", "doc_id",
                                "text", num_hashes=16, bands=4)
    for rows in (FOLD_DOCS[:5], FOLD_DOCS[5:]):
        engine.insert(_mk(spark, rows), "docs")
        routes = iter("ds")

        def fold():
            route = next(routes)
            for name, refresh in ((f"tix_{route}", refresh_text_index),
                                  (f"mh_{route}", mh.refresh_minhash_index)):
                assert refresh(engine, name)["files_removed"] == []
            return route

        read_routes(engine, fold)
        for kind in ("tix", "mh"):
            d, s = f"{kind}_d", f"{kind}_s"
            assert engine.read(d).schema == engine.read(s).schema
            assert _index_rows(engine, d) == _index_rows(engine, s), kind
        assert _stats(engine._resolve("tix_d")) == _stats(
            engine._resolve("tix_s")
        )
    terms = {r[0] for r in _index_rows(engine, "tix_d")}
    assert {"a\u00a0b", "c\u2003d", "e\x1cf", "naïve"} <= terms
    return _stats(engine._resolve("tix_d"))
