"""Incrementally-maintained BM25 TEXT INDEX — full-text relevance as a
derived table (the retrieval-serving counterpart that minhash_index.py
is for near-dup candidates and vector_index.py is for ANN).

`operators/text.bm25_score/bm25_topk` re-tokenize the whole corpus per
query: fine for one-shot curation, wrong for a serving corpus that
ingests continuously — at 100 TB, re-exploding petabytes of text to ask
"which docs match these terms?" is the cost this module removes. The
classic inverted-index shape is materialized as an engine table
maintained by the same incremental machinery as the other indexes:

- ONE ROW PER POSTING (term, doc): (term, id, tf, dl) keyed
  (term, id) and hash-partitioned by term bucket ``tb`` — a query's
  terms map to a bounded set of partitions, so search reads the
  colliding buckets (and, after `cluster_text_index`, the colliding
  FILES via term col-stats), never the corpus and never the whole
  index;
- the corpus-wide BM25 statistics (N docs, Σ doc length) live in the
  index TABLE PROPS — two integers folded per refresh from the
  window's delta, the Lucene-segment-metadata analog — so no query
  ever scans a doc-length table to learn `avgdl`;
- insert-only source windows tokenize JUST the delta (one map-side
  explode + one (term, id) count — never the corpus) and APPEND its
  postings (`derived._append_fold`: no existing file is rewritten);
  inline clustering on `term` every 4 commits keeps the appended files
  per bucket bounded and restores the term col-stats search prunes
  by. An index created before appends carries no `cluster.inline`
  prop and grows one file per touched bucket per refresh until
  `cluster_text_index` runs;
- windows with DML route through ``read_cdc(images="both")``: fresh
  postings re-tokenize the after-images, STALE postings are the
  before−after term difference per changed doc (soft-delete
  tombstones in the SAME upsert — admission and eviction are one
  atomic commit), and the scalar stats fold the image dl diffs.
  Everything is bounded by the changed rows. This is the documented
  `read_cdc` niche (`Engine.changed_keys` serves refreshes that need
  only WHICH ids moved; posting eviction needs the before IMAGE to
  name the vanished (term, doc) keys without rescanning the index).
- `text_index_search` tokenizes the query driver-side, prunes the
  read by the terms' buckets + per-file term stats, derives df(term)
  from the pruned postings and scores
  ``Σ idf(df, N) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))``
  per doc — the exact Lucene-idf formula and rounding of
  `operators/text.bm25_score`, so the same DuckDB oracle family
  replays it bit-for-bit.

Reference parity note: composes the engine's derived-table machinery
(engine/derived.py) with the BM25 family (operators/text.py:288) —
the serving-shape counterpart of the `text_bm25_relevance` query, as
minhash_index.py is for `dedup_minhash_lsh`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hudi_demo_spark.engine.config import (
    COMMIT_TIME_META,
    DELETED_META,
    PARTITION_PATH_META,
    RECORD_KEY_META,
)
from hudi_demo_spark.engine.derived import (
    _OFFSET_PROP,
    _append_cluster,
    _append_fold,
    _refresh_window,
    _save_props,
)
from hudi_demo_spark.functions.hashfn import xxhash64_py
from hudi_demo_spark.functions.textfn import tokens
from hudi_demo_spark.operators.util import rows_df as _rows_df

_TB_COL = "tb"
_META = [RECORD_KEY_META, PARTITION_PATH_META, COMMIT_TIME_META]

# Past this many (query, term) rows, `text_index_topk` stops collecting
# the batch's terms to the driver for bucket/col-stats pruning and joins
# the unpruned index with a shuffled (non-broadcast) join instead — the
# same cap discipline as minhash_index._PROBE_COLLECT_CAP: a batch whose
# distinct terms approach the vocabulary would keep most buckets anyway,
# and a driver collect/broadcast of it is the actual scale hazard.
_TOPK_COLLECT_CAP = 50_000


def _bucket(term_col, buckets: int):
    """Deterministic term → partition bucket (xxhash64 is stable across
    Spark versions and sessions; the query path recomputes it with the
    same expression, so producer and prober can never disagree)."""
    return F.pmod(F.xxhash64(term_col), F.lit(buckets)).cast("int")


def _buckets_of(terms, buckets: int) -> list[int]:
    """Driver-side twin of `_bucket` for a handful of query terms:
    `xxhash64_py` is bit-equal to F.xxhash64 (pytest-pinned), so the
    probe's bucket set matches the producer's without launching a
    createDataFrame+collect Spark job per search."""
    return sorted({xxhash64_py(t) % buckets for t in terms})


def postings(
    df: DataFrame, id_col: str, text_col: str, buckets: int
) -> DataFrame:
    """(term, id, tb, tf, dl) posting rows of `df` — one map-side
    explode of whitespace tokens + ONE (term, id) count shuffle. Docs
    with no tokens produce no postings (they still count toward the
    corpus stats, which fold from the doc rows, not from here)."""
    base = df.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("dl"),
        F.explode(tokens(text_col)).alias("term"),
    )
    return (
        base.groupBy("term", id_col, "dl")
        .agg(F.count("*").cast("long").alias("tf"))
        .select(
            "term",
            id_col,
            _bucket(F.col("term"), buckets).alias(_TB_COL),
            "tf",
            F.col("dl").cast("long").alias("dl"),
        )
    )


def create_text_index(
    engine,
    source: str,
    name: str,
    id_col: str,
    text_col: str,
    buckets: int = 16,
):
    """Define `name` as an incrementally-maintained BM25 inverted index
    over `source`.`text_col`. Keyed (term, id) and partitioned by term
    bucket; `buckets` is pinned at create time (re-bucketing is a new
    index, as with any hash layout). The corpus stats start at zero and
    fold forward with every refresh."""
    src_cfg = engine._resolve(source)
    # the CDC refresh joins image rows back by the source record key —
    # same single-column key contract as the minhash/vector indexes
    if src_cfg.record_key_fields != [id_col]:
        raise ValueError(
            "text index requires the source record key to be exactly "
            f"[{id_col!r}]; got {src_cfg.record_key_fields!r}"
        )
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    return engine.create_table(
        name,
        record_key=["term", id_col],
        partition_by=_TB_COL,
        props={
            "textindex.source": source,
            "textindex.id_col": id_col,
            "textindex.text_col": text_col,
            "textindex.buckets": str(buckets),
            "textindex.n_docs": "0",
            "textindex.sum_dl": "0",
            **_append_cluster(["term"]),
        },
    )


def _params(cfg) -> tuple[str, str, int]:
    return (
        cfg.props["textindex.id_col"],
        cfg.props["textindex.text_col"],
        int(cfg.props["textindex.buckets"]),
    )


def _stats(cfg) -> tuple[int, int]:
    return (
        int(cfg.props.get("textindex.n_docs", "0")),
        int(cfg.props.get("textindex.sum_dl", "0")),
    )


def _bump_stats(engine, name: str, dn: int, ds: int, end: str) -> None:
    """Fold the window's (Δdocs, Δtokens) into the scalar stats and
    advance the refresh offset in ONE props write — a torn state where
    the offset moved but the stats did not (or vice versa) can never be
    observed by the next refresh."""
    cfg = engine._resolve(name)
    n, s = _stats(cfg)
    _save_props(
        engine,
        name,
        {
            "textindex.n_docs": str(n + dn),
            "textindex.sum_dl": str(s + ds),
            _OFFSET_PROP: end,
        },
    )


def refresh_text_index(engine, name: str) -> dict | None:
    """Fold source commits since the last refresh into the index.
    Insert-only windows tokenize just the delta and append its
    postings; windows with DML re-derive exactly the changed docs from
    their CDC images and tombstone vanished (term, doc) postings in the
    same upsert. Returns the commit meta, or None when the source has
    no new data commits (or the window's DML nets out to no image rows,
    or the window's append already committed — its stats are folded
    then, since they are saved with the offset the replay advances)."""
    cfg = engine._resolve(name)
    source = cfg.props["textindex.source"]
    id_col, text_col, buckets = _params(cfg)
    win = _refresh_window(engine, name, cfg, source, appends=True)
    if win is None:
        return None
    begin, end, mutated, folded = win
    if not mutated:
        # persisted: feeds the postings append AND the scalar fold —
        # uncached, the incremental read would run twice
        delta = (
            engine.read_incremental(source, begin=begin, end=end)
            .select(id_col, text_col)
            .persist()
        )
        # stats aggregate FIRST (it also populates the persist cache
        # the append then reuses). The source's engine.insert is a
        # plain append with NO key dedup (Hudi's INSERT op semantics),
        # and so is the fold: a duplicate-id window would land twin
        # (term, id) postings AND permanently skew the folded scalars.
        # The indexed-source contract is unique ids (create_text_index
        # already pins the key shape); enforce the in-window half of it
        # in the SAME aggregate that folds the stats — zero extra jobs
        # — and abort BEFORE anything is committed to the index. A
        # replayed window runs this too: its stats were not saved.
        row = delta.agg(
            F.count("*").alias("n"),
            F.count_distinct(F.col(id_col)).alias("d"),
            F.coalesce(F.sum(F.size(tokens(text_col))), F.lit(0)).alias("s"),
        ).collect()[0]
        if int(row["n"]) != int(row["d"]):
            delta.unpersist()
            raise ValueError(
                f"text index {name!r}: refresh window inserted "
                f"{int(row['n']) - int(row['d'])} duplicate "
                f"{id_col!r} value(s) into source {source!r} — indexed "
                "sources must hold one row per id (use upsert, not "
                "insert, for re-ingested docs); the refresh was "
                "aborted before any posting or stat was written"
            )
        out = _append_fold(
            engine,
            name,
            postings(delta, id_col, text_col, buckets),
            end,
            folded,
        )
        delta.unpersist()
        _bump_stats(engine, name, int(row["n"]), int(row["s"]), end)
        return out
    # DML window: the before/after IMAGES of exactly the changed rows —
    # fresh postings, vanished-posting tombstones and the stats deltas
    # all derive from this one pruned read (persisted: four consumers)
    cdc = engine.read_cdc(
        source, begin=begin, end=end, images="both"
    ).persist()
    if not cdc.take(1):
        cdc.unpersist()
        _save_props(engine, name, {_OFFSET_PROP: end})
        return None
    after = cdc.filter(F.col("after").isNotNull()).select(
        F.col(f"after.{id_col}").alias(id_col),
        F.col(f"after.{text_col}").alias(text_col),
    )
    # persisted: feeds the upsert AND the vanished-terms anti-join
    fresh = postings(after, id_col, text_col, buckets).persist()
    before = cdc.filter(F.col("before").isNotNull()).select(
        F.col(f"before.{id_col}").alias(id_col),
        F.col(f"before.{text_col}").alias(text_col),
    )
    old_terms = before.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).distinct()
    # a changed doc's stale postings are its before−after term set:
    # re-written terms are simply overwritten by `fresh` (new tf/dl),
    # so tombstones and fresh rows are key-disjoint BY CONSTRUCTION —
    # the one-commit soft-delete convention every index here uses
    dead = (
        old_terms.join(fresh.select("term", id_col), ["term", id_col],
                       "left_anti")
        .withColumn(_TB_COL, _bucket(F.col("term"), buckets))
        .withColumn(DELETED_META, F.lit(True))
    )
    payload = fresh.unionByName(dead, allowMissingColumns=True)
    out = engine.upsert(payload, name)
    fresh.unpersist()
    row = cdc.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("after").isNotNull() & F.col("before").isNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("ins"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("before").isNotNull() & F.col("after").isNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("dels"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("after").isNotNull(),
                    F.size(tokens(F.col(f"after.{text_col}"))),
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("asum"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("before").isNotNull(),
                    F.size(tokens(F.col(f"before.{text_col}"))),
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("bsum"),
    ).collect()[0]
    cdc.unpersist()
    _bump_stats(
        engine,
        name,
        int(row["ins"]) - int(row["dels"]),
        int(row["asum"]) - int(row["bsum"]),
        end,
    )
    return out


def cluster_text_index(engine, name: str) -> dict:
    """Range-cluster each bucket partition on `term` so per-file
    col-stats carry tight term ranges — the step that turns 'scan the
    colliding buckets' into 'read the colliding FILES'."""
    return engine.cluster(name, ["term"])


def text_index_search(
    engine,
    name: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> DataFrame:
    """(id, bm25, rank): top-k BM25 retrieval served FROM the index.
    The read prunes to the query terms' bucket partitions (+ term
    col-stats after clustering); df(term) aggregates over those pruned
    postings; N and avgdl come from the maintained scalars — the query
    never touches the corpus, a doc-length table, or non-colliding
    postings. Scores round to `round_to` BEFORE ranking (ties then
    break on id ascending), exactly like `operators/text.bm25_topk`."""
    cfg = engine._resolve(name)
    id_col, _, buckets = _params(cfg)
    q = sorted(set(query_terms))
    if not q:
        raise ValueError("text_index_search needs at least one query term")
    n_docs, sum_dl = _stats(cfg)
    if n_docs <= 0:
        raise ValueError(f"text index {name!r} is empty — refresh it first")
    # the terms' buckets, computed driver-side with the bit-equal twin
    # of the index's bucket expr (no Spark job for a pure function of
    # a few query literals)
    tbs = _buckets_of(q, buckets)
    idx = engine.read(
        name,
        where=f"{_TB_COL} IN ({','.join(str(t) for t in tbs)})",
        point_filter=("term", q),
    )
    dfreq = idx.groupBy("term").agg(F.count("*").alias("__df"))
    avgdl = float(sum_dl) / float(n_docs)
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    scored = (
        idx.join(F.broadcast(dfreq), "term")
        .withColumn("__s", idf * F.col("tf") * F.lit(k1 + 1.0) / denom)
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), round_to).alias("bm25"))
    )
    # distributed top-k (TakeOrdered) FIRST, then rank the k survivors —
    # a global row_number over every matched doc would funnel a common
    # term's whole posting list through one partition
    top = scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(id_col, "bm25", "rank")
    )


def text_index_topk(
    engine,
    name: str,
    queries: DataFrame,
    query_id_col: str,
    query_terms_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> DataFrame:
    """(query_id, id, bm25, rank): top-k retrieval for a whole TABLE of
    queries (query_id, array<string> terms) served FROM the index —
    the batch-search join `operators/text.bm25_topk` runs against raw
    text, re-expressed over the maintained postings. The index read
    prunes to the UNION of all queries' terms (their buckets + term
    col-stats); df(term) aggregates once over those pruned postings and
    is shared by every query mentioning the term; per-query scores
    aggregate on (query_id, doc) and top-k is one window PARTITIONED by
    query — parallel across queries, so a batch of thousands of
    retrieval queries costs one pruned index scan, not one per query.
    Ties break (bm25 desc, id asc) after rounding, like bm25_topk."""
    cfg = engine._resolve(name)
    id_col, _, buckets = _params(cfg)
    n_docs, sum_dl = _stats(cfg)
    if n_docs <= 0:
        raise ValueError(f"text index {name!r} is empty — refresh it first")
    qterms = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.explode(query_terms_col).alias("term"),
    ).distinct()
    # The cap decision must be cheaper than the thing it caps: Σ|terms|
    # over the query table is an exact upper bound on qterms' row count
    # (terms is already an array column — no tokenize, no explode, one
    # thin-column aggregate), so a vocabulary-sized query batch is
    # detected without ever materializing its term set driver-side.
    bound = int(
        queries.agg(
            F.coalesce(
                F.sum(F.size(F.col(query_terms_col))), F.lit(0)
            ).alias("n")
        ).collect()[0]["n"]
    )
    if bound <= _TOPK_COLLECT_CAP:
        # bounded collect (the common case — retrieval batches are the
        # small side, as in bm25_topk / the ANN cell probe): ONE pass
        # over qterms yields the prune term set AND a local relation
        # for the broadcast join, so a derived query table's lineage
        # never re-executes inside the join
        head = qterms.collect()
        # few-slice RDD relation (rows_df), deliberately NOT a VALUES
        # LocalRelation — same A/B finding as minhash_probe:
        # string-heavy literal trees cost more in per-action constant
        # folding than the tiny RDD scan
        qterms = _rows_df(engine.spark, head, qterms.schema)
        terms = sorted(
            {r["term"] for r in head if r["term"] is not None}
        )
        if not terms:
            raise ValueError(
                "text_index_topk needs at least one query term"
            )
        tbs = _buckets_of(terms, buckets)
        idx = engine.read(
            name,
            where=f"{_TB_COL} IN ({','.join(str(t) for t in tbs)})",
            point_filter=("term", terms),
        )
        qside = F.broadcast(qterms)
        dfreq = idx.groupBy("term").agg(F.count("*").alias("__df"))
        dfside = F.broadcast(dfreq)
    else:
        # over the cap: no driver collect, no broadcast — restrict the
        # index to matching terms with a shuffled semi-join (df(term)
        # still aggregates over ALL postings of each surviving term,
        # so scores are identical to the pruned path) and let both
        # joins shuffle on term; AQE handles the stop-word skew
        idx = engine.read(name).join(
            qterms.select("term").distinct(), "term", "left_semi"
        )
        qside = qterms
        dfreq = idx.groupBy("term").agg(F.count("*").alias("__df"))
        dfside = dfreq
    avgdl = float(sum_dl) / float(n_docs)
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    scored = (
        idx.join(dfside, "term")
        .join(qside, "term")
        .withColumn("__s", idf * F.col("tf") * F.lit(k1 + 1.0) / denom)
        .groupBy("__qid", id_col)
        .agg(F.round(F.sum("__s"), round_to).alias("bm25"))
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("__qid").alias(query_id_col), id_col, "bm25", "rank")
    )
