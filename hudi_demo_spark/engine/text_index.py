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
- insert-only source windows tokenize JUST the delta — never the
  corpus — and APPEND its postings (`derived._append_fold`: no
  existing file is rewritten). A window of a few small base files is
  read and tokenized on the driver (`derived._window_rows` +
  `_fold_local`), so the append's write is the fold's one Spark job;
  past that cut the window takes one stats aggregate, one map-side
  explode and one (term, id) count shuffle. Inline clustering on
  `term` every 4 commits keeps the appended files per bucket bounded
  and restores the term col-stats search prunes by. An index created
  before appends carries no `cluster.inline` prop and grows one file
  per touched bucket per refresh until `cluster_text_index` runs;
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
  replays it bit-for-bit. When the pruned postings are a few small
  base files (`Engine._read_small`), the search reads them with
  pyarrow and scores on the driver: no Spark job, same results.

Reference parity note: composes the engine's derived-table machinery
(engine/derived.py) with the BM25 family (operators/text.py:288) —
the serving-shape counterpart of the `text_bm25_relevance` query, as
minhash_index.py is for `dedup_minhash_lsh`.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    _window_rows,
)
from hudi_demo_spark.functions.hashfn import xxhash64_py
from hudi_demo_spark.functions.textfn import tokens
from hudi_demo_spark.operators.dedup import _JAVA_WS
from hudi_demo_spark.operators.util import local_relation
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
# the driver search route's (df, tf, dl) score inputs, typed as the
# Spark route's columns (count(*) is a long; tf and dl are stored long)
_SCORE_IN = "__df long, tf long, dl long"


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


def _fold_local(engine, source: str, cfg, win) -> tuple:
    """The insert-only fold of a window read on the driver (`win`, a
    pyarrow (id, text) table): (rows, distinct non-null ids, Σ tokens,
    postings frame), the Spark route's stats aggregate and `postings`
    computed in-process. Tokens split on Java's `\\s` class
    (`_JAVA_WS`, as `tokens` does), terms bucket by `xxhash64_py`, and
    the postings are one slice, so the append writes one file per
    touched bucket and its only job. A null text has no postings and
    adds Spark's `size(null)` to the token sum: null (nothing) under
    ANSI, -1 under the legacy rule."""
    id_col, _, buckets = _params(cfg)
    ids, texts = (c.to_pylist() for c in win.columns)
    rows, total, tb = [], 0, {}
    for i, text in zip(ids, texts):
        if text is None:
            total += _size_of_null(engine.spark)
            continue
        toks = [t for t in _JAVA_WS.split(text) if t]
        total += len(toks)
        for term, tf in Counter(toks).items():
            if term not in tb:
                tb[term] = xxhash64_py(term) % buckets
            rows.append((term, i, tb[term], tf, len(toks)))
    id_type = engine._stored_schema(engine._resolve(source))[id_col].dataType
    payload = _rows_df(
        engine.spark,
        rows,
        T.StructType([
            T.StructField("term", T.StringType(), False),
            T.StructField(id_col, id_type),
            T.StructField(_TB_COL, T.IntegerType()),
            T.StructField("tf", T.LongType(), False),
            T.StructField("dl", T.LongType()),
        ]),
        rows_per_slice=len(rows) + 1,
    )
    distinct = len({i for i in ids if i is not None})
    return len(ids), distinct, total, payload


def _size_of_null(spark) -> int:
    """What Spark's `size` returns for a null array, as a summand: -1
    under `spark.sql.legacy.sizeOfNull` with ANSI off, else null (0)."""
    conf = spark.conf  # no default argument: that would mask Spark's
    legacy = conf.get("spark.sql.legacy.sizeOfNull") == "true"
    ansi = conf.get("spark.sql.ansi.enabled") == "true"
    return -1 if legacy and not ansi else 0


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
        # The source's engine.insert is a plain append with NO key dedup
        # (Hudi's INSERT op semantics), and so is the fold: a
        # duplicate-id window would land twin (term, id) postings AND
        # permanently skew the folded scalars. The indexed-source
        # contract is unique ids (create_text_index already pins the key
        # shape); enforce the in-window half of it with the stats fold
        # and abort BEFORE anything is committed to the index. A
        # replayed window runs this too: its stats were not saved.
        delta = None
        win = _window_rows(engine, source, begin, end, [id_col, text_col])
        if win is not None:
            n, d, s, payload = _fold_local(engine, source, cfg, win)
        else:
            # persisted: feeds the stats aggregate AND the postings
            # append — uncached, the incremental read would run twice
            delta = (
                engine.read_incremental(source, begin=begin, end=end)
                .select(id_col, text_col)
                .persist()
            )
            row = delta.agg(
                F.count("*").alias("n"),
                F.count_distinct(F.col(id_col)).alias("d"),
                F.coalesce(
                    F.sum(F.size(tokens(text_col))), F.lit(0)
                ).alias("s"),
            ).collect()[0]
            n, d, s = int(row["n"]), int(row["d"]), int(row["s"])
            payload = postings(delta, id_col, text_col, buckets)
        if n != d:
            if delta is not None:
                delta.unpersist()
            raise ValueError(
                f"text index {name!r}: refresh window inserted "
                f"{n - d} duplicate {id_col!r} value(s) into source "
                f"{source!r} — indexed sources must hold one row per id "
                "(use upsert, not insert, for re-ingested docs); the "
                "refresh was aborted before any posting or stat was "
                "written"
            )
        out = _append_fold(engine, name, payload, end, folded)
        if delta is not None:
            delta.unpersist()
        _bump_stats(engine, name, n, s, end)
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
    break on id ascending), exactly like `operators/text.bm25_topk`.

    A small pruned read (`Engine._read_small`) is served on the
    driver: the postings come back as a pyarrow table, scoring and the
    top-k run in-process (`_search_local`), and the result is a
    LocalRelation — no Spark job. Otherwise the same scoring runs as a
    Spark plan over the pruned files."""
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
    where = f"{_TB_COL} IN ({','.join(str(t) for t in tbs)})"
    score = _bm25(n_docs, sum_dl, k1, b)
    small = engine._read_small(
        cfg,
        engine._where_probes(cfg, where) + [("point", "term", q)],
        ["term", id_col, "tf", "dl"],
    )
    if small is not None:
        return _search_local(engine, cfg, small, score, k, round_to)
    idx = engine.read(name, where=where, point_filter=("term", q))
    dfreq = idx.groupBy("term").agg(F.count("*").alias("__df"))
    scored = (
        idx.join(F.broadcast(dfreq), "term")
        .withColumn("__s", score)
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


def _bm25(n_docs: int, sum_dl: int, k1: float, b: float):
    """One posting's BM25 term score over its (__df, tf, dl) columns:
    ``idf(df, N) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`` with the
    Lucene idf of `operators/text.bm25_score`. Both search routes and
    `text_index_topk` evaluate this one expression."""
    avgdl = float(sum_dl) / float(n_docs)
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    return idf * F.col("tf") * F.lit(k1 + 1.0) / denom


def _round_half_up(x: float, digits: int) -> float:
    """Driver twin of Spark's ``round(x, digits)`` on a double, which
    rounds the decimal ``Double.toString(x)`` prints HALF_UP. `repr`
    prints the shortest decimal that round-trips, so an exact ``…5``
    tie rounds up here too. Java's string may be longer before JDK 19,
    so the twin is pinned against F.round on 150k doubles, 50k exact
    ties among them, in the tests. Decimal's default 28 digits hold
    any score below 1e20 at 4 places."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP)
    )


def _search_local(engine, cfg, postings, score, k, round_to):
    """`text_index_search` on the driver over the pyarrow `postings`
    (term, id, tf, dl) of the pruned files, as a LocalRelation of the
    Spark route's schema. df(term) is counted here, and the score
    expression is evaluated over a LocalRelation of the distinct
    (df, tf, dl) triples: a projection over a LocalRelation is folded
    at plan time, so it runs no job and computes the idf `log` exactly
    as the Spark route does (Python's `math.log` differs from Java's
    StrictMath in the last bit on some inputs). Per-doc sums, rounding
    (`_round_half_up`) and the (bm25 desc, id asc) top-k follow."""
    id_col = _params(cfg)[0]
    keys = ["__df", "tf", "dl"]
    dfreq = postings.group_by("term").aggregate([("term", "count")])
    rows = postings.join(
        pa.table({"term": dfreq["term"], "__df": dfreq["term_count"]}),
        "term",
    )
    triples = rows.group_by(keys).aggregate([]).select(keys)
    scored = (
        local_relation(engine.spark, triples, _SCORE_IN)
        .select(*keys, score.alias("__s"))
        .collect()
    )
    scored = pa.Table.from_pylist(
        [r.asDict() for r in scored],
        triples.schema.append(pa.field("__s", pa.float64())),
    )
    # one thread: each doc's terms then sum in the same order every run
    docs = rows.join(scored, keys, use_threads=False).group_by(
        id_col, use_threads=False
    ).aggregate([("__s", "sum")])
    docs = docs.take(
        pc.sort_indices(docs, sort_keys=[("__s_sum", "descending")])
    )
    if docs.num_rows > k:
        # rounding is monotone: a doc whose sum lies a full rounding
        # unit below the k-th largest cannot round up to its score
        kth = _round_half_up(docs["__s_sum"][k - 1].as_py(), round_to)
        docs = docs.filter(
            pc.greater_equal(docs["__s_sum"], kth - 10.0 ** -round_to)
        )
    top = sorted(
        (
            (_round_half_up(s, round_to), i)
            for s, i in zip(
                docs["__s_sum"].to_pylist(), docs[id_col].to_pylist()
            )
        ),
        key=lambda r: (-r[0], r[1]),
    )[:k]
    return local_relation(
        engine.spark,
        [(i, s, n) for n, (s, i) in enumerate(top, 1)],
        T.StructType([
            T.StructField(
                id_col, engine._stored_schema(cfg)[id_col].dataType
            ),
            T.StructField("bm25", T.DoubleType()),
            T.StructField("rank", T.IntegerType(), False),
        ]),
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
        # few-slice RDD relation (rows_df); its broadcast build is a
        # job either way
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
    scored = (
        idx.join(dfside, "term")
        .join(qside, "term")
        .withColumn("__s", _bm25(n_docs, sum_dl, k1, b))
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
