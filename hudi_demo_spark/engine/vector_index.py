"""Incrementally-maintained VECTOR INDEX — an IVF index as a derived
table.

The ANN operators (`operators/similarity.py`) index a corpus per query
batch: fine for one-shot jobs, wrong for a serving table that ingests
continuously. This module materializes the IVF cell assignment as an
engine table so the index lives WITH the data and is maintained by the
same incremental machinery as rollups/filter views:

- the index table is keyed by the source's vector id and PARTITIONED BY
  CELL, so an ANN query that probes `n_probe` of `n_centroids` cells
  prunes to those partitions' files — search cost is
  n_probe/n_centroids of the corpus at any table size;
- insert-only source windows fold by assigning JUST the delta map-side
  against the literal centroids (no shuffle of the corpus, no re-read);
- source DML routes through the CDC read: changed ids are re-assigned
  from a key-pruned snapshot (a re-embedded vector MOVES cells via the
  index table's global index) and deleted ids leave the index;
- centroids are trained ONCE at create time and pinned in the table
  props (n_centroids × dim floats — bounded metadata). Retraining is a
  new index, as in any IVF deployment (Faiss IndexIVF shape).

This is the 100 TB serving shape: Spark maintains the cells
transactionally; queries read only probed partitions.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.window import Window

from hudi_demo_spark.engine.config import (
    COMMIT_TIME_META,
    DELETED_META,
    PARTITION_PATH_META,
    RECORD_KEY_META,
)
from hudi_demo_spark.engine.derived import (
    _OFFSET_PROP,
    _bounded_vals,
    _pruned_read,
    _refresh_window,
    _save_props,
)
from hudi_demo_spark.operators.util import rows_df as _rows_df
from hudi_demo_spark.operators.similarity import (
    cosine_similarity,
    ivf_assign,
    seed_centroids,
)

_CELL_COL = "cell"


def create_vector_index(
    engine,
    source: str,
    name: str,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    centroids: list[tuple[int, list[float]]] | None = None,
    pq_m: int | None = None,
    pq_codes: int = 16,
    pq_iters: int = 1,
    pq_sample_mod: int | None = None,
    codebooks: list | None = None,
):
    """Define `name` as an incrementally-maintained IVF index over
    `source`.`vec_col`. Centroids default to the deterministic seed
    sample of the CURRENT source snapshot (swap in `kmeans_fit`
    centroids via the `centroids` arg for production recall). The index
    table is partitioned by cell and keeps a GLOBAL index so a
    re-embedded vector moves cells instead of duplicating.

    With `pq_m`, the index ALSO stores each vector's product-
    quantization codes (`codes` array<int>, trained once at create
    time like the centroids) — the maintained-table form of Faiss
    IVFPQ: queries ADC-scan the probed cells over m small ints per
    vector and refine the shortlist at full precision, so serving IO
    is compressed AND partition-pruned."""
    from hudi_demo_spark.operators.similarity import pq_train

    src_cfg = engine._resolve(source)
    # refresh_vector_index derives dead ids by casting the source's
    # _hoodie_record_key back to id_col's type — only sound when the
    # record key IS exactly [id_col] (composite or different keys would
    # cast to null/wrong ids and silently diverge the index)
    if src_cfg.record_key_fields != [id_col]:
        raise ValueError(
            "vector index requires the source record key to be exactly "
            f"[{id_col!r}]; got {src_cfg.record_key_fields!r}"
        )
    if centroids is None:
        centroids = seed_centroids(
            engine.read(source), id_col, vec_col, n_centroids
        )
        if not centroids:
            raise ValueError(
                "no rows to seed centroids from — pass centroids explicitly"
            )
    props = {
        "vecindex.source": source,
        "vecindex.id_col": id_col,
        "vecindex.vec_col": vec_col,
        "vecindex.centroids": json.dumps(
            [[cid, list(map(float, v))] for cid, v in centroids]
        ),
        # a vector whose embedding changes must MOVE cell partitions
        "index.global": "true",
    }
    if pq_m:
        # like Faiss, a quantizer trained elsewhere (e.g. on a larger
        # representative corpus) can be installed directly via
        # `codebooks` instead of retraining here; `is not None` so an
        # explicitly-empty list errors instead of silently retraining
        if codebooks is not None:
            _validate_codebooks(
                codebooks, pq_m, len(centroids[0][1])
            )
            books = codebooks
        else:
            books = pq_train(
                engine.read(source), id_col, vec_col,
                m=pq_m, codes=pq_codes, iters=pq_iters,
                sample_mod=pq_sample_mod,
            )
        props["vecindex.codebooks"] = json.dumps(books)
    return engine.create_table(
        name,
        record_key=id_col,
        partition_by=_CELL_COL,
        props=props,
    )


def _validate_codebooks(books: list, pq_m: int, dim: int) -> None:
    """Pre-trained codebooks are persisted to table props at create time
    and only exercised at refresh/query — a shape mismatch there would
    mis-encode silently. Validate the Faiss-style invariants up front:
    codebooks[m][codes][dim/m] with m == pq_m, a uniform non-empty code
    count, and sub-vector width dividing the source vector dimension."""
    if len(books) != pq_m:
        raise ValueError(
            f"codebooks has {len(books)} subspaces, expected pq_m={pq_m}"
        )
    if dim % pq_m:
        raise ValueError(
            f"vector dim {dim} not divisible by pq_m={pq_m}"
        )
    sub = dim // pq_m
    n_codes = {len(b) for b in books}
    if len(n_codes) != 1 or 0 in n_codes:
        raise ValueError(
            f"codebooks must have one uniform non-empty code count per "
            f"subspace; got sizes {sorted(n_codes)}"
        )
    widths = {len(c) for b in books for c in b}
    if widths != {sub}:
        raise ValueError(
            f"codebook sub-vector widths {sorted(widths)} != dim/pq_m={sub}"
        )


def _centroids(cfg) -> list[tuple[int, list[float]]]:
    return [
        (int(cid), [float(x) for x in v])
        for cid, v in json.loads(cfg.props["vecindex.centroids"])
    ]


def _codebooks(cfg) -> list | None:
    raw = cfg.props.get("vecindex.codebooks")
    return json.loads(raw) if raw else None


def _pq_codes_expr(books: list, unit_col: str) -> F.Column:
    """Per-subspace nearest-code ids of a PRE-NORMALIZED double-array
    column (PQ trains/scores on unit vectors so squared-L2 ADC ordering
    is cosine ordering). The normalization must be materialized as its
    own column FIRST — inlined it would re-evaluate per code comparison
    (m×codes× per row). Pure map-side higher-order expression."""
    from hudi_demo_spark.operators.similarity import (
        _codebooks_lit,
        _pq_subdists,
    )

    m = len(books)
    sub = len(books[0][0])
    B = _codebooks_lit(books)

    def code_j(j):
        d = _pq_subdists(B, F.col(unit_col), j, sub)
        return (F.array_position(d, F.array_min(d)) - 1).cast("int")

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_j)


def _assign_cells(df: DataFrame, cfg) -> DataFrame:
    """(id, vec, cell[, codes]) for every row of `df` — pure map-side
    expression work against the literal centroid/codebook arrays (no
    join, no shuffle)."""
    from hudi_demo_spark.operators.similarity import _unit_vectors

    id_col = cfg.props["vecindex.id_col"]
    vec_col = cfg.props["vecindex.vec_col"]
    out = ivf_assign(
        df, _centroids(cfg), id_col, vec_col, n_probe=1
    ).select(
        id_col,
        F.col("__v").alias(vec_col),
        F.col("centroid_id").alias(_CELL_COL),
    )
    books = _codebooks(cfg)
    if books:
        out = _unit_vectors(
            out.withColumn("__uv", F.col(vec_col)), id_col, "__uv"
        )
        out = out.withColumn(
            "codes", _pq_codes_expr(books, "__uv")
        ).drop("__uv")
    return out


def refresh_vector_index(engine, name: str) -> dict | None:
    """Fold source commits since the last refresh into the index.
    Insert-only windows assign just the delta; windows with DML
    re-assign exactly the changed ids (key-pruned snapshot read) and
    delete ids that left the source. Returns the commit meta, or None
    when the source has no new data commits."""
    cfg = engine._resolve(name)
    source = cfg.props["vecindex.source"]
    meta_cols = [RECORD_KEY_META, PARTITION_PATH_META, COMMIT_TIME_META]
    win = _refresh_window(engine, name, cfg, source)
    if win is None:
        return None
    begin, end, mutated, _ = win
    if not mutated:
        delta = engine.read_incremental(source, begin=begin, end=end)
        out = engine.upsert(_assign_cells(delta.drop(*meta_cols), cfg), name)
        _save_props(engine, name, {_OFFSET_PROP: end})
        return out
    # changed_keys, not read_cdc: only WHICH keys moved is consumed —
    # a pruned (key, commit_time) diff scan, no full row images
    changed = engine.changed_keys(source, begin=begin, end=end).persist()
    vals = _bounded_vals(changed, RECORD_KEY_META)
    # _bounded_vals folds "empty" into None (its no-values return), so an
    # empty CDC window (e.g. an UPDATE that matched nothing) needs one
    # cheap probe over the now-cached `changed` to distinguish it from
    # "over the prune cap"; nothing to re-assign or evict when empty
    if vals is None and not changed.take(1):
        changed.unpersist()
        _save_props(engine, name, {_OFFSET_PROP: end})
        return None
    snap = _pruned_read(engine, source, RECORD_KEY_META, vals, [])
    live = snap.join(F.broadcast(changed), RECORD_KEY_META, "left_semi")
    # persisted: feeds both union branches (directly, and via the
    # survivors anti-join inside `dead`) — one assignment pass, not two
    fresh = _assign_cells(live.drop(*meta_cols), cfg).persist()
    id_col = cfg.props["vecindex.id_col"]
    survivors = fresh.select(F.col(id_col).cast("string").alias("__sk"))
    # the source and index share the record key (= id_col, a single
    # string-round-trippable column), so changed keys without a
    # surviving source row ARE the dead index keys — cast the key
    # string back to the id type instead of scanning the index to
    # rediscover them. They ride the SAME upsert as soft-delete
    # tombstones (the index is GLOBAL, so a bare key kills the row
    # wherever its cell partition is): re-assigns and evictions land
    # in one atomic commit.
    id_type = snap.schema[id_col].dataType
    dead = (
        changed.join(
            survivors,
            changed[RECORD_KEY_META] == survivors["__sk"],
            "left_anti",
        )
        .select(F.col(RECORD_KEY_META).cast(id_type).alias(id_col))
        .withColumn(DELETED_META, F.lit(True))
    )
    payload = fresh.unionByName(dead, allowMissingColumns=True)
    # `changed` is non-empty here (the empty window returned above) and
    # every changed id contributes a fresh row or a tombstone, so the
    # payload is non-empty without a pre-flight job
    out = engine.upsert(payload, name)
    fresh.unpersist()
    changed.unpersist()
    _save_props(engine, name, {_OFFSET_PROP: end})
    return out


def vector_index_topk(
    engine,
    name: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 4,
) -> DataFrame:
    """ANN top-k served FROM the maintained index: each query probes its
    `n_probe` nearest cells and the index is read pruned to those
    cells' PARTITIONS (file-list pruning — the scan touches
    n_probe/n_centroids of the table's files, the property that makes
    the index an index at 100 TB). Exact cosine re-rank inside probed
    cells; ties break (score desc, id asc) like `ivf_topk`.

    On a PQ-augmented index (create_vector_index(pq_m=…)) the probed
    cells are scanned by ADC over the STORED codes — m small ints per
    candidate instead of the full vector — and only the k·`rerank`
    shortlist re-ranks at full precision against the index's vectors
    (the maintained-table Faiss IVFPQ serving shape)."""
    from hudi_demo_spark.operators.similarity import (
        _codebooks_lit,
        _pq_subdists,
        _unit_vectors,
    )

    cfg = engine._resolve(name)
    id_col = cfg.props["vecindex.id_col"]
    vec_col = cfg.props["vecindex.vec_col"]
    books = _codebooks(cfg)
    q = ivf_assign(
        _unit_vectors(queries, id_col, vec_col)
        if books else queries,
        _centroids(cfg), id_col, vec_col, n_probe=n_probe,
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("centroid_id").alias(_CELL_COL),
    )
    cells = sorted(r[0] for r in q.select(_CELL_COL).distinct().collect())
    if not cells:  # empty queries: 'cell IN ()' would be a parse error
        return _rows_df(engine.spark, 
            [],
            T.StructType(
                [
                    T.StructField("query_id", q.schema["query_id"].dataType),
                    T.StructField("neighbor_id", q.schema["query_id"].dataType),
                    T.StructField("score", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    probed = engine.read(
        name, where=f"{_CELL_COL} IN ({','.join(str(c) for c in cells)})"
    )
    if books is None:
        idx = probed.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__nv"),
            _CELL_COL,
        )
        scored = (
            idx.join(F.broadcast(q), _CELL_COL)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("score", cosine_similarity("__qv", "__nv"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank")
        )
    m, n_codes, sub = len(books), len(books[0]), len(books[0][0])
    B = _codebooks_lit(books)
    qvd = F.transform(F.col("__qv"), lambda x: x.cast("double"))
    lut = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: _pq_subdists(B, qvd, j, sub),
        )
    )
    ql = q.select("query_id", _CELL_COL, lut.alias("__lut"))
    # ADC scan: ONLY (id, codes) from the probed partitions ride the
    # candidate join + top-k window — full vectors stay columnar-pruned
    # until the shortlist refine
    scored = (
        probed.select(
            F.col(id_col).alias("neighbor_id"), _CELL_COL, "codes"
        )
        .join(F.broadcast(ql), _CELL_COL)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc",
            F.aggregate(
                F.transform(
                    F.col("codes"),
                    lambda c, i: F.element_at(
                        F.col("__lut"),
                        (i * F.lit(n_codes) + c + F.lit(1)).cast("int"),
                    ),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k * max(1, rerank))
        .select("query_id", "neighbor_id")
    )
    cvecs = probed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    refined = (
        cvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("score", cosine_similarity("__qv", "__nv"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
