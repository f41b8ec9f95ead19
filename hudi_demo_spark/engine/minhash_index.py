"""Incrementally-maintained MINHASH-LSH INDEX — near-dup candidate
generation as a derived table.

The batch dedup operators (`operators/dedup.py`) re-shingle the whole
corpus per run: fine for one-shot curation, wrong for a corpus that
ingests continuously — at 100 TB, re-hashing petabytes of text to ask
"is this new batch a duplicate of anything we already have?" is the
cost this module removes. The LSH band/bucket rows are materialized as
an engine table maintained by the same incremental machinery as
rollups/filter views/vector indexes:

- the index holds ONE ROW PER (doc, band): (id, band, bucket) where
  `bucket` is the ':'-joined band-slice of the portable MinHash
  signature — bucket equality IS band-slice equality, and every value
  is replayable bit-for-bit by a DuckDB oracle (portable 60-bit shingle
  hash, seeded affine-mix coefficients);
- insert-only source windows fold by signing JUST the delta — never
  the corpus — and APPEND its rows (`derived._append_fold`: no existing
  file is rewritten). A window of a few small base files whose commits
  wrote at most `_PROBE_COLLECT_CAP` band rows is read and signed on
  the driver (`derived._window_rows` + `minhash_band_rows_py`), so the
  append's write is the fold's one Spark job; past that cut the window
  signs with one shingle explode + one groupBy over the new docs.
  Inline clustering on `bucket` every 4 commits keeps the appended
  files per band partition bounded. An index created before appends
  carries no `cluster.inline` prop and grows one file per band per
  refresh until `cluster_index` runs;
- source DML routes through the CDC read: changed ids re-sign from a
  key-pruned snapshot and upsert over their (id, band) keys; deleted
  ids leave the index via a keyed delete;
- probing an incoming batch signs it map-side in the one job that
  collects its band rows (never its text) and joins them against the
  index on (band, bucket). After `cluster_index`
  (range-layout on (band, bucket)), the probe read point-prunes by
  bucket through per-file col-stats — candidate generation reads the
  files that could hold colliding buckets, not the index, and never
  the raw text. When the batch is signed on the driver and those files
  are a few small base files (`Engine._read_small`), the probe reads
  them with pyarrow and matches buckets on the driver: no Spark job
  reads the index, and admission filters the batch by the rejected ids
  instead of joining it.

Reference parity note: this composes the engine's derived-table
maintenance (engine/derived.py) with the MinHash family
(operators/dedup.py:83,122) — the serving-shape counterpart of
`dedup_minhash_lsh`, as vector_index.py is for `similarity_topk_ivf`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
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
    _bounded_vals,
    _pruned_read,
    _refresh_window,
    _save_props,
    _window_rows,
)
from hudi_demo_spark.engine.timeline import Timeline
from hudi_demo_spark.operators.util import local_relation
from hudi_demo_spark.operators.util import rows_df as _rows_df
from hudi_demo_spark.operators.dedup import (
    minhash_band_rows_py,
    minhash_signatures,
)

_BAND_COL = "band"
_BUCKET_COL = "bucket"
# max signed band rows (ids × bands) a probe pulls to the driver to turn
# the batch into a local relation — same order as derived._PRUNE_VAL_CAP,
# a few MB of (id, band, bucket) tuples at worst
_PROBE_COLLECT_CAP = 50_000


def lsh_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bucket) for every row of `df`: portable MinHash
    signature → per-band ':'-joined slice string. One shingle explode +
    one groupBy(id) shuffle for the signatures; the banding itself is a
    map-side explode of `bands` structs."""
    rpb = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes=num_hashes, portable=True
    )
    band_structs = ",".join(
        "named_struct('band', {b}, 'bucket', concat_ws(':', {cols}))".format(
            b=b,
            cols=",".join(
                f"element_at(sig, {b * rpb + r + 1})" for r in range(rpb)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        F.col(id_col),
        F.explode(F.expr(f"array({band_structs})")).alias("__bb"),
    ).select(
        id_col,
        F.col(f"__bb.{_BAND_COL}").alias(_BAND_COL),
        F.col(f"__bb.{_BUCKET_COL}").alias(_BUCKET_COL),
    )


def create_minhash_index(
    engine,
    source: str,
    name: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
):
    """Define `name` as an incrementally-maintained LSH index over
    `source`.`text_col`. Keyed (id, band) and partitioned by band;
    `bands × rows_per_band` is pinned in table props at create time
    (changing the banding is a new index, as with any LSH deployment)."""
    src_cfg = engine._resolve(source)
    # refresh derives changed/dead ids by casting the source's
    # _hoodie_record_key back to id_col's type — same soundness
    # requirement as the vector index
    if src_cfg.record_key_fields != [id_col]:
        raise ValueError(
            "minhash index requires the source record key to be exactly "
            f"[{id_col!r}]; got {src_cfg.record_key_fields!r}"
        )
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    return engine.create_table(
        name,
        record_key=[id_col, _BAND_COL],
        partition_by=_BAND_COL,
        props={
            "mhindex.source": source,
            "mhindex.id_col": id_col,
            "mhindex.text_col": text_col,
            "mhindex.num_hashes": str(num_hashes),
            "mhindex.bands": str(bands),
            **_append_cluster([_BUCKET_COL]),
        },
    )


def _params(cfg) -> tuple[str, str, int, int]:
    return (
        cfg.props["mhindex.id_col"],
        cfg.props["mhindex.text_col"],
        int(cfg.props["mhindex.num_hashes"]),
        int(cfg.props["mhindex.bands"]),
    )


def refresh_minhash_index(engine, name: str) -> dict | None:
    """Fold source commits since the last refresh into the index.
    Insert-only windows sign just the delta and append it; windows with
    DML re-sign exactly the changed ids (key-pruned snapshot read) and
    delete the (id, band) rows of ids that left the source. Returns the
    last commit meta, or None when the source has no new data commits
    (or the window's append already committed)."""
    cfg = engine._resolve(name)
    source = cfg.props["mhindex.source"]
    id_col, text_col, num_hashes, bands = _params(cfg)
    meta_cols = [RECORD_KEY_META, PARTITION_PATH_META, COMMIT_TIME_META]
    win = _refresh_window(engine, name, cfg, source, appends=True)
    if win is None:
        return None
    begin, end, mutated, folded = win
    if not mutated:
        out = None
        if not folded:
            out = _append_fold(
                engine, name, _window_bands(engine, cfg, begin, end), end,
                False,
            )
        _save_props(engine, name, {_OFFSET_PROP: end})
        return out
    # changed_keys, not read_cdc: the refresh needs only WHICH ids moved
    # — the pruned (key, commit_time) diff scan, no full row images
    changed = engine.changed_keys(source, begin=begin, end=end).persist()
    vals = _bounded_vals(changed, RECORD_KEY_META)
    # _bounded_vals folds "empty" into None (its no-values return), so an
    # empty CDC window (e.g. an UPDATE that matched nothing) needs one
    # cheap probe over the now-cached `changed` to distinguish it from
    # "over the prune cap"; nothing to re-sign or evict when empty
    if vals is None and not changed.take(1):
        changed.unpersist()
        _save_props(engine, name, {_OFFSET_PROP: end})
        return None
    snap = _pruned_read(engine, source, RECORD_KEY_META, vals, [])
    live = snap.join(F.broadcast(changed), RECORD_KEY_META, "left_semi")
    # persisted: feeds both union branches (directly, and via the
    # survivors anti-join inside `dead`) — one signing pass, not two
    fresh = lsh_band_rows(
        live.drop(*meta_cols), id_col, text_col, num_hashes, bands
    ).persist()
    # dead ids: changed keys with no surviving source row — their
    # (id, band) rows leave the index for every band, as SOFT-DELETE
    # tombstones in the SAME upsert: re-signs and evictions land in one
    # atomic commit (no observable state where an id is half-updated)
    id_type = snap.schema[id_col].dataType
    survivors = fresh.select(
        F.col(id_col).cast("string").alias("__sk")
    ).distinct()
    dead = (
        changed.join(
            survivors,
            changed[RECORD_KEY_META] == survivors["__sk"],
            "left_anti",
        )
        .select(F.col(RECORD_KEY_META).cast(id_type).alias(id_col))
        .crossJoin(
            engine.spark.range(bands).select(
                F.col("id").cast("int").alias(_BAND_COL)
            )
        )
        .withColumn(DELETED_META, F.lit(True))
    )
    payload = fresh.unionByName(dead, allowMissingColumns=True)
    # `changed` is known non-empty here (the vals == [] case returned
    # above, and vals is None only past the bound), and every changed id
    # contributes either fresh rows or tombstones — payload is non-empty
    # by construction, so no `take(1)` pre-flight job is needed
    out = engine.upsert(payload, name)
    fresh.unpersist()
    changed.unpersist()
    _save_props(engine, name, {_OFFSET_PROP: end})
    return out


def _window_bands(engine, cfg, begin: str, end: str) -> DataFrame:
    """The band rows of an insert-only source window. A window whose
    commits wrote at most `_PROBE_COLLECT_CAP` band rows is read on the
    driver (`derived._window_rows`) and signed there by the bit-equal
    twin `minhash_band_rows_py`, as one slice: the append writes one
    file per band and its only job. Otherwise `lsh_band_rows` signs
    the incremental read: one shingle explode + one groupBy(id)
    shuffle. Both group by id, so an id repeated in the window still
    appends exactly `bands` rows."""
    source = cfg.props["mhindex.source"]
    id_col, text_col, num_hashes, bands = _params(cfg)
    win = _window_rows(
        engine, source, begin, end, [id_col, text_col],
        max_rows=_PROBE_COLLECT_CAP // bands,
    )
    if win is None:
        delta = engine.read_incremental(source, begin=begin, end=end)
        return lsh_band_rows(
            delta.select(id_col, text_col), id_col, text_col, num_hashes,
            bands,
        )
    rows = minhash_band_rows_py(
        zip(*(c.to_pylist() for c in win.columns)), num_hashes, bands
    )
    id_type = engine._stored_schema(engine._resolve(source))[id_col].dataType
    return _rows_df(
        engine.spark,
        rows,
        T.StructType([
            T.StructField(id_col, id_type),
            T.StructField(_BAND_COL, T.IntegerType(), False),
            T.StructField(_BUCKET_COL, T.StringType(), False),
        ]),
        rows_per_slice=len(rows) + 1,
    )


def minhash_admit(engine, name: str, batch: DataFrame) -> DataFrame:
    """ADMISSION CONTROL at ingest: the rows of `batch` that are NOT
    near-duplicates of anything already indexed — the dedup-on-ingest
    guard a crawl pipeline runs in front of its corpus table (admit →
    insert → refresh, batch by batch), instead of admitting everything
    and deduplicating petabytes retroactively. A batch row is rejected
    when it shares ≥1 LSH band bucket with any indexed doc; rows of the
    SAME batch never block each other (they are not indexed yet), so
    admission is deterministic given batch order. Costs one probe
    (map-side batch signatures + the col-stats-pruned index join) and
    one broadcast-able anti-join back onto the batch; a probe served
    on the driver (`minhash_probe`) names the rejected ids there, and
    admission is a plain row filter with no join."""
    cfg = engine._resolve(name)
    id_col = cfg.props["mhindex.id_col"]
    hits = _probe(engine, cfg, batch, prune=True)
    if isinstance(hits, DataFrame):
        hits = hits.select("query_id").distinct()
        return batch.join(
            hits, batch[id_col] == hits["query_id"], "left_anti"
        )
    rejected = sorted({qid for qid, _ in hits})
    if not rejected:
        return batch
    # a null id matches nothing in the anti-join, so it is admitted
    return batch.filter(
        F.col(id_col).isNull() | ~F.col(id_col).isin(rejected)
    )


def cluster_index(engine, name: str) -> dict | None:
    """Range-layout the index on (band, bucket) and record per-file
    col-stats, so probes point-prune files by bucket value — the step
    that turns 'scan the index' into 'read the colliding files'."""
    return engine.cluster(name, [_BUCKET_COL])


def minhash_probe(
    engine,
    name: str,
    batch: DataFrame,
    prune: bool = True,
) -> DataFrame:
    """Near-dup candidates of an INCOMING batch against the indexed
    corpus: (query_id, match_id) pairs sharing ≥1 LSH band bucket.
    The batch signs map-side, never the corpus: with `prune` (default)
    a Python map over its slices signs it in the job that collects its
    band rows, and the index read point-prunes by their distinct bucket
    values through per-file col-stats (see cluster_index); past
    `_PROBE_COLLECT_CAP` band rows, or without `prune`, it signs in the
    join (one shuffle over batch shingles) and the index read is
    unpruned. Self-id matches are excluded so a batch containing
    already-indexed docs reports only genuine cross-candidates. An
    EMPTY index (created, never refreshed) yields no candidates without
    signing the batch — the admission guard's very first batch.

    A small batch whose pruned index read is small too
    (`Engine._read_small`) is matched on the driver: the distinct pairs
    come back as a LocalRelation, and no Spark job reads the index."""
    cfg = engine._resolve(name)
    hits = _probe(engine, cfg, batch, prune)
    if isinstance(hits, DataFrame):
        return hits
    id_col = _params(cfg)[0]
    return local_relation(
        engine.spark,
        sorted(hits),
        T.StructType([
            T.StructField(
                "query_id", batch.schema[id_col].dataType,
                batch.schema[id_col].nullable,
            ),
            T.StructField(
                "match_id", engine._stored_schema(cfg)[id_col].dataType
            ),
        ]),
    )


def _probe(engine, cfg, batch: DataFrame, prune: bool):
    """`minhash_probe`'s candidates: its Spark plan, or — when the
    batch's band rows came back within the cap and `Engine._read_small`
    serves the pruned index rows — the set of distinct (query_id,
    match_id) pairs, matched here."""
    id_col, text_col, num_hashes, bands = _params(cfg)
    if Timeline(cfg.path).last_instant() is None:
        return batch.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("match_id"),
        ).limit(0)
    q = lsh_band_rows(batch, id_col, text_col, num_hashes, bands).select(
        F.col(id_col).alias("query_id"), _BAND_COL, _BUCKET_COL
    )
    point = None
    if prune:
        # Sign the batch in the one job that collects it: a Python map
        # over its partitions runs the bit-equal twin, so only band
        # rows, never document text, reach the driver, and at most one
        # past the cap. Under the cap they give both the bucket
        # prune-set and the join's local relation. Past it the index
        # read goes unpruned and the batch signs again, distributed, in
        # the join: a >50k-band-row batch's distinct buckets approach
        # the index's bucket space anyway (pruning would keep most
        # files).
        rows = (
            batch.select(id_col, text_col)
            .rdd.mapPartitions(
                lambda it: minhash_band_rows_py(it, num_hashes, bands)
            )
            .take(_PROBE_COLLECT_CAP + 1)
        )
        if len(rows) <= _PROBE_COLLECT_CAP:
            rows = _merge_slices(rows)
            if not rows:  # no doc has a shingle: nothing can match
                return set()
            point = (_BUCKET_COL, sorted({r[2] for r in rows}))
            small = engine._read_small(
                cfg, [("point", *point)], [id_col, _BAND_COL, _BUCKET_COL]
            )
            if small is not None:
                return _match_local(rows, small)
            q = _rows_df(engine.spark, rows, q.schema)
    idx = engine.read(cfg, point_prune=point)
    return (
        idx.select(
            F.col(id_col).alias("match_id"), _BAND_COL, _BUCKET_COL
        )
        .join(q, [_BAND_COL, _BUCKET_COL])
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .distinct()
    )


def _merge_slices(rows: list[tuple]) -> list[tuple]:
    """Band rows signed slice by slice, as `lsh_band_rows` signs the
    whole batch: an id in two slices got one signature per slice, and
    the signature of the union of its shingles is their elementwise
    min, so its (id, band) buckets merge value by value."""
    merged: dict[tuple, str] = {}
    for rid, band, bucket in rows:
        prev = merged.get((rid, band))
        merged[rid, band] = bucket if prev is None else ":".join(
            str(min(int(a), int(b)))
            for a, b in zip(prev.split(":"), bucket.split(":"))
        )
    return [(rid, band, bucket) for (rid, band), bucket in merged.items()]


def _match_local(rows: list[tuple], index) -> set[tuple]:
    """The distinct (query_id, match_id) pairs of the driver-signed
    band `rows` and the pyarrow `index` rows (id, band, bucket) that
    share a (band, bucket) — `_probe`'s join on the driver. A null id
    on either side pairs with nothing, as `query_id != match_id` is
    null there in the Spark plan."""
    by_bucket: dict[tuple, list] = {}
    for qid, band, bucket in rows:
        if qid is not None:
            by_bucket.setdefault((band, bucket), []).append(qid)
    ids, bands, buckets = (c.to_pylist() for c in index.columns)
    return {
        (qid, mid)
        for mid, band, bucket in zip(ids, bands, buckets)
        if mid is not None
        for qid in by_bucket.get((band, bucket), ())
        if qid != mid
    }
