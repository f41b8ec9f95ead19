"""Incrementally-maintained DECONTAMINATION VIEW — the clean training
corpus as a derived table that tracks a GROWING eval set.

The batch operator (`operators/corpus.decontaminate`) re-screens the
whole training corpus per run: fine for one-shot curation, wrong for
the real pipeline shape where the eval suite accretes new benchmarks
over time — at 100 TB, "we added 50 eval documents" must not mean
"re-shingle petabytes of already-screened text". The view is an engine
table maintained by the same incremental machinery as the serving
indexes, with TWO source offsets:

- TRAIN commits: insert-only windows screen JUST the delta against the
  eval end-state's n-gram set (grams distinct'd and broadcast — eval
  sets are small; the delta streams map-side); DML windows re-screen
  exactly the changed ids from a key-pruned snapshot.
- EVAL commits (append-only by contract): the NEW eval docs' grams are
  broadcast against the VIEW's OWN text — the view (⊆ train, already
  screened) is the only thing re-shingled, map-side, no shuffle of the
  big side — and hits are evicted. Eval deletions/updates would need
  re-admission of previously-censored docs (a train-wide re-screen);
  they raise loudly instead of silently under-screening.
- admissions and evictions land in ONE atomic commit via soft-delete
  tombstones, like every other derived-table refresh.

Reference parity note: composes the engine's derived-table maintenance
(engine/derived.py) with `corpus.decontaminate`'s verbatim n-gram
screen — the continuously-maintained counterpart of
`corpus_decontaminate`, as minhash_index.py is for `dedup_minhash_lsh`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hudi_demo_spark.engine.config import (
    COMMIT_TIME_META,
    DELETED_META,
    PARTITION_PATH_META,
    RECORD_KEY_META,
)
from hudi_demo_spark.engine.derived import (
    _ALLOWED,
    _bounded_vals,
    _data_ops,
    _pruned_read,
    _save_props,
    _view_has_data,
    _window_since,
)
from hudi_demo_spark.functions.textfn import word_ngrams
from hudi_demo_spark.operators.util import spread

_TRAIN_OFFSET = "decontam.train_offset"
_EVAL_OFFSET = "decontam.eval_offset"
_META = [RECORD_KEY_META, PARTITION_PATH_META, COMMIT_TIME_META]


def create_decontam_view(
    engine,
    train: str,
    eval_table: str,
    name: str,
    id_col: str,
    text_col: str,
    ngram: int = 8,
):
    """Define `name` as the incrementally-maintained clean subset of
    `train`: rows sharing NO word `ngram`-gram with any `eval_table`
    row. Keyed by the train table's record key (must be exactly
    [id_col], same soundness requirement as the serving indexes)."""
    if engine._resolve(train).record_key_fields != [id_col]:
        raise ValueError(
            "decontam view requires the train record key to be exactly "
            f"[{id_col!r}]"
        )
    return engine.create_table(
        name,
        record_key=id_col,
        props={
            "decontam.train": train,
            "decontam.eval": eval_table,
            "decontam.id_col": id_col,
            "decontam.text_col": text_col,
            "decontam.ngram": str(ngram),
        },
    )


def _grams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    return (
        spread(df)
        .select(F.explode(word_ngrams(text_col, n)).alias("__g"))
        .distinct()
    )


def refresh_decontam_view(engine, name: str) -> dict | None:
    """Fold train and eval commits since the last refresh into the
    view. Returns the commit meta, or None when neither source moved."""
    cfg = engine._resolve(name)
    train = cfg.props["decontam.train"]
    ev = cfg.props["decontam.eval"]
    id_col = cfg.props["decontam.id_col"]
    text_col = cfg.props["decontam.text_col"]
    n = int(cfg.props["decontam.ngram"])

    t_begin = cfg.props.get(_TRAIN_OFFSET)
    e_begin = cfg.props.get(_EVAL_OFFSET)
    t_end, t_win = _window_since(engine, train, t_begin)
    e_end, e_win = _window_since(engine, ev, e_begin)
    t_win, e_win = _data_ops(t_win), _data_ops(e_win)
    if not t_win and not e_win:
        _save_props(engine, name, {
            _TRAIN_OFFSET: t_end or t_begin,
            _EVAL_OFFSET: e_end or e_begin,
        })
        return None
    if any(m["operation"] not in _ALLOWED for m in e_win):
        # re-admitting docs censored by a retracted eval doc needs a
        # train-wide re-screen: refuse rather than silently under- or
        # over-screen (eval suites accrete; retractions are a rebuild)
        raise NotImplementedError(
            "decontam view requires an append-only eval source; "
            "rebuild the view after eval deletions/updates"
        )

    fresh = None
    dead_keys = None  # string record keys to evict (train DML)
    if t_win:
        eval_grams = _grams(
            engine.read(ev).select(text_col), text_col, n
        )
        mutated = any(m["operation"] not in _ALLOWED for m in t_win)
        if not mutated:
            delta = engine.read_incremental(
                train, begin=t_begin, end=t_end
            ).drop(*_META)
            cand = delta
        else:
            # changed_keys, not read_cdc: only WHICH keys moved is
            # consumed — pruned (key, commit_time) diff, no row images
            changed = engine.changed_keys(
                train, begin=t_begin, end=t_end
            ).persist()
            vals = _bounded_vals(changed, RECORD_KEY_META)
            snap = _pruned_read(engine, train, RECORD_KEY_META, vals, [])
            cand = snap.join(
                F.broadcast(changed), RECORD_KEY_META, "left_semi"
            ).drop(*_META)
            dead_keys = changed
        hits = (
            spread(cand)
            .select(
                F.col(id_col),
                F.explode(word_ngrams(text_col, n)).alias("__g"),
            )
            .join(F.broadcast(eval_grams), "__g", "left_semi")
            .select(id_col).distinct()
        )
        # persisted: feeds the upsert AND (under DML) the dead anti-join
        fresh = cand.join(hits, id_col, "left_anti").persist()

    evict = None
    if e_win and _view_has_data(engine, name):
        new_grams = _grams(
            engine.read_incremental(ev, begin=e_begin, end=e_end)
            .select(text_col),
            text_col, n,
        )
        view = engine.read(name).drop(*_META)
        evict = (
            spread(view)
            .select(
                F.col(id_col),
                F.explode(word_ngrams(text_col, n)).alias("__g"),
            )
            .join(F.broadcast(new_grams), "__g", "left_semi")
            .select(id_col).distinct()
        )

    # assemble ONE atomic commit: admissions ∪ tombstones. A key both
    # re-admitted (its NEW text is clean of the END-state grams) and
    # hit by the eviction probe (its OLD view text matched a new gram)
    # stays admitted — the tombstone set excludes fresh keys, so a
    # payload never carries a same-instant tombstone/row conflict.
    tombs = []
    if dead_keys is not None:
        # changed train ids with no clean surviving row: either deleted
        # from train or now contaminated — evict by key
        id_type = engine.read(train).schema[id_col].dataType
        survivors = fresh.select(
            F.col(id_col).cast("string").alias("__sk")
        ).distinct()
        tombs.append(
            dead_keys.join(
                survivors,
                dead_keys[RECORD_KEY_META] == survivors["__sk"],
                "left_anti",
            ).select(F.col(RECORD_KEY_META).cast(id_type).alias(id_col))
        )
    if evict is not None:
        tombs.append(evict.select(id_col))
    payload = fresh
    if tombs:
        dead = tombs[0] if len(tombs) == 1 else tombs[0].union(tombs[1])
        dead = dead.distinct()
        if fresh is not None:
            dead = dead.join(fresh.select(id_col), id_col, "left_anti")
        dead = dead.withColumn(DELETED_META, F.lit(True))
        payload = (
            dead if payload is None
            else payload.unionByName(dead, allowMissingColumns=True)
        )
    out = None
    if payload is not None and payload.take(1):
        out = engine.upsert(payload, name)
    if fresh is not None:
        fresh.unpersist()
    if dead_keys is not None:
        dead_keys.unpersist()
    _save_props(engine, name, {
        _TRAIN_OFFSET: t_end or t_begin,
        _EVAL_OFFSET: e_end or e_begin,
    })
    return out
