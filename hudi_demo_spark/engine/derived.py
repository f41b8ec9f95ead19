"""Incrementally-maintained derived tables (materialized rollups).

The DeltaStreamer-style pattern the reference's streaming demos gesture
at (continuous source → derived Hudi table): a rollup table is refreshed
from its source's INCREMENTAL read — each refresh processes only the
commits since the last one and folds them into the rollup with an
additive upsert. At 100 TB this is the difference between re-aggregating
the world per refresh and touching just the new slice: refresh cost
scales with data ARRIVED, not data STORED.

Scope: additive aggregates (count/sum — avg derivable as sum/count).
INSERT-only windows fold additively (no source re-read at all); windows
containing updates/deletes/merges switch to partial-recompute
maintenance — the CDC read names the changed row identities, their
groups (before- and after-image sides) are re-aggregated exactly from
the snapshot, emptied groups are deleted. Refresh cost scales with
changed groups, never with table size.

Every snapshot the maintenance touches is KEY-PRUNED before it is
scanned: the delta's join/group/record-key values (bounded — collected
with a cap) ride into `engine.read(point_filter=…)`, which serves them
from the record-level index, secondary index, per-file key ranges, or
column stats. A refresh therefore reads the file groups the delta can
touch, not the table — the property that makes incremental maintenance
incremental at 100 TB.
"""

from __future__ import annotations

from importlib import import_module
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F

from hudi_demo_spark.engine.config import (
    COMMIT_TIME_META,
    DELETED_META,
    PARTITION_PATH_META,
    RECORD_KEY_META,
)
from hudi_demo_spark.engine.keys import record_key_col
from hudi_demo_spark.engine.timeline import Timeline
from hudi_demo_spark.operators.util import rows_df as _rows_df

_OFFSET_PROP = "derived.last_refresh_instant"
_ALLOWED = {"insert", "bootstrap_full", "bootstrap_metadata"}
# timeline instants that never change row CONTENT: table services
# rewrite or remove files but preserve every live row (and its
# _hoodie_commit_time), so they must not force the expensive
# partial-recompute path — only genuine DML does
_ROW_PRESERVING = {
    "clean",
    "compact",
    "log_compact",
    "cluster",
    "bucket_resize",
    "archive",
}

# past this many distinct probe values, snapshot-side pruning is skipped
# (the delta is near-table-sized anyway, and an unbounded key collect
# would blow the driver); pruning is advisory so the cap is always sound
_PRUNE_VAL_CAP = 50_000


def _bounded_vals(df: DataFrame, col: str, cap: int = _PRUNE_VAL_CAP):
    """Distinct non-null values of `col`, or None past `cap` — the
    bounded 'which keys moved' collect that drives snapshot pruning."""
    rows = df.select(col).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return [r[0] for r in rows if r[0] is not None] or None


def _pruned_read(engine, table: str, col: str | None, vals, meta_cols):
    """Snapshot read FILE-pruned to the groups that can contain
    `col IN vals` (record/secondary index, key ranges, or col-stats —
    whatever the table has); unpruned when the probe set overflowed the
    cap. point_prune (no row filter): every caller equi-joins or
    semi-joins on the probed identity next, so a thousands-of-literals
    IN expression would add plan weight without changing results."""
    if col is None or vals is None:
        return engine.read(table).drop(*meta_cols)
    return engine.read(table, point_prune=(col, vals)).drop(*meta_cols)


def _data_ops(window: list[dict]) -> list[dict]:
    return [m for m in window if m["operation"] not in _ROW_PRESERVING]


def _window_since(engine, source: str, begin: str | None):
    """(end, instants in (begin, end]) of `source` from ONE parse of its
    timeline; (None, []) when nothing committed after `begin`."""
    instants = Timeline(engine._resolve(source).path).instants()
    end = instants[-1]["instant"] if instants else None
    if end is None or end == begin:
        return None, []
    return end, [m for m in instants if begin is None or m["instant"] > begin]


def _refresh_window(
    engine, name: str, cfg, source: str, appends: bool = False
):
    """A single-source view's pending window on `source`: (begin, end,
    mutated, folded) — `mutated` when the window holds DML beyond
    inserts — or None when there is nothing to fold. A window of table
    services only (no row changed) advances the view's offset here.

    `appends` marks a kind that folds insert-only windows by
    `_append_fold`. An append that committed but died before its offset
    was saved left its window's end on the view's timeline as a batch
    id: the window is cut back to exactly that end and `folded` is True,
    so the fold writes nothing and commits the source took since are
    folded next time, not appended twice. Other kinds never carry batch
    ids and skip that timeline parse (`folded` is False)."""
    begin = cfg.props.get(_OFFSET_PROP)
    end, window = _window_since(engine, source, begin)
    if end is None:
        return None
    folded = False
    if appends:
        done = Timeline(cfg.path).committed_batch_ids()
        hits = [i for i, m in enumerate(window) if int(m["instant"]) in done]
        if hits:
            window = window[: hits[-1] + 1]
            end, folded = window[-1]["instant"], True
    data_win = _data_ops(window)
    if not data_win:
        _save_props(engine, name, {_OFFSET_PROP: end})
        return None
    mutated = any(m["operation"] not in _ALLOWED for m in data_win)
    return begin, end, mutated, folded


def _append_fold(
    engine, name: str, df: DataFrame, end: str, folded: bool
) -> dict | None:
    """Fold an insert-only window that only adds new ids: a plain append
    (Hudi's INSERT op, no key join, no file rewritten) committed under
    batch id `int(end)`. `folded` (from `_refresh_window(appends=True)`)
    says that append already committed — the idempotent-sink check of
    `streaming/write.py` — so a refresh that died between this commit
    and its offset save never appends twice. Returns the commit meta,
    or None on a replay. File growth is bounded by the inline
    clustering the appending kinds turn on at create time
    (`_append_cluster`)."""
    if folded:
        return None
    return engine.insert(df, name, batch_id=int(end))


def _window_rows(
    engine, source: str, begin: str | None, end: str, columns: list[str],
    max_rows: int | None = None,
):
    """`columns` of an insert-only window of `source` read on the driver
    as a pyarrow Table, or None and the caller folds `read_incremental`.
    The window's files are `read_incremental`'s (`Engine._incr_window`)
    and the read is `Engine._read_small`'s. Served only for a window
    `read_incremental` reads without the key-dedup merge, whose commits
    record at most `max_rows` rows written when that is given."""
    cfg = engine._resolve(source)
    sel, files, insert_only = engine._incr_window(cfg, begin, end)
    if not insert_only:
        return None
    if max_rows is not None:
        written = [m.get("stats", {}).get("rows_written") for m in sel]
        if any(n is None or n < 0 for n in written) or sum(written) > max_rows:
            return None
    return engine._read_small(cfg, [], columns, files=files)


def _append_cluster(sort_cols: list[str]) -> dict:
    """Create-time props of a kind that folds by `_append_fold`: inline
    clustering on `sort_cols` every `cluster.inline.max_commits`
    (default 4) commits, so appended files per partition stay bounded."""
    return {"cluster.inline": "true", "cluster.sort_cols": ",".join(sort_cols)}


def _view_has_data(engine, name: str) -> bool:
    """True once the view has any commit. A never-written view has no
    stored schema, so reading it yields a zero-column frame — the
    stale/gone probes (which join the view on its key) must be skipped
    on the first refresh: nothing can be stale before the first write."""
    return Timeline(engine._resolve(name).path).last_instant() is not None


def _save_props(engine, name: str, updates: dict) -> None:
    """Persist view props through a FRESH config resolve. The cfg
    snapshot a refresh resolved at entry is stale by save time — the
    refresh's own upsert stored the view's pinned schema through its
    own resolve, and saving the entry snapshot would clobber
    schema_json back to None (the bug that broke chained views: the
    downstream CDC read's empty before-image then had no schema)."""
    cfg = engine._resolve(name)
    cfg.props.update(updates)
    cfg.save()


def create_rollup(
    engine,
    source: str,
    name: str,
    group_cols: list[str],
    sum_cols: list[str],
    expr_cols: dict[str, str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    approx_distinct_cols: list[str] | None = None,
    hist_cols: dict[str, list] | None = None,
    sample_cols: dict[str, int] | None = None,
):
    """Define `name` as an incrementally-maintained rollup of `source`:
    per group, a row count, one sum per `sum_cols` entry, and one
    min/max per `min_cols`/`max_cols` entry. Returns the rollup's
    TableConfig; call `refresh_rollup` to fold in new commits. min/max
    fold as cheaply as sums on insert-only windows (least/greatest are
    associative); windows containing deletes route through the same
    exact partial recompute every aggregate already uses, so a group
    losing its extreme row is repaired correctly.

    `expr_cols` maps derived column names to SQL expressions over the
    source's columns, evaluated before grouping — `group_cols` may name
    them. The hypertable continuous-aggregate shape: a time-bucket
    rollup is `expr_cols={'bucket': 'cast(floor(cast(ts as double) /
    900) * 900 as bigint)'}, group_cols=['bucket', ...]` and stays
    incrementally maintained (an expression column is just a projection
    on the delta — the fold/recompute algebra is unchanged).

    `approx_distinct_cols` maintains a mergeable HyperLogLog sketch per
    group per column (stored as `hll_<col>` binary; read the estimate
    with `F.hll_sketch_estimate`). COUNT(DISTINCT) is not additive, so
    it cannot ride the exact fold — the sketch union IS associative,
    which is the only formulation that keeps distinct counts
    incrementally maintainable over a 100 TB stream (Datasketches HLL,
    ~1.6% relative error at the default lgConfigK; exact while a group
    is still in sparse mode). Delete windows route through the shared
    partial recompute, which rebuilds the sketch exactly.

    `hist_cols` maintains a fixed-boundary histogram per group per
    column: `{col: [lo, hi, n_bins]}` stores `hist_<col>` as an
    array<bigint> of per-bin counts (bin = clamp(floor((x-lo)/width),
    0, n_bins-1) — out-of-range values land in the edge bins, NULLs
    are uncounted). Per-bin counts are ADDITIVE, so histograms ride the
    same insert-only fold as sums (element-wise zip_with add) and are
    EXACT at any scale — the mergeable-histogram formulation that keeps
    distribution tracking (p50/p99 read-off, drift monitoring)
    incrementally maintainable over a 100 TB stream in O(n_bins) state
    per group. Delete windows rebuild exactly via the shared partial
    recompute.

    `sample_cols` maintains a deterministic per-group sample per
    column: `{col: k}` stores `sample_<col>` as the k rows whose
    md5(value) hashes are smallest — the bottom-k sketch (Cohen &
    Kaplan), which is mergeable EXACTLY: the bottom-k of a union is
    the bottom-k of the two sides' concatenated bottom-k's, so samples
    ride the insert-only fold with O(k) state per group and a refresh
    or a from-scratch rebuild produce byte-identical arrays. Sampling
    the record-key column gives a uniform row sample (each row hashes
    independently); sampling a value column is distinct-value-flavored
    (duplicates share a hash and fill adjacent slots). NULLs are never
    sampled. Serve with `rollup_sample` — O(groups x k) rows, no
    source scan. Delete windows rebuild exactly via the shared partial
    recompute."""
    import json

    props = {
        "derived.source": source,
        "derived.group_cols": ",".join(group_cols),
        "derived.sum_cols": ",".join(sum_cols),
    }
    if min_cols:
        props["derived.min_cols"] = ",".join(min_cols)
    if max_cols:
        props["derived.max_cols"] = ",".join(max_cols)
    if approx_distinct_cols:
        props["derived.approx_cols"] = ",".join(approx_distinct_cols)
    if hist_cols:
        for c, (lo, hi, nb) in hist_cols.items():
            # hi == lo would make the bin width 0: the bin expression
            # divides by zero to null and every row silently vanishes
            # from the histogram — fail at definition time instead
            if int(nb) < 1:
                raise ValueError(f"hist_cols[{c!r}]: n_bins must be >= 1")
            if not float(hi) > float(lo):
                raise ValueError(f"hist_cols[{c!r}]: hi must be > lo")
        props["derived.hist_cols"] = json.dumps(
            {c: [float(lo), float(hi), int(nb)]
             for c, (lo, hi, nb) in hist_cols.items()}
        )
    if sample_cols:
        for c, k in sample_cols.items():
            if int(k) < 1:
                raise ValueError(f"sample_cols[{c!r}]: k must be >= 1")
        props["derived.sample_cols"] = json.dumps(
            {c: int(k) for c, k in sample_cols.items()}
        )
    if expr_cols:
        props["derived.expr_cols"] = json.dumps(expr_cols)
    return engine.create_table(
        name,
        record_key=group_cols,
        partition_by=None,
        props=props,
    )


def _expr_cols(cfg) -> dict[str, str]:
    import json

    raw = cfg.props.get("derived.expr_cols")
    return json.loads(raw) if raw else {}


def _project(df: DataFrame, expr_cols: dict[str, str]) -> DataFrame:
    for c, ex in expr_cols.items():
        df = df.withColumn(c, F.expr(ex))
    return df


def _agg_cols(
    cfg,
) -> tuple[
    list[str], list[str], list[str], list[str], dict[str, list],
    dict[str, int],
]:
    import json

    def _get(prop):
        return [c for c in cfg.props.get(prop, "").split(",") if c]

    raw = cfg.props.get("derived.hist_cols")
    raw_s = cfg.props.get("derived.sample_cols")
    return (
        _get("derived.sum_cols"),
        _get("derived.min_cols"),
        _get("derived.max_cols"),
        _get("derived.approx_cols"),
        json.loads(raw) if raw else {},
        json.loads(raw_s) if raw_s else {},
    )


def _hist_expr(c: str, lo: float, hi: float, nbins: int):
    """Per-group fixed-boundary histogram as ONE array of n_bins
    conditional-sum aggregates — a single codegen pass over the group,
    no explode, no shuffle beyond the enclosing groupBy."""
    width = (float(hi) - float(lo)) / int(nbins)
    b = F.least(
        F.greatest(
            F.floor((F.col(c) - F.lit(float(lo))) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(int(nbins) - 1),
    )
    return F.array(*[
        F.sum(
            F.when(F.col(c).isNotNull() & (b == i), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        for i in range(int(nbins))
    ]).alias(f"hist_{c}")


def _sample_mark(df: DataFrame, group_cols, sample_cols) -> DataFrame:
    """Bounded-state input for bottom-k sample aggregation: per sample
    column, rank the rows inside each group by md5(value) (a
    deterministic uniform order) and carry a (hash, value) struct ONLY
    on the first k rows — the downstream `collect_list` then holds at
    most k elements per group, so sample state is O(k) at every point
    in the plan regardless of group size. Rows past k (and NULLs,
    which rank last and are guarded out) still flow to every other
    aggregate; their mark is NULL, which collect_list skips. The
    ranking window shuffles by the same group keys the enclosing
    groupBy needs, so AQE reuses the exchange — no extra shuffle."""
    from pyspark.sql.window import Window

    for c, k in (sample_cols or {}).items():
        h = F.md5(F.col(c).cast("string"))
        w = Window.partitionBy(*group_cols).orderBy(
            h.asc_nulls_last(), F.col(c).asc_nulls_last()
        )
        df = df.withColumn(
            f"__smp_{c}",
            F.when(
                F.col(c).isNotNull() & (F.row_number().over(w) <= int(k)),
                F.struct(h.alias("h"), F.col(c).alias("v")),
            ),
        )
    return df


def _agg_exprs(
    sum_cols, min_cols, max_cols, approx_cols=(), hist_cols=None,
    sample_cols=None,
) -> list:
    return (
        [F.count("*").alias("n_rows")]
        + [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
        + [F.min(c).alias(f"min_{c}") for c in min_cols]
        + [F.max(c).alias(f"max_{c}") for c in max_cols]
        + [F.hll_sketch_agg(c).alias(f"hll_{c}") for c in approx_cols]
        + [
            _hist_expr(c, lo, hi, nb)
            for c, (lo, hi, nb) in (hist_cols or {}).items()
        ]
        # ascending (h, v) struct order IS the bottom-k order; the
        # input is pre-marked by _sample_mark so the list is <= k long
        + [
            F.array_sort(F.collect_list(f"__smp_{c}")).alias(f"sample_{c}")
            for c in (sample_cols or {})
        ]
    )


def refresh_rollup(engine, name: str) -> dict | None:
    """Fold source commits since the last refresh into the rollup:
    incremental read → partial aggregate of JUST the new rows →
    key-joined additive combine with the current rollup state (read
    key-pruned to the touched groups; only touched groups are
    upserted — an untouched group's row is never rewritten) → upsert.
    Returns the commit meta, or None when the source has no new commits
    (table-service instants such as clean/cluster/compact advance the
    offset but neither fold nor recompute — they preserve row content).
    """
    cfg = engine._resolve(name)
    source = cfg.props["derived.source"]
    group_cols = cfg.props["derived.group_cols"].split(",")
    (sum_cols, min_cols, max_cols, approx_cols, hist_cols,
     sample_cols) = _agg_cols(cfg)
    win = _refresh_window(engine, name, cfg, source)
    if win is None:
        return None
    begin, end, mutated, _ = win
    if mutated:
        # updates/deletes in the window: additive folding would need
        # retractions — switch to PARTIAL RECOMPUTE maintenance instead
        # (exact re-aggregation of only the groups whose rows changed,
        # located via the CDC read; cost scales with changed groups,
        # not table size)
        out = _refresh_recompute(
            engine, name, source, group_cols, sum_cols, begin, end,
            expr_cols=_expr_cols(cfg), min_cols=min_cols, max_cols=max_cols,
            approx_cols=approx_cols, hist_cols=hist_cols,
            sample_cols=sample_cols,
        )
        _save_props(engine, name, {_OFFSET_PROP: end})
        return out
    delta = _project(
        engine.read_incremental(source, begin=begin, end=end),
        _expr_cols(cfg),
    )
    partial = _sample_mark(delta, group_cols, sample_cols).groupBy(
        *group_cols
    ).agg(
        *_agg_exprs(
            sum_cols, min_cols, max_cols, approx_cols, hist_cols,
            sample_cols,
        )
    ).persist()  # consumed by the key collect AND the combine below
    meta = {RECORD_KEY_META, PARTITION_PATH_META, COMMIT_TIME_META}
    # the rollup's record key IS the group tuple — compute the touched
    # groups' key strings with the engine's own keygen and read the
    # current state pruned to the file groups that hold them
    touched = _bounded_vals(
        partial.select(record_key_col(group_cols).alias("__k")), "__k"
    )
    # emptiness comes from timeline METADATA (live_files), not a
    # take(1) Spark action — an empty-relation probe costs ~0.5-1.5 s
    # per refresh for an answer the commit log already holds; and a
    # non-empty view joins unconditionally (a pruned-to-zero current
    # side LEFT-joins to all-null olds, which the coalesce/least/
    # greatest folds treat as absent — same result, one less job)
    current = None
    if Timeline(cfg.path).live_files():
        try:
            current = _pruned_read(engine, name, RECORD_KEY_META, touched, [])
        except Exception:
            current = None
    if current is not None:
        add_cols = ["n_rows"] + [f"sum_{c}" for c in sum_cols]
        lo_cols = [f"min_{c}" for c in min_cols]
        hi_cols = [f"max_{c}" for c in max_cols]
        hll_cols = [f"hll_{c}" for c in approx_cols]
        hg_cols = [f"hist_{c}" for c in hist_cols]
        smp_cols = [f"sample_{c}" for c in sample_cols]
        agg_cols = add_cols + lo_cols + hi_cols + hll_cols + hg_cols + smp_cols
        cur = current.drop(*meta).select(
            *group_cols, *[F.col(c).alias(f"__old_{c}") for c in agg_cols]
        )
        # LEFT join: groups absent from the delta keep their stored row
        # untouched — upserting them back would rewrite the whole rollup
        # every refresh. Sums/counts add; mins/maxes fold with
        # least/greatest (both skip NULLs, so a one-sided group keeps
        # its present value)
        # SQL SUM semantics: a sum over only-NULL inputs is NULL, and
        # NULL+NULL must stay NULL across refreshes — coalescing to 0
        # only when at least one side carries a value keeps the fold
        # bit-identical to a from-scratch re-aggregation
        def _add(c):
            new, old = F.col(c), F.col(f"__old_{c}")
            return F.when(
                new.isNull() & old.isNull(), F.lit(None)
            ).otherwise(
                F.coalesce(new, F.lit(0)) + F.coalesce(old, F.lit(0))
            ).alias(c)

        combined = partial.join(cur, group_cols, "left").select(
            *group_cols,
            *[_add(c) for c in add_cols],
            *[
                F.least(F.col(c), F.col(f"__old_{c}")).alias(c)
                for c in lo_cols
            ],
            *[
                F.greatest(F.col(c), F.col(f"__old_{c}")).alias(c)
                for c in hi_cols
            ],
            # sketch union is the associative merge; a one-sided group
            # (new group, or a delta group whose values were all NULL)
            # keeps the present sketch
            *[
                F.when(F.col(f"__old_{c}").isNull(), F.col(c))
                .when(F.col(c).isNull(), F.col(f"__old_{c}"))
                .otherwise(F.hll_union(F.col(c), F.col(f"__old_{c}")))
                .alias(c)
                for c in hll_cols
            ],
            # per-bin counts are additive: element-wise add is the
            # histogram's associative merge (a group absent from one
            # side keeps the present array)
            *[
                F.when(F.col(f"__old_{c}").isNull(), F.col(c))
                .when(F.col(c).isNull(), F.col(f"__old_{c}"))
                .otherwise(
                    F.zip_with(
                        F.col(c), F.col(f"__old_{c}"), lambda a, b: a + b
                    )
                )
                .alias(c)
                for c in hg_cols
            ],
            # bottom-k merge: concat the two (<=k)-long sorted arrays,
            # re-sort by (hash, value), keep the first k — exactly the
            # bottom-k of the union (the sketch's associative merge).
            # array_compact is a no-op on the data (neither side holds
            # null elements) but restores containsNull=false, without
            # which the upsert's cast to the table schema — recorded
            # from collect_list, whose output can't hold nulls — is an
            # un-castable widening and fails analysis
            *[
                F.array_compact(
                    F.when(F.col(f"__old_{c}").isNull(), F.col(c))
                    .when(F.col(c).isNull(), F.col(f"__old_{c}"))
                    .otherwise(
                        F.slice(
                            F.array_sort(
                                F.concat(F.col(c), F.col(f"__old_{c}"))
                            ),
                            1, int(sample_cols[c.removeprefix("sample_")]),
                        )
                    )
                ).alias(c)
                for c in smp_cols
            ],
        )
    else:
        combined = partial
    out = engine.upsert(combined, name)
    partial.unpersist()
    _save_props(engine, name, {_OFFSET_PROP: end})
    return out


def rollup_percentiles(
    engine,
    name: str,
    col: str,
    qs: list[float],
    round_to: int = 6,
) -> DataFrame:
    """(group cols…, q, pct): per-group percentile estimates served
    FROM the maintained histogram rollup — no source scan. At 100 TB
    this is the TimescaleDB continuous-aggregate percentile shape: the
    ingest folds keep per-group bin counts current (additive on
    insert-only windows, exact partial recompute under DML), and a
    percentile query reads `groups x n_bins` rollup rows instead of
    the events table. The estimator is the classic histogram
    interpolation: with target rank ``t = q x total``, find the first
    bin whose cumulative count reaches t and interpolate linearly
    inside it — ``lo + bin x w + w x (t - cum_prev) / n_bin`` —
    deterministic given the bin counts, so a SQL oracle replays it
    bit-for-bit from batch per-bin counts (the same closed formula
    NumPy/DuckDB users write by hand over histograms). Resolution is
    the bin width; values clamped into the edge bins (below lo /
    above hi) interpolate inside those bins, as in any fixed-boundary
    histogram. Each q must be in (0, 1]."""
    cfg = engine._resolve(name)
    _, _, _, _, hists, _ = _agg_cols(cfg)
    if col not in hists:
        raise ValueError(
            f"rollup {name!r} maintains no histogram for {col!r}; "
            f"histogram columns: {sorted(hists)}"
        )
    bad = [q for q in qs if not 0.0 < float(q) <= 1.0]
    if bad or not qs:
        raise ValueError(f"qs must be non-empty, each in (0, 1]: {qs}")
    lo, hi, nb = hists[col]
    width = (float(hi) - float(lo)) / int(nb)
    group_cols = cfg.props["derived.group_cols"].split(",")
    from pyspark.sql.window import Window

    bins = (
        engine.read(name)
        .select(*group_cols, F.posexplode(f"hist_{col}").alias("bin", "n"))
    )
    wspec = Window.partitionBy(*group_cols).orderBy("bin")
    wall = Window.partitionBy(*group_cols)
    cum = (
        bins.withColumn("cum", F.sum("n").over(wspec))
        .withColumn("total", F.sum("n").over(wall))
        .filter(F.col("total") > 0)
    )
    qdf = _rows_df(engine.spark, 
        [(float(q),) for q in qs], "q double"
    )
    # first bin whose cumulative count reaches t = q*total; that bin is
    # non-empty by construction (an empty bin's cum equals its
    # predecessor's, so it can never be the first crossing)
    t = F.col("q") * F.col("total")
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .filter((F.col("cum") >= t) & (F.col("cum") - F.col("n") < t))
        .withColumn(
            "pct",
            F.round(
                F.lit(float(lo))
                + F.col("bin") * F.lit(width)
                + F.lit(width)
                * (t - (F.col("cum") - F.col("n")))
                / F.col("n"),
                round_to,
            ),
        )
    )
    return hit.select(*group_cols, "q", "pct")


def rollup_sample(engine, name: str, col: str) -> DataFrame:
    """(group cols…, rank, <col>): the maintained bottom-k-by-hash
    sample, served FROM the rollup — O(groups x k) rows, no source
    scan. Deterministic: the sample is exactly the k source values per
    group whose md5(value) order is smallest, so a SQL oracle replays
    it with a row_number over md5 at any scale, and a refresh-folded
    sample is byte-identical to a from-scratch rebuild. The 100 TB
    use: a standing per-group inspection/eval sample (the thing
    TABLESAMPLE re-scans the fact table for) maintained by the ingest
    folds and read back in milliseconds."""
    cfg = engine._resolve(name)
    _, _, _, _, _, samples = _agg_cols(cfg)
    if col not in samples:
        raise ValueError(
            f"rollup {name!r} maintains no sample for {col!r}; "
            f"sample columns: {sorted(samples)}"
        )
    group_cols = cfg.props["derived.group_cols"].split(",")
    return (
        engine.read(name)
        .select(*group_cols, F.posexplode(f"sample_{col}").alias("pos", "e"))
        .select(
            *group_cols,
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("e.v").alias(col),
        )
    )


def create_join_view(
    engine,
    name: str,
    left: str,
    right: str,
    on: list[str],
    how: str = "inner",
):
    """Define `name` as an incrementally-maintained equi-join view of
    two engine tables — the second classic derived-table shape next to
    rollups (dimension enrichment: fact ⋈ dim materialized once,
    refreshed by deltas). `how` ∈ {'inner', 'left'}: LEFT OUTER keeps
    unmatched left rows NULL-extended, and maintenance repairs them when
    a match later arrives or disappears. The view's record key is the
    union of both sources' record keys (a join row's identity — for
    LEFT views the right-key columns of an unmatched row are NULL, so
    the left key alone must identify it: LEFT views require the join
    columns to contain the right table's record key). Non-join data
    columns must not collide. Refresh with `refresh_join_view`."""
    lcfg, rcfg = engine._resolve(left), engine._resolve(right)
    if not lcfg.record_key_fields or not rcfg.record_key_fields:
        raise ValueError("join view requires keyed sources")
    if how not in ("inner", "left"):
        raise ValueError(f"join view how must be inner|left, got {how!r}")
    if how == "left" and not set(rcfg.record_key_fields) <= set(on):
        # with right-key cols outside `on`, an unmatched row's NULL
        # right-key would collide with other unmatched rows sharing the
        # left key — the view key would not identify rows
        raise ValueError(
            "LEFT join view requires the right table's record key to be "
            "part of the join columns"
        )
    lcols = {f.name for f in engine.read(left).schema.fields}
    rcols = {f.name for f in engine.read(right).schema.fields}
    clash = (lcols & rcols) - set(on) - {
        RECORD_KEY_META, PARTITION_PATH_META, COMMIT_TIME_META,
    }
    if clash:
        raise ValueError(f"join view column collision: {sorted(clash)}")
    key = list(
        dict.fromkeys(
            lcfg.record_key_fields + rcfg.record_key_fields
        )
    )
    if how == "left":
        # unmatched rows NULL the right-side key fields; the left key
        # alone identifies every row (right keys ⊆ on are never NULL on
        # matched rows, but the key must be stable across match/unmatch
        # transitions of the SAME left row)
        key = list(dict.fromkeys(lcfg.record_key_fields))
    return engine.create_table(
        name,
        record_key=key,
        partition_by=None,
        props={
            "derived.join.left": left,
            "derived.join.right": right,
            "derived.join.on": ",".join(on),
            "derived.join.how": how,
        },
    )


def refresh_join_view(engine, name: str) -> dict | None:
    """Fold both sources' new commits into the join view. Insert-only
    windows: candidates = ΔL ⋈ R ∪ L ⋈ ΔR, collapsed by the view key in
    the upsert — each delta joins the OTHER side's snapshot read pruned
    to the delta's join-key values, so refresh cost scales with data
    ARRIVED on either side, never with view or table size. Windows
    containing updates/deletes switch to partial recompute: the CDC
    reads name the changed row identities, every view row built from
    one of them is re-derived exactly from the (key-pruned) current
    snapshots, and pairs that no longer join are deleted. LEFT OUTER
    views additionally repair NULL-extension: a left row whose first
    match arrives loses its NULL row (same view key, overwritten by the
    upsert), and one whose last match disappears regains it. Returns
    the last upsert's commit meta, or None when neither source moved."""
    cfg = engine._resolve(name)
    left = cfg.props["derived.join.left"]
    right = cfg.props["derived.join.right"]
    on = cfg.props["derived.join.on"].split(",")
    how = cfg.props.get("derived.join.how", "inner")
    lcfg, rcfg = engine._resolve(left), engine._resolve(right)
    lkey, rkey = lcfg.record_key_fields, rcfg.record_key_fields
    meta_cols = [RECORD_KEY_META, PARTITION_PATH_META, COMMIT_TIME_META]

    def _advance(le, re_):
        upd = {}
        if le is not None:
            upd["derived.join.left_offset"] = le
        if re_ is not None:
            upd["derived.join.right_offset"] = re_
        if upd:
            _save_props(engine, name, upd)

    lb = cfg.props.get("derived.join.left_offset")
    rb = cfg.props.get("derived.join.right_offset")
    le, lwin = _window_since(engine, left, lb)
    re_, rwin = _window_since(engine, right, rb)
    if le is None and re_ is None:
        return None
    l_data, r_data = _data_ops(lwin), _data_ops(rwin)
    if not l_data and not r_data:
        # table services only on both sides: row content unchanged
        _advance(le, re_)
        return None
    mutated = any(
        m["operation"] not in _ALLOWED for m in (l_data + r_data)
    )
    out = None
    if not mutated:
        cands = []
        if l_data:
            dl = engine.read_incremental(
                left, begin=lb, end=le
            ).drop(*meta_cols).persist()  # key collect + join
            rsnap = _pruned_read(
                engine, right, on[0], _bounded_vals(dl, on[0]), meta_cols
            )
            cands.append((dl.join(rsnap, on, how), dl))
        if r_data:
            dr = engine.read_incremental(
                right, begin=rb, end=re_
            ).drop(*meta_cols).persist()
            lsnap = _pruned_read(
                engine, left, on[0], _bounded_vals(dr, on[0]), meta_cols
            )
            # Δ-right against the LEFT snapshot is always inner: a left
            # row absent from the join never originates here
            cands.append((lsnap.join(dr, on, "inner"), dr))
        combined = cands[0][0]
        if len(cands) == 2:
            combined = combined.unionByName(cands[1][0])
        # ΔL⋈ΔR rows appear on both sides; the upsert's key dedup
        # collapses them (identical images), so no distinct shuffle
        # here. LEFT views need no extra care: a Δ-right match for an
        # existing NULL-extended row shares its view key (the left key)
        # and the upsert overwrites it.
        out = engine.upsert(combined, name)
        for _, d in cands:
            d.unpersist()
    else:
        # changed identities on either side (inserts+updates+deletes).
        # Persisted: each is consumed by the bounded-vals collect plus
        # two broadcast joins — uncached, the changed-key scan would
        # run three times per side.
        changed_l = (
            _changed_ids(engine, left, lkey, lb, le).persist()
            if le is not None and l_data else None
        )
        changed_r = (
            _changed_ids(engine, right, rkey, rb, re_).persist()
            if re_ is not None and r_data else None
        )
        vals_l = (
            _bounded_vals(changed_l, lkey[0]) if changed_l is not None else None
        )
        vals_r = (
            _bounded_vals(changed_r, rkey[0]) if changed_r is not None else None
        )
        if how == "inner":
            out = _recompute_inner(
                engine, name, left, right, on, lkey, rkey, meta_cols,
                changed_l, changed_r, vals_l, vals_r,
            )
        else:
            out = _recompute_left(
                engine, name, left, right, on, lkey, rkey, meta_cols,
                changed_l, changed_r, vals_l, vals_r,
            )
        for d in (changed_l, changed_r):
            if d is not None:
                d.unpersist()
    _advance(le, re_)
    return out


def _changed_ids(engine, src, key_cols, begin, end):
    """Changed data-typed key values of `src` in `(begin, end]` via
    `Engine.changed_keys(key_columns=True)` — the column-pruned
    (key columns, commit_time) diff scan. The typed columns come
    straight off the stored files, so composite keys need no string
    decomposition and binary/decimal keys no lossy cast; `read_cdc`'s
    full row images are never needed for key discovery."""
    return engine.changed_keys(
        src, begin=begin, end=end, key_columns=True
    ).select(*key_cols)


def _recompute_inner(
    engine, name, left, right, on, lkey, rkey, meta_cols,
    changed_l, changed_r, vals_l, vals_r,
):
    """INNER-view partial recompute: re-derive every view row built
    from a changed identity, delete pairs that no longer join. Every
    snapshot read is key-pruned to the changed identities (or their
    join-key values)."""
    parts = []
    cached = []
    if changed_l is not None:
        lsnap = _pruned_read(engine, left, lkey[0], vals_l, meta_cols)
        cl = lsnap.join(F.broadcast(changed_l), lkey, "left_semi").persist()
        cached.append(cl)
        # when the join is ON the left key, cl's join-col values are a
        # subset of the already-collected vals_l — pruning with the
        # superset is sound and skips one collect job
        rv = vals_l if on == lkey else _bounded_vals(cl, on[0])
        rsnap = _pruned_read(engine, right, on[0], rv, meta_cols)
        parts.append(cl.join(rsnap, on))
    if changed_r is not None:
        rsnap = _pruned_read(engine, right, rkey[0], vals_r, meta_cols)
        cr = rsnap.join(F.broadcast(changed_r), rkey, "left_semi").persist()
        cached.append(cr)
        # symmetric: a join ON the right key (the dimension-join shape)
        # reuses vals_r instead of re-collecting from cr
        lv = vals_r if on == rkey else _bounded_vals(cr, on[0])
        lsnap = _pruned_read(engine, left, on[0], lv, meta_cols)
        parts.append(lsnap.join(cr, on))
    fresh = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    # a field shared by both sources' record keys (e.g. both keyed
    # 'id', joined on it) appears once in the join output — dedupe
    # the composite view key or every select/join below is ambiguous
    vkey = list(dict.fromkeys(lkey + rkey))
    # persisted: consumed by the upsert AND the orphan anti-join —
    # uncached, the recompute join would run twice
    fresh = fresh.dropDuplicates(vkey).persist()
    # view rows built from a changed identity that did not re-derive no
    # longer join — they leave as SOFT-DELETE tombstones in the SAME
    # upsert (one atomic commit). The pre-upsert view read names the
    # same gone set a post-upsert read would: the upsert never touches
    # a key absent from `fresh`, and keys in `fresh` are excluded by
    # the anti-join either way.
    stale = None
    if _view_has_data(engine, name):
        if changed_l is not None:
            v = _pruned_read(engine, name, lkey[0], vals_l, meta_cols)
            stale = v.join(F.broadcast(changed_l), lkey, "left_semi")
        if changed_r is not None:
            v = _pruned_read(engine, name, rkey[0], vals_r, meta_cols)
            sr = v.join(F.broadcast(changed_r), rkey, "left_semi")
            stale = sr if stale is None else stale.unionByName(sr)
    payload = fresh
    if stale is not None:
        gone = (
            stale.select(*vkey).distinct()
            .join(fresh.select(*vkey), vkey, "left_anti")
            .withColumn(DELETED_META, F.lit(True))
        )
        payload = fresh.unionByName(gone, allowMissingColumns=True)
    out = engine.upsert(payload, name)
    fresh.unpersist()
    for d in cached:
        d.unpersist()
    return out


def _recompute_left(
    engine, name, left, right, on, lkey, rkey, meta_cols,
    changed_l, changed_r, vals_l, vals_r,
):
    """LEFT-OUTER-view partial recompute. Touched left identities:
    (a) changed left rows, (b) left rows matching a changed right row
    NOW (new/updated match), (c) left rows whose STORED view row
    references a changed right key (their match changed or vanished —
    read from the view, where the join columns carry the right key).
    Every touched-and-live left row is re-derived with a LEFT join
    against the key-pruned right side — regaining its NULL extension
    when the match disappeared; touched-but-dead left rows are deleted
    by view key (the left key: LEFT views are keyed by it)."""
    touched = None

    def _fold(df):
        nonlocal touched
        touched = df if touched is None else touched.unionByName(df)

    if changed_l is not None:
        _fold(changed_l)
    if changed_r is not None:
        # (b): right rows as they NOW stand that changed, joined back to
        # left identities via the join columns. A join ON the right key
        # (the dimension-join shape) reuses the collected vals_r for the
        # left-side prune instead of a second collect job.
        rsnap = _pruned_read(engine, right, rkey[0], vals_r, meta_cols)
        cr = rsnap.join(F.broadcast(changed_r), rkey, "left_semi")
        lsnap = _pruned_read(
            engine, left, on[0],
            vals_r if on == rkey else _bounded_vals(cr, on[0]),
            meta_cols,
        )
        _fold(lsnap.join(cr.select(*on), on, "left_semi").select(*lkey))
        # (c): stored matches referencing a changed right key — the view
        # carries the join columns, and rkey ⊆ on (enforced at create);
        # skipped before the view's first write (nothing stored yet)
        if _view_has_data(engine, name):
            v = _pruned_read(engine, name, rkey[0], vals_r, meta_cols)
            _fold(
                v.join(F.broadcast(changed_r), rkey, "left_semi").select(*lkey)
            )
    touched = touched.distinct().persist()
    t_vals = _bounded_vals(touched, lkey[0])
    live_left = _pruned_read(engine, left, lkey[0], t_vals, meta_cols).join(
        F.broadcast(touched), lkey, "left_semi"
    )
    rsnap2 = _pruned_read(
        engine, right, on[0], _bounded_vals(live_left, on[0]), meta_cols
    )
    fresh = live_left.join(rsnap2, on, "left").dropDuplicates(lkey).persist()
    # touched left identities with no live left row: their view rows die
    # as SOFT-DELETE tombstones in the SAME upsert (one atomic commit);
    # the pre-upsert view read names the same gone set (see
    # _recompute_inner), and is skipped before the view's first write
    payload = fresh
    if _view_has_data(engine, name):
        v = _pruned_read(engine, name, lkey[0], t_vals, meta_cols)
        gone = (
            v.join(F.broadcast(touched), lkey, "left_semi")
            .select(*lkey).distinct()
            .join(fresh.select(*lkey), lkey, "left_anti")
            .withColumn(DELETED_META, F.lit(True))
        )
        payload = fresh.unionByName(gone, allowMissingColumns=True)
    out = engine.upsert(payload, name)
    fresh.unpersist()
    touched.unpersist()
    return out


def create_filter_view(
    engine,
    source: str,
    name: str,
    predicate: str,
    columns: list[str] | None = None,
):
    """Define `name` as an incrementally-maintained FILTERED PROJECTION
    of `source` — the third derived-table shape next to rollups and
    join views, and the one an LLM-data pipeline materializes most: the
    quality-filtered corpus (`quality >= t AND lang = 'en'`) kept fresh
    as documents arrive, re-score, or get deleted. Keyed by the
    source's record key; `columns` optionally projects (must include
    the key fields). Refresh with `refresh_filter_view`: insert-only
    windows upsert the delta's matching rows; windows with DML
    re-derive exactly the CHANGED identities — a row edited out of the
    predicate leaves the view, one edited in arrives."""
    src_cfg = engine._resolve(source)
    if not src_cfg.record_key_fields:
        raise ValueError("filter view requires a keyed source")
    if columns is not None:
        missing = set(src_cfg.record_key_fields) - set(columns)
        if missing:
            raise ValueError(
                f"filter view columns must include the key fields {sorted(missing)}"
            )
    props = {
        "derived.filter.source": source,
        "derived.filter.predicate": predicate,
    }
    if columns:
        props["derived.filter.columns"] = ",".join(columns)
    return engine.create_table(
        name,
        record_key=src_cfg.record_key_fields,
        partition_by=None,
        props=props,
    )


def refresh_filter_view(engine, name: str) -> dict | None:
    """Fold source commits since the last refresh into the filter view.
    Insert-only windows: upsert the delta's predicate-matching rows —
    refresh cost scales with data arrived. Windows containing DML: the
    CDC read names the changed identities; their CURRENT rows are
    re-evaluated against the predicate (key-pruned snapshot read),
    matches upserted, and changed identities without a surviving match
    are deleted from the view. Returns the commit meta, or None when
    the source has no new data commits."""
    cfg = engine._resolve(name)
    source = cfg.props["derived.filter.source"]
    pred = cfg.props["derived.filter.predicate"]
    cols = [
        c for c in cfg.props.get("derived.filter.columns", "").split(",") if c
    ] or None
    key_fields = engine._resolve(source).record_key_fields
    meta_cols = [RECORD_KEY_META, PARTITION_PATH_META, COMMIT_TIME_META]
    win = _refresh_window(engine, name, cfg, source)
    if win is None:
        return None
    begin, end, mutated, _ = win
    if not mutated:
        delta = engine.read_incremental(source, begin=begin, end=end)
        fresh = delta.drop(*meta_cols).filter(pred)
        out = engine.upsert(fresh.select(*cols) if cols else fresh, name)
        _save_props(engine, name, {_OFFSET_PROP: end})
        return out
    # changed_keys, not read_cdc: only WHICH keys moved is consumed —
    # a pruned (key, commit_time) diff scan, no full row images
    changed = engine.changed_keys(source, begin=begin, end=end).persist()
    vals = _bounded_vals(changed, RECORD_KEY_META)
    snap = _pruned_read(engine, source, RECORD_KEY_META, vals, [])
    live = snap.join(F.broadcast(changed), RECORD_KEY_META, "left_semi")
    # persisted: consumed by the upsert AND the survivors anti-join
    fresh = live.filter(pred).drop(*meta_cols).persist()
    survivors = fresh.select(
        record_key_col(key_fields).alias(RECORD_KEY_META)
    )
    # changed identities without a surviving match leave the view as
    # SOFT-DELETE tombstones in the SAME upsert (one atomic commit);
    # the pre-upsert view read names the same dead set — the upsert
    # never touches a key absent from `fresh` — and is skipped before
    # the view's first write (nothing stored yet)
    payload = fresh.select(*cols) if cols else fresh
    if _view_has_data(engine, name):
        gone = changed.join(survivors, RECORD_KEY_META, "left_anti")
        vview = _pruned_read(engine, name, RECORD_KEY_META, vals, [])
        dead = (
            vview.join(F.broadcast(gone), RECORD_KEY_META, "left_semi")
            .select(*key_fields).distinct()
            .withColumn(DELETED_META, F.lit(True))
        )
        payload = payload.unionByName(dead, allowMissingColumns=True)
    out = engine.upsert(payload, name)
    fresh.unpersist()
    changed.unpersist()
    _save_props(engine, name, {_OFFSET_PROP: end})
    return out


class _Kind(NamedTuple):
    """One derived-table kind: the props naming its source tables (the
    first one marks a table as this kind) and its refresher, found by
    module and function name at call time — the index modules import
    this one, so importing them here would be a cycle."""

    sources: tuple[str, ...]
    module: str
    refresher: str

    def deps(self, props: dict) -> list[str]:
        return [props[p] for p in self.sources]

    def refresh(self, engine, name: str):
        return getattr(import_module(self.module), self.refresher)(
            engine, name
        )


# every derived kind; `refresh_all` and `CALL refresh_<kind>` both
# dispatch from here, so a new kind is one more entry
_KINDS = {
    "rollup": _Kind(("derived.source",), __name__, "refresh_rollup"),
    "join": _Kind(
        ("derived.join.left", "derived.join.right"), __name__,
        "refresh_join_view",
    ),
    "filter": _Kind(
        ("derived.filter.source",), __name__, "refresh_filter_view"
    ),
    "vecindex": _Kind(
        ("vecindex.source",), "hudi_demo_spark.engine.vector_index",
        "refresh_vector_index",
    ),
    "mhindex": _Kind(
        ("mhindex.source",), "hudi_demo_spark.engine.minhash_index",
        "refresh_minhash_index",
    ),
    "textindex": _Kind(
        ("textindex.source",), "hudi_demo_spark.engine.text_index",
        "refresh_text_index",
    ),
    "decontam": _Kind(
        ("decontam.train", "decontam.eval"),
        "hudi_demo_spark.engine.decontam_view", "refresh_decontam_view",
    ),
}


def _kind_refreshed_by(proc: str) -> _Kind | None:
    """The kind whose refresher a `CALL <proc>` names, or None."""
    return next((k for k in _KINDS.values() if k.refresher == proc), None)


def refresh_all(engine) -> dict[str, dict | None]:
    """Refresh EVERY derived table in dependency order — the one-call
    settle for cascading views (a rollup over a rollup, a join view over
    a rollup): topological over each table's source edges, so an
    upstream delta has propagated through level N before level N+1
    refreshes. The kinds, their sources and their refreshers come from
    the `_KINDS` registry; adding a kind means adding one entry there.
    Returns {view: commit meta | None} in refresh order. Raises on a
    dependency cycle (impossible to settle)."""
    deps: dict[str, list[str]] = {}
    kinds: dict[str, _Kind] = {}
    for name in engine.list_tables():
        props = engine._resolve(name).props
        kind = next(
            (k for k in _KINDS.values() if k.sources[0] in props), None
        )
        if kind is not None:
            deps[name] = kind.deps(props)
            kinds[name] = kind
    order: list[str] = []
    pending = set(deps)
    while pending:
        ready = sorted(
            n for n in pending if not any(d in pending for d in deps[n])
        )
        if not ready:
            raise ValueError(
                f"cyclic derived-table dependencies: {sorted(pending)}"
            )
        order.extend(ready)
        pending.difference_update(ready)
    return {n: kinds[n].refresh(engine, n) for n in order}


def _refresh_recompute(
    engine, name, source, group_cols, sum_cols, begin, end,
    expr_cols: dict[str, str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    approx_cols: list[str] | None = None,
    hist_cols: dict[str, list] | None = None,
    sample_cols: dict[str, int] | None = None,
):
    """View maintenance under arbitrary source DML: the CDC read names
    every changed row identity in (begin, end]; the affected GROUPS are
    those identities' groups in the before- and after-snapshots (both
    sides, so a group-moving update repairs its old group too). Those
    groups — and only those — are re-aggregated exactly from the current
    snapshot and upserted; groups that lost their last row are deleted
    from the rollup. Both snapshot scans are key-pruned: the changed-key
    probe rides the record-key ranges / record index, the group
    re-aggregation rides col-stats or a secondary index on the first
    group column that exists in the SOURCE (expression-derived group
    columns can't prune a physical scan — continuous aggregates keyed
    only by a bucket expression fall back to stored, unpruned columns).
    Group columns are assumed non-null (they are the rollup's record
    key)."""
    expr_cols = expr_cols or {}
    # changed_keys, not read_cdc: only WHICH keys moved is consumed —
    # a pruned (key, commit_time) diff scan, no full row images
    keys = engine.changed_keys(source, begin=begin, end=end).persist()
    key_vals = _bounded_vals(keys, RECORD_KEY_META)
    snap_k = _project(
        _pruned_read(engine, source, RECORD_KEY_META, key_vals, []), expr_cols
    )
    affected = snap_k.join(keys, RECORD_KEY_META, "left_semi").select(*group_cols)
    if begin is not None:
        prev = _project(
            engine.read(
                source, as_of=begin,
                point_prune=(RECORD_KEY_META, key_vals),
            )
            if key_vals is not None else engine.read(source, as_of=begin),
            expr_cols,
        )
        affected = affected.union(
            prev.join(keys, RECORD_KEY_META, "left_semi").select(*group_cols)
        )
    groups = affected.distinct().persist()  # group collect + 2 joins
    prune_col = next((c for c in group_cols if c not in expr_cols), None)
    snap_g = _project(
        _pruned_read(
            engine, source, prune_col,
            _bounded_vals(groups, prune_col) if prune_col else None, [],
        ),
        expr_cols,
    )
    # persisted: feeds both union branches (directly, and via the
    # gone anti-join) — one re-aggregation pass, not two
    fresh = (
        # mark AFTER the semi-join: the sample ranking windows run over
        # only the affected groups' rows, not the whole snapshot
        _sample_mark(
            snap_g.join(groups, group_cols, "left_semi"),
            group_cols, sample_cols,
        )
        .groupBy(*group_cols)
        .agg(
            *_agg_exprs(
                sum_cols, min_cols or [], max_cols or [], approx_cols or [],
                hist_cols or {}, sample_cols or {},
            )
        )
    ).persist()
    # groups that lost their last row leave the rollup as SOFT-DELETE
    # tombstones in the SAME upsert — repair and eviction are one
    # atomic commit (no observable state between them)
    gone = (
        groups.join(fresh.select(*group_cols), group_cols, "left_anti")
        .withColumn(DELETED_META, F.lit(True))
    )
    meta = engine.upsert(
        fresh.unionByName(gone, allowMissingColumns=True), name
    )
    fresh.unpersist()
    groups.unpersist()
    keys.unpersist()
    return meta
