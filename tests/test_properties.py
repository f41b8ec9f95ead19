"""Property-based tests (hypothesis): engine key semantics and corpus
operator invariants hold for ARBITRARY inputs, not just fixture shapes.

Each example generates a batch of rows and runs ONE Spark job over it,
compared against an independent pure-Python model of the reference rules
(JavaClientHive2Hudi.java:390-439 key/partition semantics)."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# endurance / randomized-property sweeps: excluded from the default run
# (driver verify window); enable with --runslow or SPARK_GRAFT_SLOW=1
pytestmark = pytest.mark.slow

from hudi_demo_spark.engine.keys import (
    DEFAULT_PARTITION,
    EMPTY_PLACEHOLDER,
    NULL_PLACEHOLDER,
    partition_path_col,
    record_key_col,
)

# printable text without the separators the key format uses
_val = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=8,
    ),
)
_rows = st.lists(st.tuples(_val, _val), min_size=1, max_size=30)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _model_complex_key(a, b):
    if a is None and b is None:
        return None  # raises in engine
    def enc(v):
        if v is None:
            return NULL_PLACEHOLDER
        if v == "":
            return EMPTY_PLACEHOLDER
        return v
    return f"f1:{enc(a)},f2:{enc(b)}"


@given(_rows)
@settings(**_SETTINGS)
def test_complex_key_matches_reference_model(spark, rows):
    df = spark.createDataFrame(rows, "f1 string, f2 string")
    legal = [r for r in rows if not (r[0] is None and r[1] is None)]
    got = [
        r["k"]
        for r in df.filter(
            F.col("f1").isNotNull() | F.col("f2").isNotNull()
        ).select(record_key_col(["f1", "f2"]).alias("k")).collect()
    ]
    want = [_model_complex_key(a, b) for a, b in legal]
    assert sorted(got) == sorted(want)


@given(_rows)
@settings(**_SETTINGS)
def test_all_null_complex_key_raises(spark, rows):
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    df = spark.createDataFrame(
        [(None, None)], "f1 string, f2 string"
    )
    with pytest.raises((PySparkRuntimeError, SparkRuntimeException, Exception)):
        df.select(record_key_col(["f1", "f2"]).alias("k")).collect()


@given(_rows, st.booleans())
@settings(**_SETTINGS)
def test_partition_path_matches_reference_model(spark, rows, hive):
    df = spark.createDataFrame(rows, "f1 string, f2 string")
    got = sorted(
        r["p"]
        for r in df.select(
            partition_path_col(["f1", "f2"], hive_style=hive).alias("p")
        ).collect()
    )
    def enc(v):
        return DEFAULT_PARTITION if (v is None or v == "") else v
    want = sorted(
        (f"f1={enc(a)}/f2={enc(b)}" if hive else f"{enc(a)}/{enc(b)}")
        for a, b in rows
    )
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=80),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=128),
)
@settings(**_SETTINGS)
def test_pack_offsets_contiguous_any_input(spark, id_lens, seq_len):
    """Stream packing invariants for arbitrary corpora: offsets are a
    contiguous token stream in id order, and sequence spans follow from
    the offsets arithmetically."""
    from hudi_demo_spark.operators.corpus import pack_offsets

    rows = [(i, " ".join("w" for _ in range(n))) for i, n in id_lens]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["start_token"], r["first_seq"], r["last_seq"])
        for r in pack_offsets(df, "doc_id", "text", seq_len=seq_len, n_buckets=7).collect()
    )
    off = 0
    for (i, n), (gi, gn, gs, gf, gl) in zip(sorted(id_lens), got):
        assert (gi, gn, gs) == (i, n, off)
        assert gf == off // seq_len and gl == (off + n) // seq_len
        off += n + 1  # EOS


# ---------------------------------------------------------------------
# partial-update payload: engine merge == pure-Python fold of
# PartialUpdateAvroPayload semantics (newest non-null per column in
# preCombine-then-commit order) for ARBITRARY version histories
# ---------------------------------------------------------------------

_pv = st.one_of(st.none(), st.integers(min_value=-99, max_value=99))
# versions of one key with NON-DECREASING ordering values (the realistic
# CDC shape, and the case where partial-update merging is well-defined:
# with out-of-order orderings the result is inherently fold-order
# dependent — in Hudi too — see _merge_view's caveat)
_versions = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5), _pv, _pv),
    min_size=1, max_size=6,
).map(lambda vs: sorted(vs, key=lambda v: v[0]))


def _model_partial_merge(versions):
    """Sequential fold of PartialUpdateAvroPayload semantics: each
    commit's row wins (ordering is non-decreasing), null columns fall
    back to the previously merged value."""
    ts = a = b = None
    for vts, va, vb in versions:
        ts = vts
        a = va if va is not None else a
        b = vb if vb is not None else b
    return (ts, a, b)


@given(_versions, st.sampled_from(["cow", "mor"]))
@settings(**_SETTINGS)
def test_partial_update_matches_reference_fold(
    spark, tmp_path_factory, versions, table_type
):
    from hudi_demo_spark.engine import Engine

    root = tmp_path_factory.mktemp("pp")
    eng = Engine(spark, root)
    eng.create_table("t", record_key="id", precombine="ts",
                     payload="partial_update", table_type=table_type)
    for ts, a, b in versions:
        df = spark.createDataFrame(
            [(1, ts, a, b)], "id int, ts long, a int, b int"
        )
        eng.upsert(df, "t")
    got = eng.read("t").select("ts", "a", "b").collect()
    assert len(got) == 1
    want = _model_partial_merge(versions)
    assert (got[0]["ts"], got[0]["a"], got[0]["b"]) == want


# ---------------------------------------------------------------------
# DML state machine: random op sequences vs a pure-Python key->row
# model, with table services (compact / log-compact / clean / archive)
# sprinkled in — services must NEVER change visible state
# ---------------------------------------------------------------------

_ids = st.integers(min_value=0, max_value=5)
_ts = st.integers(min_value=0, max_value=5)
_upsert_rows = st.lists(st.tuples(_ids, _ts), min_size=1, max_size=4)
# soft-delete batches: unique ids per batch (a same-key live/tombstone
# pair inside one commit has no defined winner — same as Hudi), each id
# either a live row or a `_hoodie_is_deleted` tombstone
_soft_rows = st.dictionaries(
    _ids, st.tuples(_ts, st.booleans()), min_size=1, max_size=4
).map(lambda d: [(i, ts, dead) for i, (ts, dead) in d.items()])
_op = st.one_of(
    st.tuples(st.just("upsert"), _upsert_rows),
    st.tuples(st.just("soft_upsert"), _soft_rows),
    st.tuples(st.just("delete"), st.lists(_ids, min_size=1, max_size=3)),
    st.tuples(st.just("insert_dedup"), _upsert_rows),
    st.tuples(st.just("compact"), st.just(None)),
    st.tuples(st.just("log_compact"), st.just(None)),
    st.tuples(st.just("clean"), st.just(None)),
    st.tuples(st.just("archive"), st.just(None)),
    st.tuples(st.just("merge_sync"), _upsert_rows),
)
_program = st.lists(_op, min_size=1, max_size=8)


def _model_apply(model, op, arg, commit_no):
    """DEFAULT payload: ordering field wins across commits, commit
    breaks ties toward the newer write."""
    if op == "upsert":
        batch = {}
        for i, ts in arg:  # intra-batch: max ts, later row breaks ties
            if i not in batch or ts >= batch[i]:
                batch[i] = ts
        for i, ts in batch.items():
            if i not in model or ts >= model[i][0]:
                model[i] = (ts, commit_no)
    elif op == "soft_upsert":
        # a tombstone ENDS the key's history (delete-era fencing): it
        # kills every prior version regardless of ordering value, and
        # only strictly-later commits resurrect the key. Live rows in
        # the same batch compete like any upsert.
        for i, ts, dead in arg:
            if dead:
                model.pop(i, None)
            elif i not in model or ts >= model[i][0]:
                model[i] = (ts, commit_no)
    elif op == "delete":
        for i in arg:
            model.pop(i, None)
    elif op == "insert_dedup":
        batch = {}
        for i, ts in arg:
            if i not in batch or ts >= batch[i]:
                batch[i] = ts
        for i, ts in batch.items():
            if i not in model:
                model[i] = (ts, commit_no)
    elif op == "merge_sync":
        # MERGE mirror: matched update, unmatched insert, NOT MATCHED BY
        # SOURCE delete — the table becomes exactly the (deduped) batch
        batch = {}
        for i, ts in arg:
            if i not in batch or ts >= batch[i]:
                batch[i] = ts
        model = {i: (ts, commit_no) for i, ts in batch.items()}
    return model


@given(_program, st.sampled_from(["cow", "mor"]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_dml_state_machine_matches_model(
    spark, tmp_path_factory, program, table_type
):
    from hudi_demo_spark.engine import Engine

    root = tmp_path_factory.mktemp("sm")
    eng = Engine(spark, root)
    eng.create_table("t", record_key="id", precombine="ts",
                     table_type=table_type, payload="default")
    model: dict[int, tuple[int, int]] = {}
    for n, (op, arg) in enumerate(program):
        if op == "upsert":
            eng.upsert(spark.createDataFrame(
                [(i, ts) for i, ts in arg], "id int, ts long"), "t")
        elif op == "soft_upsert":
            from hudi_demo_spark.engine.config import DELETED_META

            eng.upsert(
                spark.createDataFrame(
                    [(i, ts, dead) for i, ts, dead in arg],
                    f"id int, ts long, {DELETED_META} boolean",
                ),
                "t",
            )
        elif op == "delete":
            eng.delete_keys("t", spark.createDataFrame(
                [(i,) for i in set(arg)], "id int"))
        elif op == "insert_dedup":
            eng.insert(spark.createDataFrame(
                [(i, ts) for i, ts in arg], "id int, ts long"),
                "t", drop_duplicates=True)
        elif op == "merge_sync":
            eng.merge(
                "t",
                spark.createDataFrame(
                    [(i, ts) for i, ts in arg], "id int, ts long"
                ),
                not_matched_by_source_delete_cond="true",
            )
        elif op == "compact":
            eng.compact("t")
        elif op == "log_compact":
            eng.log_compact("t")
        elif op == "clean":
            eng.clean("t", retain_commits=50)
        elif op == "archive":
            eng.archive("t", keep=2)
        model = _model_apply(model, op, arg, n)
        got = {r["id"]: r["ts"] for r in eng.read("t").collect()}
        want = {i: ts for i, (ts, _) in model.items()}
        assert got == want, f"after op {n} {op}{arg}: {got} != {want}"


# ---------------------------------------------------------------------------
# full schema evolution vs a pure-Python model
# ---------------------------------------------------------------------------

_ev_op = st.tuples(
    st.sampled_from(["insert", "rename", "widen", "drop", "add"]),
    st.integers(0, 7),
)
_ev_program = st.lists(_ev_op, min_size=2, max_size=8)


@given(_ev_program)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_schema_evolution_matches_model(spark, tmp_path_factory, program):
    """Arbitrary interleavings of insert/rename/widen/drop/add keep the
    snapshot equal to a pure-Python model: renames carry values, widened
    ints read back numerically equal, added columns are NULL for older
    rows, dropped columns disappear."""
    from hudi_demo_spark.engine import Engine

    root = tmp_path_factory.mktemp("ev")
    eng = Engine(spark, root)
    eng.create_table("t", record_key="id")
    cols: dict[str, str] = {"c0": "int"}
    rows: dict[int, dict] = {}
    counter = [0, 0]  # next fresh column suffix, next row id

    def do_insert():
        schema = "id int" + "".join(f", {c} {t}" for c, t in cols.items())
        batch = []
        for _ in range(3):
            i = counter[1]
            counter[1] += 1
            vals = {}
            for n, (c, t) in enumerate(cols.items()):
                v = i * 10 + n
                vals[c] = float(v) if t == "double" else v
            rows[i] = dict(vals)
            batch.append((i, *vals.values()))
        eng.insert(spark.createDataFrame(batch, schema), "t")

    do_insert()  # pin the schema before any alter
    for op, sel in program:
        if op == "insert":
            do_insert()
        elif op == "rename":
            cands = sorted(cols)
            old = cands[sel % len(cands)]
            new = f"r{counter[0]}"
            counter[0] += 1
            eng.alter_table("t", rename={old: new})
            cols[new] = cols.pop(old)
            for r in rows.values():
                r[new] = r.pop(old, None)
        elif op == "widen":
            cands = sorted(c for c, t in cols.items() if t != "double")
            if not cands:
                continue
            c = cands[sel % len(cands)]
            to = "bigint" if cols[c] == "int" else "double"
            eng.alter_table("t", widen={c: to})
            cols[c] = to
            if to == "double":
                for r in rows.values():
                    if r.get(c) is not None:
                        r[c] = float(r[c])
        elif op == "drop":
            if len(cols) <= 1:
                continue
            cands = sorted(cols)
            c = cands[sel % len(cands)]
            eng.alter_table("t", drop=[c])
            del cols[c]
            for r in rows.values():
                r.pop(c, None)
        elif op == "add":
            new = f"a{counter[0]}"
            counter[0] += 1
            eng.alter_table("t", add={new: "int"})
            cols[new] = "int"
        got = {
            r["id"]: {c: r[c] for c in cols}
            for r in eng.read("t").select("id", *cols).collect()
        }
        want = {i: {c: r.get(c) for c in cols} for i, r in rows.items()}
        assert got == want, f"after {op}: {got} != {want}"


_batch_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),    # key (few → collisions)
        st.integers(min_value=0, max_value=50),   # ts (precombine)
        st.floats(min_value=0, max_value=100, allow_nan=False),
    ),
    min_size=1, max_size=60,
)


@given(_batch_rows, st.integers(min_value=2, max_value=8))
@settings(**_SETTINGS)
def test_salted_dedup_equivalent_to_plain(spark, tmp_path_factory, rows,
                                          salt_n):
    """write.skew_salt property: the salted two-phase preCombine dedup
    keeps exactly one row per key with the max ts, identical key→ts map
    to the plain single-window path, for ANY batch and salt width."""
    from hudi_demo_spark import Engine

    root = tmp_path_factory.mktemp("saltlake")
    eng = Engine(spark, root)
    eng.create_table("a", record_key="id", precombine="ts",
                     props={"write.skew_salt": str(salt_n)})
    eng.create_table("b", record_key="id", precombine="ts")
    df = spark.createDataFrame(rows, "id int, ts long, v double")
    ca, cb = eng._resolve("a"), eng._resolve("b")
    sa = eng._conform(eng._stamp(df, ca, "t0"), ca)
    sb = eng._conform(eng._stamp(df, cb, "t0"), cb)
    got_a = {(r["id"], r["ts"]) for r in eng._dedup_batch(sa, ca).collect()}
    got_b = {(r["id"], r["ts"]) for r in eng._dedup_batch(sb, cb).collect()}
    want = {}
    for k, ts, _ in rows:
        want[k] = max(want.get(k, -1), ts)
    assert {p[0] for p in got_a} == set(want)
    assert {(k, want[k]) for k in want} == {(k, t) for k, t in got_a}
    assert {(k, t) for k, t in got_a} == {(k, t) for k, t in got_b}


def _lev(a: str, b: str) -> int:
    """Textbook Levenshtein (pure-Python model)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_words = st.lists(
    st.text(alphabet="abcx ", min_size=0, max_size=12),
    min_size=2, max_size=12,
)


@given(_words, st.integers(min_value=1, max_value=2))
@settings(**_SETTINGS)
def test_edit_near_pairs_complete_and_sound(spark, words, d):
    """SymSpell blocking property: for ANY strings the mined pair set
    equals the brute-force Levenshtein-≤d pair set — completeness (the
    deletion-neighborhood guarantee) and soundness (the exact verify)
    together, against an independent pure-Python model."""
    from hudi_demo_spark.operators.dedup import edit_near_pairs

    rows = list(enumerate(words))
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        (r.a, r.b, r.edit)
        for r in edit_near_pairs(df, "id", "t", max_edit=d).collect()
    }
    want = {
        (i, j, _lev(words[i], words[j]))
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if _lev(words[i], words[j]) <= d
    }
    assert got == want


_keys = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1, max_size=200,
)


@given(_keys, st.sampled_from([0.05, 0.2, 0.5]),
       st.integers(min_value=1, max_value=5))
@settings(**_SETTINGS)
def test_heavy_hitters_exact_for_any_layout(spark, keys, support, parts):
    """Misra-Gries mining property: for ANY key sequence, support and
    partitioning, the result equals the exact 'freq >= support*N' set
    with exact counts — the per-partition sketch never loses a true
    heavy hitter."""
    from collections import Counter

    from hudi_demo_spark.operators.profile import heavy_hitters

    df = spark.createDataFrame(
        [(k,) for k in keys], "k string"
    ).repartition(parts)
    got = {(r.k, r.freq) for r in heavy_hitters(df, "k", support).collect()}
    c = Counter(keys)
    want = {(k, n) for k, n in c.items() if n >= support * len(keys)}
    assert got == want


def test_prepare_equals_stamp_conform(spark, tmp_path_factory):
    """`Engine._prepare` (the fused single-projection batch prep) must
    be indistinguishable from `_conform(_stamp(df), …)` — schema (names,
    types, order), row values, and the schema-evolution side effect —
    across COW/MOR, partitioned/keyless, evolution extras, incoming
    meta columns, and keep_deleted."""
    import json as _json

    from hudi_demo_spark import Engine
    from hudi_demo_spark.engine.config import (
        COMMIT_TIME_META,
        DELETED_META,
    )

    root = tmp_path_factory.mktemp("prep")
    eng = Engine(spark, root / "lake")
    base = spark.createDataFrame(
        [(1, "a", "p1", 5.0, True), (2, None, "p2", None, None),
         (3, "c", None, 1.5, False)],
        "id int, name string, pt string, v double, _hoodie_is_deleted boolean",
    )
    cases = []
    eng.create_table("cow", record_key="id", partition_by="pt")
    cases.append(("cow", base.drop(DELETED_META), False))
    cases.append(("cow", base, True))  # keep_deleted append path
    eng.create_table("mor", record_key="id", table_type="mor")
    cases.append(("mor", base.drop(DELETED_META), False))  # adds marker
    cases.append(("mor", base, True))  # marker flows through
    eng.create_table("keyless", record_key=None)
    cases.append(("keyless", base.drop(DELETED_META, "id"), False))
    # evolution: an extra column not in the stored schema
    cases.append(("cow", base.drop(DELETED_META).withColumn(
        "extra", base["id"] * 2), False))
    # incoming meta columns must be recomputed, not passed through
    cases.append(("cow", base.drop(DELETED_META).withColumn(
        COMMIT_TIME_META, base["name"]), False))
    for tbl, df, keep in cases:
        cfg = eng._resolve(tbl)
        instant = "20990101000000000000"
        saved = cfg.schema_json
        want = eng._conform(eng._stamp(df, cfg, instant), cfg,
                            keep_deleted=keep)
        json_unfused = cfg.schema_json
        cfg.schema_json = saved  # rewind the evolution side effect
        got = eng._prepare(df, cfg, instant, keep_deleted=keep)
        assert cfg.schema_json == json_unfused, (tbl, keep)
        assert [(f.name, f.dataType) for f in got.schema.fields] == [
            (f.name, f.dataType) for f in want.schema.fields
        ], (tbl, keep)
        if tbl == "keyless":
            # uuid() keys differ per evaluation; compare sans key col
            from hudi_demo_spark.engine.config import RECORD_KEY_META

            got = got.drop(RECORD_KEY_META)
            want = want.drop(RECORD_KEY_META)
        grows = sorted(map(str, got.collect()))
        wrows = sorted(map(str, want.collect()))
        assert grows == wrows, (tbl, keep)


# ---------------------------------------------------------------------------
# read pruning: the where-router's grammar, any combination
# ---------------------------------------------------------------------------

_where_atom = st.sampled_from([
    "p = 'a'", "p = ''", "p = 'default'", "p in ('a', 'b')", "c = 3",
    "c = '3'", "c in (1, 03)", "s = 7", "s = '07'", "f = 1.5",
    "v between 10 and 30", "v >= 5", "v <= 60",
    "_hoodie_record_key = '7'", "id = 8", "id in (1, 040)",
])
_where_conj = st.lists(_where_atom, min_size=1, max_size=3).map(" and ".join)
_where_dnf = st.lists(_where_conj, min_size=1, max_size=2).map(" or ".join)
_where = st.one_of(
    _where_dnf,
    st.tuples(_where_conj, _where_dnf).map(lambda t: f"{t[0]} and ({t[1]})"),
)


@given(st.lists(_where, min_size=1, max_size=4),
       st.sampled_from(["cow", "mor"]), st.booleans())
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_pruned_read_equals_filtered_read(
    spark, tmp_path_factory, wheres, table_type, indexed
):
    """A pruned read equals the unpruned read plus the filter, for any
    predicate of the router's grammar (tests/test_prune_pass.py's
    fixture rows), with and without a secondary index, now and as of
    the commit before the upsert."""
    from test_prune_pass import _ROWS, _SCHEMA, _UPSERT, _state

    from hudi_demo_spark.engine import Engine
    from hudi_demo_spark.engine.timeline import Timeline

    eng = Engine(spark, tmp_path_factory.mktemp("prune"))
    eng.create_table(
        "t", record_key="id", precombine="ts", partition_by="p",
        table_type=table_type, props={"write.stats_cols": "c,v,s"},
    )
    eng.insert(spark.createDataFrame(_ROWS, _SCHEMA), "t")
    if indexed:
        eng.create_index("t", "c")
    first = Timeline(eng._resolve("t").path).last_instant()
    eng.upsert(spark.createDataFrame(_UPSERT, _SCHEMA), "t")
    for w in wheres:
        for as_of in (None, first):
            assert _state(eng.read("t", as_of=as_of, where=w)) == _state(
                eng.read("t", as_of=as_of).filter(w)
            ), (w, as_of)
