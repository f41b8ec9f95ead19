"""The three closed-loop workloads of the lifecycle benchmark.

Each workload owns one engine root, a driver-side model of what it wrote,
and a seeded batch generator. `build()` creates and loads the user table,
`bootstrap()` builds the indexes derived from it, `step()` runs one
closed-loop iteration (a write, then one read of each kind that follows it),
and `final_checks()` compares the tables with the model once the timed
loop is over. Timing, failure counting and tracing go through the harness
object `h` (see run.py): `h.op(kind, fn)` times one operation, `h.check`
records one correctness check, `h.tr` is the tracer.

Why these three (README.md has the full argument):
- `cow_upsert` puts the copy-on-write write path under load: key-range and
  bloom pruning, partition rewrite, commit publish, secondary-index append,
  over a timeline that grows by one instant per iteration.
- `mor_mixed` is read-heavy over cheap delta appends, with inline compaction
  every few commits: read-time merge cost rises with pending deltas and
  drops at each compaction.
- `dedup_ingest` spends its time in derived-index maintenance (MinHash-LSH
  and BM25) and index-served search, which the other two never touch.
"""

from __future__ import annotations

import random
from pathlib import Path

from pyspark.sql import functions as F

import fixtures as fx
from hudi_demo_spark import Engine
from hudi_demo_spark.engine import minhash_index as mh
from hudi_demo_spark.engine import text_index as tx
from hudi_demo_spark.engine.config import MOR
from hudi_demo_spark.engine.timeline import Timeline
from hudi_demo_spark.operators.text import bm25_topk
from hudi_demo_spark.operators.util import rows_df
from hudi_demo_spark.sources import readers

ORDER_COLS = [f.strip().split(" ")[0] for f in fx.ORDERS_SCHEMA.split(",")]
EVENT_COLS = [f.strip().split(" ")[0] for f in fx.EVENTS_SCHEMA.split(",")]
DOC_COLS = [f.strip().split(" ")[0] for f in fx.DOCS_SCHEMA.split(",")]


def _rows(df, cols) -> list[tuple]:
    return [tuple(r) for r in df.select(*cols).collect()]


class Workload:
    name = ""
    table = ""
    schema = ""
    cols: list[str] = []
    query = ""  # the workload's characteristic read, reported as query_*
    traced: list[str] = []  # tracing.TARGETS it exercises beyond tracing.COMMON
    # iterations run after set-up and before the timed loop, counted in
    # set-up: the first iterations of a fresh JVM run 1.5-2x slower
    warmup_steps = 2

    def __init__(self, h, spark, root: Path, fixture_dir: Path, seed: int, size: dict):
        self.h, self.spark, self.root, self.seed = h, spark, root, seed
        self.fixture_dir, self.size = fixture_dir, size
        self.rng = random.Random(seed * 7919 + 1)
        self.eng = Engine(spark, root)
        self.model: dict[int, tuple] = {}
        self.rows_written = 0
        self.prev_instant: str | None = None

    # the initial table rows; written to parquet once per run
    @classmethod
    def fixture_rows(cls, seed: int, size: dict) -> list[tuple]:
        raise NotImplementedError

    def load(self):
        return readers.load_table(self.spark, str(self.fixture_dir), self.table)

    def batch_df(self, rows):
        return rows_df(self.spark, rows, self.schema)

    @property
    def path(self) -> Path:
        return self.root / self.table

    def last_instant(self) -> str | None:
        with self.h.tr.paused():
            return Timeline(self.path).last_instant()

    # ---------------- shared reads and checks ----------------

    def key_read(self, key: int) -> None:
        got = self.h.op("key_read", lambda: self._read_where(f"{self.cols[0]} = {key}", "key"))
        self.h.check("key_read", got == [self.model[key]], f"key {key}: {got}")

    def pick_key(self, batch: list[tuple]) -> int:
        """Half the point reads ask for a row of the last batch, half for
        any row of the table."""
        if batch and self.rng.random() < 0.5:
            return batch[self.rng.randrange(len(batch))][0]
        return self.keys[self.rng.randrange(len(self.keys))]

    def _read_where(self, where: str, kind: str) -> list[tuple]:
        df = self.eng.read(self.table, where=where)
        self.h.files_scanned(kind, self.path, df)
        return self.h.tr.run(df, lambda: _rows(df, self.cols))

    def incr_read(self, begin: str | None, end: str, keys) -> None:
        def go():
            df = self.eng.read_incremental(self.table, begin=begin, end=end)
            self.h.files_scanned("incr", self.path, df)
            return self.h.tr.run(df, lambda: _rows(df, self.cols))

        got = self.h.op("incr_read", go)
        want = sorted(self.model[k] for k in keys)
        self.h.check(
            "incr_read", sorted(got) == want, f"{len(got)} rows vs {len(want)} in batch"
        )

    def final_checks(self) -> None:
        """Snapshot equals the model, also through a fresh Engine on the
        same root (nothing lives only in this Engine object)."""
        with self.h.tr.paused():
            want = sorted(self.model.values())
            got = sorted(_rows(self.eng.read(self.table), self.cols))
            self.h.check("snapshot", got == want, f"{len(got)} rows vs {len(want)}")
            fresh = Engine(self.spark, self.root)
            got = sorted(_rows(fresh.read(self.table), self.cols))
            self.h.check("fresh_snapshot", got == want, f"{len(got)} rows vs {len(want)}")

    def live_bytes(self) -> int:
        with self.h.tr.paused():
            live = Timeline(self.path).live_files()
        total = 0
        for rel, m in live.items():
            b = m.get("bytes")
            total += int(b) if b else (self.path / rel).stat().st_size
        return total


class CowUpsert(Workload):
    """Keyed upserts into a copy-on-write `orders` table with a bloom index
    and a secondary index on `o_custkey`, each followed by record-key point
    reads, secondary-index point reads and incremental reads."""

    name = "cow_upsert"
    table = "orders"
    schema = fx.ORDERS_SCHEMA
    cols = ORDER_COLS
    query = "index_read"
    traced = [
        "Engine.upsert",
        "load",
        "SecondaryIndex.lookup_partitions",
        "SecondaryIndex.append",
    ]

    @classmethod
    def fixture_rows(cls, seed, size):
        rng = random.Random(seed)
        return [
            fx.order_row(rng, k, rng.randrange(size["customers"]), rng.randrange(size["months"]))
            for k in range(size["orders"])
        ]

    def build(self, rows) -> None:
        self.model = {r[0]: r for r in rows}
        self.keys = list(self.model)
        newest = {fx.month_start(self.size["months"] - i).strftime("%Y-%m") for i in (1, 2, 3)}
        self.recent = [k for k, r in self.model.items() if r[6] in newest]
        self.older: dict[str, list[int]] = {}
        for k, r in self.model.items():
            if r[6] not in newest:
                self.older.setdefault(r[6], []).append(k)
        self.by_cust: dict[int, set[int]] = {}
        for k, r in self.model.items():
            self.by_cust.setdefault(r[1], set()).add(k)
        self.next_key = len(rows)
        self.eng.create_table(
            self.table,
            record_key="o_orderkey",
            partition_by="o_month",
            props={"index.bloom.enabled": "true"},
        )
        self.eng.insert(self.load(), self.table)

    def bootstrap(self) -> None:
        self.eng.create_index(self.table, "o_custkey")
        self.prev_instant = self.last_instant()

    def make_batch(self) -> list[tuple]:
        """90% updates, mostly of orders in the newest three months with a
        few late updates scattered over older months, and 10% new orders.
        An update keeps the order's date, so it stays in its partition."""
        rng, n = self.rng, self.size["cow_batch"]
        n_new = max(1, n // 10)
        n_late = max(1, (n - n_new) // 10)
        # late updates go to distinct older months while there are enough,
        # so every batch rewrites the same number of cold partitions
        months = sorted(self.older)
        months = rng.sample(months, min(n_late, len(months)))
        picked: set[int] = set()
        while len(picked) < n_late:
            pool = self.older[months[len(picked) % len(months)]]
            picked.add(pool[rng.randrange(len(pool))])
        while len(picked) < n - n_new:
            picked.add(self.recent[rng.randrange(len(self.recent))])
        rows = []
        for k in sorted(picked):
            old = self.model[k]
            fresh = fx.order_row(rng, k, old[1], 0)
            rows.append(old[:2] + fresh[2:4] + old[4:5] + fresh[5:6] + old[6:])
        months = self.size["months"]
        for _ in range(n_new):
            k = self.next_key
            self.next_key += 1
            cust = rng.randrange(self.size["customers"])
            rows.append(fx.order_row(rng, k, cust, months - 1 - rng.randrange(3)))
        return rows

    def step(self) -> None:
        rows = self.make_batch()
        df = self.batch_df(rows)
        meta = self.h.op("write", lambda: self.eng.upsert(df, self.table))
        for r in rows:
            if r[0] not in self.model:
                self.keys.append(r[0])
                self.recent.append(r[0])
                self.by_cust.setdefault(r[1], set()).add(r[0])
            self.model[r[0]] = r
        self.rows_written += len(rows)
        self.key_read(self.pick_key(rows))
        cust = self.model[self.keys[self.rng.randrange(len(self.keys))]][1]
        got = self.h.op("index_read", lambda: self._read_where(f"o_custkey = {cust}", "index"))
        want = sorted(self.model[k] for k in self.by_cust[cust])
        self.h.check("index_read", sorted(got) == want, f"cust {cust}")
        self.incr_read(self.prev_instant, meta["instant"], [r[0] for r in rows])
        self.prev_instant = meta["instant"]

    def final_checks(self) -> None:
        super().final_checks()
        with self.h.tr.paused():
            agg = self.eng.read(self.table).agg(
                F.count("*"), F.sum("o_custkey"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")),
            ).collect()[0]
        m = self.model.values()
        want = (len(m), sum(r[1] for r in m), sum(round(r[3] * 100) for r in m))
        self.h.check("scan_aggregate", tuple(agg) == want, f"{tuple(agg)} vs {want}")


class MorMixed(Workload):
    """Cheap delta upserts into a merge-on-read `events` table with inline
    compaction, each followed by snapshot aggregates (read-time merge),
    record-key point reads and incremental reads of the commit."""

    name = "mor_mixed"
    table = "events"
    schema = fx.EVENTS_SCHEMA
    cols = EVENT_COLS
    query = "scan_read"
    traced = ["Engine.upsert", "Engine.compact"]
    MAX_DELTA_COMMITS = 2

    @classmethod
    def fixture_rows(cls, seed, size):
        rng = random.Random(seed)
        return [
            fx.event_row(rng, k, fx.EVENT_TYPES[rng.randrange(len(fx.EVENT_TYPES))])
            for k in range(size["events"])
        ]

    def build(self, rows) -> None:
        self.model = {r[0]: r for r in rows}
        self.keys = list(self.model)
        self.next_key = len(rows)
        self.eng.create_table(
            self.table,
            record_key="event_id",
            partition_by="event_type",
            table_type=MOR,
            props={
                "compact.inline": "true",
                "compact.max_delta_commits": str(self.MAX_DELTA_COMMITS),
            },
        )
        self.eng.insert(self.load(), self.table)

    def bootstrap(self) -> None:
        self.prev_instant = self.last_instant()

    def make_batch(self) -> list[tuple]:
        """80% updates of existing events (same type, so same partition),
        20% new events."""
        rng, n = self.rng, self.size["mor_batch"]
        n_new = max(1, n // 5)
        picked: set[int] = set()
        while len(picked) < n - n_new:
            picked.add(self.keys[rng.randrange(len(self.keys))])
        rows = [fx.event_row(rng, k, self.model[k][3]) for k in sorted(picked)]
        for _ in range(n_new):
            rows.append(fx.event_row(rng, self.next_key, rng.choice(fx.EVENT_TYPES)))
            self.next_key += 1
        return rows

    def aggregate(self) -> list[tuple]:
        df = self.eng.read(self.table)
        return self.h.tr.run(df, lambda: sorted(tuple(r) for r in df.groupBy("event_type").agg(
            F.count("*"), F.sum("user_id"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")),
        ).collect()))

    def model_aggregate(self) -> list[tuple]:
        acc: dict[str, list[int]] = {}
        for r in self.model.values():
            a = acc.setdefault(r[3], [0, 0, 0])
            a[0] += 1
            a[1] += r[2]
            a[2] += round(r[4] * 100)
        return sorted((t, *a) for t, a in acc.items())

    def step(self) -> None:
        rows = self.make_batch()
        df = self.batch_df(rows)
        meta = self.h.op("write", lambda: self.eng.upsert(df, self.table))
        for r in rows:
            if r[0] not in self.model:
                self.keys.append(r[0])
            self.model[r[0]] = r
        self.rows_written += len(rows)
        if self.h.tr.enabled:
            with self.h.tr.paused():
                self.h.files_scanned("scan", self.path, self.eng.read(self.table))
        got = self.h.op("scan_read", self.aggregate)
        self.h.check("scan_aggregate", got == self.model_aggregate(), str(got))
        self.key_read(self.pick_key(rows))
        self.incr_read(self.prev_instant, meta["instant"], [r[0] for r in rows])
        self.prev_instant = self.last_instant()


class DedupIngest(Workload):
    """Dedup-on-ingest into a `docs` table: MinHash-LSH admission, insert of
    the survivors, refresh of the MinHash and BM25 indexes; then record-key
    reads, incremental reads and three index-served BM25 searches."""

    name = "dedup_ingest"
    table = "docs"
    schema = fx.DOCS_SCHEMA
    cols = DOC_COLS
    query = "search"
    warmup_steps = 0
    SEARCHES = 3
    traced = [
        "minhash_admit",
        "refresh_minhash_index",
        "refresh_text_index",
        "text_index_search",
    ]
    MH, TX = "docs_mh", "docs_tx"

    @classmethod
    def fixture_rows(cls, seed, size):
        rng = random.Random(seed)
        vocab = fx.Vocabulary(random.Random(seed + 17))
        return [fx.doc_row(k, vocab.text(rng)) for k in range(size["docs"])]

    def build(self, rows) -> None:
        self.vocab = fx.Vocabulary(random.Random(self.seed + 17))
        self.model = {r[0]: r for r in rows}
        self.keys = list(self.model)
        self.next_key = len(rows)
        self.clones: set[int] = set()
        self.rejected = 0
        self.offered = 0
        self.last_queries: list[list[str]] = []
        self.eng.create_table(self.table, record_key="doc_id")
        self.eng.insert(self.load(), self.table)

    def bootstrap(self) -> None:
        mh.create_minhash_index(self.eng, self.table, self.MH, "doc_id", "text")
        tx.create_text_index(self.eng, self.table, self.TX, "doc_id", "text")
        mh.refresh_minhash_index(self.eng, self.MH)
        tx.refresh_text_index(self.eng, self.TX)
        self.prev_instant = self.last_instant()

    def make_batch(self) -> list[tuple]:
        """75% fresh documents, 25% exact clones of documents admitted
        earlier (under new ids), in seeded order."""
        rng, n = self.rng, self.size["doc_batch"]
        n_clone = n // 4
        rows = []
        for i in range(n):
            k = self.next_key
            self.next_key += 1
            if i < n_clone:
                src = self.model[self.keys[rng.randrange(len(self.keys))]]
                rows.append(fx.doc_row(k, src[1]))
                self.clones.add(k)
            else:
                rows.append(fx.doc_row(k, self.vocab.text(rng)))
        rng.shuffle(rows)
        return rows

    def ingest(self, df) -> tuple[list[tuple], dict]:
        adm = mh.minhash_admit(self.eng, self.MH, df)
        survivors = self.h.tr.run(adm, lambda: _rows(adm, self.cols))
        meta = self.eng.insert(self.batch_df(survivors), self.table)
        mh.refresh_minhash_index(self.eng, self.MH)
        tx.refresh_text_index(self.eng, self.TX)
        return survivors, meta

    def search(self, terms: list[str], record: bool = True) -> list[tuple]:
        res = tx.text_index_search(self.eng, self.TX, terms, k=10)
        if record:
            self.h.files_scanned("search", self.root / self.TX, res)
        return self.h.tr.run(res, lambda: sorted(tuple(r) for r in res.collect()))

    def step(self) -> None:
        rows = self.make_batch()
        df = self.batch_df(rows)
        survivors, meta = self.h.op("write", lambda: self.ingest(df))
        ids = [r[0] for r in survivors]
        self.offered += len(rows)
        self.rejected += len(rows) - len(ids)
        leaked = self.clones.intersection(ids)
        self.h.check("no_clone_admitted", not leaked, f"clones admitted: {sorted(leaked)[:5]}")
        for r in survivors:
            self.model[r[0]] = r
        self.keys.extend(ids)
        self.rows_written += len(ids)
        self.key_read(self.pick_key(survivors))
        self.incr_read(self.prev_instant, meta["instant"], ids)
        self.prev_instant = self.last_instant()
        self.last_queries = [self.vocab.query(self.rng) for _ in range(self.SEARCHES)]
        for terms in self.last_queries:
            got = self.h.op("search", lambda: self.search(terms))
            self.h.check("search_nonempty", bool(got), f"no hits for {terms}")

    def final_checks(self) -> None:
        super().final_checks()
        with self.h.tr.paused():
            docs = set(self.model)
            for idx in (self.MH, self.TX):
                ids = {r[0] for r in self.eng.read(idx).select("doc_id").distinct().collect()}
                self.h.check(f"{idx}_ids", ids == docs, f"{len(ids)} ids vs {len(docs)} docs")
            queries = self.spark.createDataFrame(
                list(enumerate(self.last_queries)), "query_id int, terms array<string>"
            )
            want = bm25_topk(
                self.eng.read(self.table).select("doc_id", "text"),
                queries, "doc_id", "text", "query_id", "terms", k=10,
            ).collect()
            for qid, terms in enumerate(self.last_queries):
                exp = sorted((r["doc_id"], r["bm25"], r["rank"]) for r in want if r["query_id"] == qid)
                got = self.search(terms, record=False)
                self.h.check("search_vs_bm25_topk", got == exp, f"{terms}: {got[:3]} vs {exp[:3]}")

    def rejected_ratio(self) -> float:
        return self.rejected / self.offered if self.offered else 0.0


WORKLOADS = {w.name: w for w in (CowUpsert, MorMixed, DedupIngest)}
