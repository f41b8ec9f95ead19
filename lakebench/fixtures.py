"""Seeded fixtures and batches for the lifecycle benchmark.

Everything here is plain Python: rows are generated on the driver from a
`random.Random(seed)`, so the same seed gives the same tables and the same
batch sequence. The initial tables go to parquet files under the run's work
directory and are read back through `sources.readers.load_table`, like the
repository's own fixtures; batches stay driver-local rows and become
DataFrames before the timed call, so a timed call never re-executes fixture
lineage.

The schemas follow the `orders`, `events` and `documents` fixtures of the
repository (see FIXTURES.md), plus the partition column each table needs.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string, "
    "o_month string"
)
EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string"

EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Table sizes. `bench` is what the benchmark runs, small enough that a run
# with its set-up fits the benchmark's time budget (see README.md, "Sizing",
# which also gives the sf0.1 sizes the workloads were first designed at);
# `smoke` is sf0.001, for the smoke test.
SIZES = {
    "bench": dict(orders=4_000, customers=800, months=12, cow_batch=40,
                  events=10_000, mor_batch=100, docs=200, doc_batch=40),
    "smoke": dict(orders=1_500, customers=300, months=8, cow_batch=15,
                  events=1_000, mor_batch=10, docs=50, doc_batch=8),
}

_EPOCH = dt.datetime(1995, 1, 1)


def month_start(i: int) -> dt.datetime:
    y, m = divmod(i, 12)
    return dt.datetime(_EPOCH.year + y, m + 1, 1)


def order_row(rng: random.Random, key: int, cust: int, month: int) -> tuple:
    d = month_start(month) + dt.timedelta(days=rng.randrange(28))
    return (
        key,
        cust,
        rng.choice("FOP"),
        round(rng.uniform(900.0, 500_000.0), 2),
        d,
        rng.choice(PRIORITIES),
        d.strftime("%Y-%m"),
    )


def event_row(rng: random.Random, key: int, etype: str) -> tuple:
    ts = dt.datetime(2024, 1, 1) + dt.timedelta(
        seconds=rng.randrange(90 * 86_400), microseconds=rng.randrange(10**6)
    )
    return (
        key,
        ts,
        rng.randrange(5_000),
        etype,
        round(rng.uniform(0.0, 100.0), 2),
        f'{{"k": {rng.randrange(100)}}}',
    )


class Vocabulary:
    """A Zipf-shaped word list: common words make long posting lists, rare
    words make fresh documents distinct enough that MinHash-LSH admits them."""

    def __init__(self, rng: random.Random, size: int = 4_000):
        letters = "abcdefghijklmnopqrstuvwxyz"
        words: set[str] = set()
        while len(words) < size:
            words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
        self.words = sorted(words)
        rng.shuffle(self.words)
        self.weights = [1.0 / (i + 1) ** 0.8 for i in range(size)]

    def text(self, rng: random.Random) -> str:
        n = rng.randint(40, 120)
        return " ".join(rng.choices(self.words, weights=self.weights, k=n))

    def query(self, rng: random.Random, terms: int = 3) -> list[str]:
        # search terms come from the head of the distribution, so every
        # query matches documents
        return rng.sample(self.words[:200], terms)


def doc_row(key: int, text: str) -> tuple:
    return (key, text, "en", f"src{key % 7}")


def write_parquet(path: Path, rows: list[tuple], schema: str) -> Path:
    """Write driver rows as a fixture parquet file (timestamps as
    microsecond `timestamp[us]`, like the repository's fixtures)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {
        "bigint": pa.int64(),
        "string": pa.string(),
        "double": pa.float64(),
        "timestamp": pa.timestamp("us"),
    }
    fields = [f.strip().split(" ") for f in schema.split(",")]
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    table = pa.table(
        {name: pa.array(list(col), type=types[t]) for (name, t), col in zip(fields, cols)}
    )
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return path
