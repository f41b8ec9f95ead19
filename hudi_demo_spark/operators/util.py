"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
                "t": 1 << 40}


def _parse_bytes(v: str) -> int:
    s = str(v).strip().lower()
    for suf in ("kb", "mb", "gb", "tb", "k", "m", "g", "t", "b"):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * _SIZE_SUFFIX[suf[0]]
    return int(float(s))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before CPU-heavy
    per-row work (regex/tokenize/hash/vector math). Small fixture files
    arrive as one input split, which would serialize the whole map phase
    on one core; at cluster scale inputs already have many splits and this
    is a no-op.

    The split estimate comes from the optimizer's size statistics
    (driver-side metadata: file sizes / maxPartitionBytes) — NOT from
    `df.rdd.getNumPartitions()`, which forces a plan→RDD conversion on
    every call. Unknown sizes err toward repartitioning (the repartition
    of an already-wide input is the rarer, cheaper mistake than
    serializing a scan on one core).

    "The session's parallelism" is the SESSION's shuffle-partition conf,
    not the shared SparkContext's defaultParallelism: gates/pipelines
    that pin a cloned session to N shuffle partitions (the deployment
    knob for bounded incremental work — see plans.queries._pinned_session)
    must not have every spread() fan their micro-batches back out to
    the full core count. Measured on engine_minhash_index's CDC
    refresh: ten 32-task repartition stages inside one 8-pinned
    refresh, pure scheduling overhead. Capped at defaultParallelism:
    spread exists to occupy CORES with map work, so a session running
    Spark's stock 200-partition default (e.g. a bare driver session)
    must not repartition a narrow scan into 200 micro-tasks — more
    slices than cores only adds scheduling. On this repo's unpinned
    sessions conf == defaultParallelism, so behavior is unchanged."""
    spark = df.sparkSession
    target = min_partitions
    if target is None:
        target = spark._sc.defaultParallelism
        try:
            target = min(
                target, int(spark.conf.get("spark.sql.shuffle.partitions"))
            )
        except Exception:
            pass
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        max_split = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        # relations without real statistics (DSv2 / python data sources)
        # report defaultSizeInBytes — a near-Long.MAX sentinel, not a
        # measurement. Anything past 1 PB is that sentinel in practice
        # (a genuine 100 TB scan is still under it): treat as unknown
        # and err toward the repartition, per the contract above.
        if size < (1 << 50) and size // max(1, max_split) + 1 >= target:
            return df  # input already fans out to enough splits
    except Exception:
        pass
    return df.repartition(target)


def rows_df(spark, rows, schema, rows_per_slice: int = 10_000):
    """``spark.createDataFrame(rows, schema)`` minus the
    defaultParallelism-wide Python scan. createDataFrame parallelizes a
    driver list into ``sc.defaultParallelism`` slices, so EVERY action
    over the relation schedules that many Python-worker tasks — 32 on
    this box — to serve a handful of rows (measured: 32 tasks/0.49 s
    warm vs 1 task/0.20 s for the same 1500-row relation). Slice count
    scales with the row count instead, capped at defaultParallelism, so
    genuinely large row sets still parallelize. Values, schema and
    semantics are exactly createDataFrame's — the rows ride through the
    same applySchemaToPythonRDD path, only the slice count differs.

    Use for driver-resident probe/status/metadata row sets on hot query
    paths. Under ``local_relation``'s `max_rows`, that LocalRelation
    (below) is cheaper still: no job at all."""
    sc = spark.sparkContext
    n = max(1, min(sc.defaultParallelism, len(rows) // rows_per_slice + 1))
    return spark.createDataFrame(sc.parallelize(rows, n), schema)


def local_relation(spark, rows, schema, max_rows: int = 10_000):
    """A driver-side LocalRelation for a SMALL row set — the cheap twin
    of ``spark.createDataFrame`` for probe/offset/result tables on hot
    query paths. PySpark's createDataFrame over Python rows builds a
    Python-RDD-backed plan whose every action schedules a scan job
    through a Python worker; ``createDataFrame(pyarrow.Table, schema)``
    is a pure JVM LocalRelation: actions on it run driver-local with NO
    Spark job, and a projection over it is evaluated at plan time
    (ConvertToLocalRelation). Unlike a SQL ``VALUES`` list it carries no
    literal tree, so a relation of long strings costs nothing in each
    action's optimizer pass.

    `rows` is a pyarrow Table, or Row objects / tuples ordered as
    `schema.fields`. A row set past `max_rows` falls back to `rows_df`,
    which slices it into an RDD instead of carrying it in the plan."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if len(rows) > max_rows:
        if isinstance(rows, pa.Table):
            rows = list(zip(*(c.to_pylist() for c in rows.columns)))
        return rows_df(spark, rows, schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) or [[] for _ in arrow]
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
            schema=arrow,
        )
    return spark.createDataFrame(rows, schema)
