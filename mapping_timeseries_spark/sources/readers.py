"""Sources (SURVEY §2.1 S1-S4).

Thin, pushdown-friendly readers. The reference reads Delta paths and
catalog tables (05_prod_dev.py:804-805, mapping_engine.py:821-822); our
storage is parquet. Filters passed to :func:`read_table` land in the scan's
``PushedFilters`` and, for partitioned layouts, prune partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Timestamp columns whose physical parquet type varies by writer:
#: pandas-written TIMESTAMP(NANOS) arrives as long (legacy conf in
#: session.RUNTIME_CONF; floor-divided to micros, matching DuckDB's
#: truncation), tz-naive TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ under
#: Spark 4's inferTimestampNTZ. Both are normalized to TIMESTAMP here so
#: downstream time arithmetic (unix_micros, window, session_window) sees
#: one type; session tz is pinned to UTC (RUNTIME_CONF) so the NTZ cast
#: preserves wall-clock values exactly.
_TS_COLS = {"events": ["ts"]}


def normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Normalize one physical-type-variant timestamp column to TIMESTAMP.

    Works on batch and streaming DataFrames alike (pure column expressions,
    dispatched on the analyzed dtype).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # integer DIV: float division would lose microsecond precision
        # (nanosecond epochs exceed double's 53-bit mantissa)
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (S2)."""
    from ..session import ensure_runtime_conf

    ensure_runtime_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _TS_COLS.get(name, []):
        df = normalize_ts(df, col)
    return df


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Format-agnostic file scan (S2 breadth): parquet, csv, json, orc.

    Parquet/ORC carry their own schema and support predicate pushdown +
    column pruning; for CSV/JSON pass ``schema`` explicitly — schema
    inference is a full extra pass over the data (a non-starter at scale)
    and silently widens types. CSV defaults to ``header=true``.

    Text formats are for INGEST boundaries only: convert to parquet
    (``writers.write_partitioned``) before analytical reads — a CSV scan
    re-parses every byte on every query and cannot skip row groups.
    """
    reader = spark.read.format(fmt)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(
            f"{fmt} requires an explicit schema (inference = extra full "
            "pass + silent type widening at scale)"
        )
    return reader.options(**options).load(path)


def read_incremental(
    spark: SparkSession,
    path: str,
    time_col: str,
    start: str,
    end: str,
) -> DataFrame:
    """Date-range incremental scan (S4, 05_prod_dev.py:1065-1069).

    The ``between`` predicate is pushed to the parquet reader (min/max
    row-group skipping) and prunes partitions when the sink was written
    ``partitionBy(time_col)``.
    """
    return spark.read.parquet(path).where(F.col(time_col).between(start, end))


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
) -> DataFrame:
    """JSON-Lines corpus reader — the interchange format LLM corpora
    actually arrive in (one JSON object per line).

    Pass an explicit ``schema`` (DDL string) in production: without one
    Spark runs a full inference pass over the data (double read). For a
    malformed-line audit the schema must INCLUDE a
    ``_corrupt_record string`` column — then bad lines land there under
    the default PERMISSIVE mode and can be counted instead of the job
    dying mid-scan. With a schema that omits the column, corrupt lines
    silently become all-null rows (inference, conversely, adds the
    column by itself when it meets a bad line).

    Scale notes: uncompressed/bzip2 (and zstd where native Hadoop libs
    exist) JSONL splits across tasks; **gzip does NOT split** — one
    .jsonl.gz is one task no matter its size, the classic ingest
    bottleneck (re-chunk upstream or choose a splittable codec). Columns used downstream still prune, but unlike
    parquet every byte of every line is read and parsed first — ingest
    once, convert to parquet/shards, never re-scan JSONL.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views over the fixture tables for the SQL surface (S3/S8)."""
    for name in TPCH_TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Spread a low-partition scan across cores before expression-heavy
    per-row work (shingling, minhashing, vector math, month
    bucketing). A small local parquet file
    arrives as ONE partition, serializing everything downstream; on a real
    cluster the scan is already wide and this is a no-op.

    The probe is file metadata (public ``inputFiles`` API + local file
    sizes — driver catalog lookup only, no job, no plan->RDD conversion,
    unlike the ``df.rdd.getNumPartitions()`` it replaces). The scan's
    partition count is ~max(n_files, total_bytes/maxPartitionBytes), so
    the repartition fires only when BOTH are under target — a few huge
    files already split wide and must NOT be repartitioned down to
    ``target``. Non-file-backed inputs (createDataFrame / in-memory
    frames, the library-caller case) fall back to the plan->RDD partition
    probe — cheap for local relations, and without it a 1-partition
    in-memory frame would serialize all the expression-heavy work.
    Non-local filesystems are left alone (at 100 TB the input is
    thousands of files and this never fires)."""
    if df.isStreaming:
        # streaming frames reject both probes (inputFiles / rdd) and a
        # repartition would break the incremental contract; micro-batch
        # parallelism is the source's concern. No-op keeps the operators
        # stream-safe (the stream==batch twins apply them directly).
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    if len(files) >= target:
        return df
    local = [f.removeprefix("file:") for f in files if f.startswith("file:")]
    if len(local) != len(files):
        return df  # non-local FS: trust the source's split planning
    total = sum(os.path.getsize(p) for p in local if os.path.exists(p))
    max_pb = 128 << 20  # spark.sql.files.maxPartitionBytes default
    est_partitions = max(len(files), -(-total // max_pb))
    if est_partitions < target:
        return df.repartition(target)
    return df
