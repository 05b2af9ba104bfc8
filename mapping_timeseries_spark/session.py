"""SparkSession construction and per-query session settings.

The reference mutates a live session inside the engine constructor
(mapping_engine.py:449-456). We instead set everything once at build time,
and expose :func:`ensure_runtime_conf` for code paths that receive an
externally-built session (e.g. the driver harness).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs the engine relies on.
#:
#: - AQE + partition coalescing (reference mapping_engine.py:451-452):
#:   runtime re-planning, auto-broadcast, skew-join handling at scale.
#: - Arrow (reference mapping_engine.py:453): vectorized JVM<->Python
#:   transfer for the DTW ``applyInPandas`` path.
#: - ``ansi.enabled=false``: Spark 4 defaults to ANSI mode, under which
#:   ``corr`` on a zero-variance or single-point group raises
#:   DIVIDE_BY_ZERO. The reference's scipy ``pearsonr`` yields NaN there
#:   and the lag scan skips it (mapping_engine.py:152-158); non-ANSI
#:   ``corr`` reproduces that (NaN/null, filtered downstream).
RUNTIME_CONF: dict[str, str] = {
    # UTC so NTZ->LTZ normalization in readers.read_table is a pure
    # relabeling (no wall-clock shift, no DST edge) in ANY session,
    # including the driver harness's externally-built one.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning (AQE
    # re-optimizing cached plans) stays at its default, off. With it on,
    # AQE coalesces a cached frame by its byte size; the engine's cached
    # frames are small while their downstream work (shingle explode,
    # Arrow-batched DP) is costly per byte, so coalescing serializes that
    # work. An interleaved A/B of the bench legs read the default faster
    # almost everywhere (dsir_select -30%, bm25_topk -15%, dtw_summary
    # -10%, ngram_jaccard -8%; only dtw_mapping +9% the other way).
    # Expansion-heavy consumers get their parallelism from
    # ensure_parallel, which scales with input size, not cached bytes.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.ansi.enabled": "false",
    # pandas-written parquet carries TIMESTAMP(NANOS), which the Spark
    # reader rejects outright; read as long and convert in the reader
    # (readers.read_table) — microsecond truncation matches DuckDB's
    # handling of the same files.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Zstd for every parquet file the engine writes: mapping sinks,
    # versioned snapshots, training shards, indexes, compaction. At
    # 100 TB each sink byte is written once and then scanned by every
    # read_incremental consumer, and Zstd packs the sinks' doubles far
    # tighter than Snappy at similar decode speed. One perfbench
    # mapping_close operation (seed 1) wrote 2.27 MB with Snappy,
    # 1.54 MB with Zstd, and 1.43 MB with Zstd plus write_partitioned's
    # per-file entity clustering. Spark's own conf, so get_spark(extra_conf=...)
    # or a per-write .option("compression", ...) still overrides it.
    "spark.sql.parquet.compression.codec": "zstd",
}


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply :data:`RUNTIME_CONF` to an existing session (idempotent)."""
    for key, value in RUNTIME_CONF.items():
        spark.conf.set(key, value)
    return spark


def get_spark(
    app_name: str = "mapping_timeseries_spark",
    master: str = "local[*]",
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session tuned for this engine.

    ``shuffle_partitions=32`` matches local core count for tests; on a real
    cluster callers pass a value sized to the data (or rely on AQE
    coalescing from a higher initial number).
    """
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
