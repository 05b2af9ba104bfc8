"""Sinks (SURVEY §2.1 S5-S9).

The reference writes Delta (overwrite + month-partitioned + saveAsTable +
SQL view, 05_prod_dev.py:861-876, 04_comparision.py:434-443); vanilla-Spark
equivalents are parquet. Delta-only features (time travel/RESTORE, ZORDER,
overwriteSchema) are out of scope for a vanilla engine — documented N/A in
SURVEY §7.3.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..materialize import dedup_cache_scope, scoped_checkpoint
from .index_store import write_json


def write_overwrite(df: DataFrame, path: str) -> None:
    """S5: plain overwrite sink."""
    df.write.mode("overwrite").parquet(path)


def _rebalanced(df: DataFrame, partition_col: str) -> DataFrame:
    """Shuffle ``df`` on ``partition_col`` ahead of a ``partitionBy``
    write, so each partition value lands in as few write tasks as its
    size allows (see :func:`write_partitioned`). Spark's analyzer drops
    the REBALANCE hint when AQE is off; the plain hash repartition on
    the column is what stands in for it there."""
    if df.sparkSession.conf.get("spark.sql.adaptive.enabled").lower() == "true":
        return df.hint("rebalance", partition_col)
    return df.repartition(partition_col)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    cluster_by: Sequence[str] = (),
) -> None:
    """S6: month-partitioned sink (05_prod_dev.py:861-867) — enables
    partition pruning for the incremental scan (readers.read_incremental).

    At 100 TB, partitioning by month keeps file counts sane (hundreds of
    partitions) while giving the date-range reads O(selected months) I/O.

    A plain ``partitionBy`` writes one file per (task, value) pair: every
    upstream task holding rows of a month opens its own file in that
    month's directory. Each file has a fixed cost — about 2.7 KB of
    footer, dictionary and checksum bytes, and, without the native Hadoop
    library, about 6 process spawns (``RawLocalFileSystem.setPermission``
    forks ``chmod``). The reference pays the same fragmentation and
    compacts afterwards with Delta OPTIMIZE (05_prod_dev.py:1228-1231).
    Here the rows are rebalanced on the partition column first
    (``REBALANCE`` hint), which AQE sizes at run time from
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: shuffle
    partitions smaller than that are coalesced, so each value is written
    by one task — one file per directory — and a partition larger than
    that (a big month, or months that hash together) is split by map
    ranges (``OptimizeSkewInRebalancePartitions``) into roughly
    advisory-sized files, so a 10 GB month is never one unsplittable
    task. With AQE off it is a plain hash repartition on the column: one
    file per directory, however large. The mapping close of
    ``perfbench`` went from about 360 to 75 parquet files per operation.

    ``cluster_by`` orders the rows inside each file by those columns —
    the sort-within-partitions the reference approximates with ZORDER
    after the fact (05_prod_dev.py:1228-1231). Rows of one entity then
    sit together in key order, which compresses far better than shuffle
    order (the routed mapping sink: 0.90 -> 0.79 MB under Zstd on one
    perfbench operation); the mapping sinks pass ``(KEY, "time2")``.
    It costs no extra sort: Spark's planned write already sorts each
    task's rows on ``partition_col`` ahead of a dynamic-partition write,
    and a sort on ``(partition_col, *cluster_by)`` satisfies that
    requirement, so the executed plan keeps exactly one ``Sort`` node,
    only with the longer key.
    """
    out = _rebalanced(df, partition_col)
    if cluster_by:
        out = out.sortWithinPartitions(partition_col, *cluster_by)
    out.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 128,
    partition_col: str | None = None,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet dataset into
    ~``target_file_mb`` files. Returns the output file count.

    The operational cost of incremental/streaming sinks at 100 TB is
    file-count explosion (every micro-batch/task emits a file; a million
    small files turn planning and listing into the bottleneck long before
    scan bytes do). The vanilla-Spark compaction is a read -> repartition
    -> rewrite sized by the dataset's actual on-disk bytes (ZORDER /
    OPTIMIZE are the Delta analogues, documented N/A — SURVEY §7.3).

    Sizing uses the Hadoop FS listing (cluster-correct, works on any
    scheme, not just file:). ``out_path`` must differ from ``path`` —
    Spark cannot overwrite a dataset it is reading; callers swap
    directories atomically afterwards (rename / view flip).
    """
    from pyspark.sql import functions as F

    if os.path.abspath(out_path) == os.path.abspath(path):
        raise ValueError("out_path must differ from path (read-under-write)")
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(hconf)
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, -(-total // (target_file_mb << 20)))
    df = spark.read.parquet(path)
    if partition_col:
        # repartition on (partition_col, salt), NOT the bare column: a
        # hash on the partition column alone routes EVERY row of a value
        # to one task — one file per directory regardless of
        # target_file_mb, i.e. a 10 GB month back in one unsplittable
        # write task. The salt spreads each value over
        # ceil(n_files / n_values) tasks so directories get coherent,
        # target-sized files. This is the after-the-fact path for a
        # dataset that is already fragmented (appends, streaming sinks);
        # batch sinks size their files as they write (write_partitioned).
        n_values = df.select(partition_col).distinct().count()
        per_value = max(1, -(-int(n_files) // max(n_values, 1)))
        salt = F.pmod(
            F.xxhash64(*[c for c in df.columns if c != partition_col]),
            F.lit(per_value),
        )
        writer = (
            df.withColumn("__salt", salt)
            .repartition(int(n_files), partition_col, F.col("__salt"))
            .drop("__salt")
            .write.mode("overwrite")
            .partitionBy(partition_col)
        )
    else:
        writer = df.repartition(int(n_files)).write.mode("overwrite")
    writer.parquet(out_path)
    out = spark.read.parquet(out_path)
    return len([f for f in out.inputFiles()])


def compact_in_place(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_col: str | None = None,
) -> int:
    """:func:`compact_parquet` plus the directory swap, with a row-count
    identity check before the old data is dropped (the maintenance
    op every append-maintained index needs: repeated appends fragment
    postings/bands/lists into one file per batch-task, and at 100 TB
    file-COUNT kills planning long before bytes do).

    Sequence: rewrite into ``path.__compact`` -> verify row counts match
    -> retire the old directory to ``path.__old`` -> rename the compact
    one in -> delete the retired copy. An OFFLINE maintenance op by
    contract (no concurrent reader/appender — same single-writer scope
    as sources/versioned.py): a crash between the two renames leaves
    ``path`` missing and both suffixed directories intact, which every
    index loader reports loudly (missing data/commit marker) and an
    operator resolves by renaming one copy back — never a silent
    half-compacted state. Returns the output file count.

    FILESYSTEM CONTRACT: the swap's crash story
    rests on directory ``rename`` being ATOMIC — true on a local POSIX
    filesystem and on HDFS, NOT on object stores (S3/GCS "rename" is a
    per-object copy+delete: a crash mid-copy leaves a PARTIAL directory
    under ``path``, which a loader may read as a valid-but-truncated
    index instead of failing loudly). Object-store deployments must not
    use this helper: compact to a NEW path with :func:`compact_parquet`
    and flip a pointer to it — the ``sources/versioned.py`` idiom,
    whose commit is one small-file write, atomic on every store. The
    pre-flight refusal below (either suffixed directory already
    present) is also what stops a re-run from compounding an
    interrupted swap."""
    import shutil

    staged, retired = path + ".__compact", path + ".__old"
    for p in (staged, retired):
        if os.path.exists(p):
            raise ValueError(
                f"{p} already exists — a previous compaction was "
                "interrupted; inspect and remove it before retrying"
            )
    n_before = spark.read.parquet(path).count()
    n_files = compact_parquet(spark, path, staged, target_file_mb, partition_col)
    n_after = spark.read.parquet(staged).count()
    if n_after != n_before:
        raise ValueError(
            f"compaction changed the row count ({n_before} -> {n_after}) "
            f"at {path} — staged output left at {staged} for inspection"
        )
    os.rename(path, retired)
    os.rename(staged, path)
    shutil.rmtree(retired)
    return n_files


def save_as_table(
    df: DataFrame, table: str, path: str | None = None, partition_col: str | None = None
) -> None:
    """S7: catalog table (saveAsTable / CREATE TABLE ... USING parquet).
    A partitioned table is rebalanced like :func:`write_partitioned`."""
    writer = df.write
    if partition_col:
        writer = _rebalanced(df, partition_col).write.partitionBy(partition_col)
    writer = writer.mode("overwrite").format("parquet")
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def save_bucketed(
    df: DataFrame,
    table: str,
    num_buckets: int = 64,
    bucket_cols: tuple[str, ...] = ("cus_code",),
    sort_cols: tuple[str, ...] | None = None,
    path: str | None = None,
) -> None:
    """S7 scale path: bucketed (+ optionally sorted) catalog table.

    Two tables bucketed identically on the join key join with ZERO
    shuffle — the scan IS the co-location (pytest asserts the joint plan
    has no Exchange). At 100 TB this is the difference between re-shuffling
    the fact tables every run and paying one bucketing write once: store
    the canonical (entity, month) series bucketed by entity and
    ``merge_series`` plus every downstream per-entity groupBy reads
    pre-partitioned data. ``sortBy`` within buckets additionally lets the
    sort-merge join skip its sort. Size ``num_buckets`` so a bucket fits
    an executor's memory at the target scale (100 TB / 64k buckets ≈
    1.5 GB; here 64 for local fixtures).
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int = 16,
    salt: str = "shard",
) -> None:
    """Shuffle-and-shard export: the canonical "split the corpus into N
    reproducibly-shuffled training shards" sink.

    Rows are assigned via :func:`operators.relational.shard_assign`
    (portable md5 — shard and order are functions of the key only), then
    hash-partitioned so each shard is built by one task, sorted within
    the shard by the hash (the deterministic pseudo-random order), and
    written ``partitionBy(shard)`` — one directory per shard.

    Scale: one shuffle keyed by the shard id; no global sort (the
    within-shard sort is per-partition). Size ``n_shards`` so a shard is
    a few GB at the target scale; re-exports and resumed exports produce
    byte-identical shards regardless of how the input happens to be
    split, which is what makes downstream training runs reproducible.
    """
    from ..operators.relational import shard_assign

    sharded = shard_assign(df, key_col, n_shards, salt)
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shard_hash", key_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    write_shard_manifest(df.sparkSession, path)


def _shard_summary(df: DataFrame) -> DataFrame:
    """Per-shard (n_rows, content fingerprint): the fingerprint is an
    ORDER-INSENSITIVE exact-decimal sum of per-row xxhash64 over every
    non-shard column — layout/partitioning cannot change it, any row
    change does (modulo engineered hash collisions). Decimal(38,0)
    accumulation cannot overflow at any realistic shard size."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in df.columns if c != "shard")
    row_hash = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(row_hash).cast("string").alias("fingerprint"),
    )


def write_shard_manifest(spark: SparkSession, path: str) -> dict:
    """Write ``path/_manifest.json``: per-shard row counts + content
    fingerprints — the audit artifact that makes the export's
    byte-reproducibility claim CHECKABLE instead of asserted. A re-run
    of the same export produces an identical manifest; a training job
    can call :func:`verify_shard_manifest` before consuming shards to
    detect truncated copies, partial re-writes or silent corruption.
    Returns the manifest dict."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        rows = _shard_summary(spark.read.parquet(path)).collect()
    except AnalysisException:
        # an export where every row was filtered writes no part files
        # (partitionBy emits nothing) — that's a LEGAL empty corpus, and
        # the manifest should say so rather than fail schema inference
        rows = []
    manifest = {
        "shards": {
            str(r["shard"]): {
                "n_rows": r["n_rows"],
                "fingerprint": r["fingerprint"],
            }
            for r in rows
        },
        "n_total": int(sum(r["n_rows"] for r in rows)),
    }
    write_json(
        os.path.join(path, "_manifest.json"), manifest, indent=1, sort_keys=True
    )
    return manifest


def verify_shard_manifest(spark: SparkSession, path: str) -> dict:
    """Recompute the per-shard summaries of the data at ``path`` and
    compare against its committed ``_manifest.json``. Raises ValueError
    naming every drifted shard; returns the manifest on success."""
    from pyspark.errors.exceptions.captured import AnalysisException

    mpath = os.path.join(path, "_manifest.json")
    if not os.path.exists(mpath):
        raise FileNotFoundError(f"{mpath} missing — export has no manifest")
    with open(mpath) as f:
        manifest = json.load(f)
    try:
        live = {
            str(r["shard"]): (r["n_rows"], r["fingerprint"])
            for r in _shard_summary(spark.read.parquet(path)).collect()
        }
    except AnalysisException:
        live = {}  # legal empty export (see write_shard_manifest)
    want = {
        s: (v["n_rows"], v["fingerprint"])
        for s, v in manifest["shards"].items()
    }
    if live != want:
        drifted = sorted(
            set(k for k in live if live.get(k) != want.get(k))
            | set(k for k in want if live.get(k) != want.get(k))
        )
        raise ValueError(
            f"shard export at {path} does not match its manifest — "
            f"drifted shards: {drifted}"
        )
    return manifest


def zorder_key(col_a, col_b, bits: int = 16):
    """Morton/Z-order interleave of two pre-bucketed integer columns
    (each in [0, 2^bits)): bit i of a lands at position 2i, bit i of b at
    2i+1. Pure integer expressions — shiftleft/or per bit, codegen'd."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftrightunsigned(col_a.cast("long"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftrightunsigned(col_b.cast("long"), i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(bit_a, 2 * i)).bitwiseOR(
            F.shiftleft(bit_b, 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    files: int | None = None,
) -> None:
    """Z-ORDER analogue for vanilla parquet: range-sort the data by the
    Morton interleave of two columns so each output file covers a small
    rectangle of (a, b) space, and parquet footer min/max stats prune
    files/row-groups for predicates on EITHER or BOTH columns.

    A plain ``orderBy(a, b)`` clusters only the leading column: files
    span the full b-range, so b-predicates read everything. The Z-curve
    keeps both ranges narrow per file (the whole point of Delta's
    OPTIMIZE ZORDER BY — this is the sort it performs, minus the
    transaction log). Columns are rank-bucketed to 2^bits via ntile over
    their sort order, so the interleave is distribution-agnostic
    (skewed/arbitrary-typed columns get equi-populated cells).

    Scale: one range-shuffle on the z-key (``repartitionByRange`` →
    contiguous z-ranges per task) + the two ntile windows. The ntile
    windows are GLOBAL (single-partition) — acceptable up to ~10^8 rows
    per write; beyond that substitute approxQuantile cutpoints for the
    bucketing (documented trade: approximate cell boundaries).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n_cells = 1 << bits
    wa = Window.orderBy(F.col(col_a))
    wb = Window.orderBy(F.col(col_b))
    bucketed = df.withColumn("__za", F.ntile(n_cells).over(wa) - 1).withColumn(
        "__zb", F.ntile(n_cells).over(wb) - 1
    )
    keyed = bucketed.withColumn(
        "__z", zorder_key(F.col("__za"), F.col("__zb"), bits)
    ).drop("__za", "__zb")
    if files is None:
        files = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    (
        keyed.repartitionByRange(files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def merge_into_partitioned(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    partition_col: str,
) -> None:
    """MERGE INTO a partitioned parquet table, rewriting ONLY the
    partitions the source touches (selective-partition upsert — the
    vanilla analogue of Delta MERGE's file-level rewrite).

    Mechanics: restrict the target scan to the source's partition values,
    apply the join rewrite of :func:`operators.relational.merge_upsert`
    with the keys matched null-safely, and write back under
    ``partitionOverwriteMode=dynamic`` — Spark then replaces exactly the
    partition directories present in the written data and leaves every
    other partition's files untouched on disk (asserted byte-for-byte in
    tests). At 100 TB with month partitions, an incremental month merge
    rewrites O(months touched) of data instead of the whole table.

    The affected slice is ``localCheckpoint``-ed before the write: Spark
    refuses to overwrite a path that still appears as a source in the
    plan, and the checkpoint (a) breaks that lineage and (b) pins the
    pre-overwrite bytes so the rewrite cannot read its own output.
    Checkpoint size = the partitions being rewritten — the same data the
    merge must materialize anyway.

    The partition-value list is collected to the driver to build the
    restriction predicate: O(distinct partitions in source) scalars —
    partition *metadata*, never data rows (same class as AQE's runtime
    partition pruning).
    """
    from pyspark.sql import functions as F

    parts = [r[0] for r in source.select(partition_col).distinct().collect()]
    # NULL partition values need an explicit isNull branch: `NULL IN (...)`
    # is NULL, so isin alone would exclude existing NULL-partition target
    # rows from `affected` while dynamic overwrite still rewrites the
    # __HIVE_DEFAULT_PARTITION__ directory from source rows — silently
    # dropping every unmatched target row in that partition.
    non_null = [p for p in parts if p is not None]
    pred = F.col(partition_col).isin(non_null)
    if len(non_null) < len(parts):
        pred = pred | F.col(partition_col).isNull()
    target = spark.read.parquet(target_path)
    # the pre-overwrite slice is dead once the rewrite is over
    # (committed or failed): the scope frees its checkpoint blocks
    with dedup_cache_scope():
        affected = scoped_checkpoint(target.where(pred))
        # merge_upsert's `source UNION (target LEFT ANTI source)`, but with
        # `<=>` on the keys: a NULL partition value is a partition like any
        # other, and SQL `=` never matches it, so a source row would land
        # beside the target row it updates instead of replacing it
        src_keys = source.select(keys).distinct().alias("__src")
        on = [F.col(f"__tgt.{k}").eqNullSafe(F.col(f"__src.{k}")) for k in keys]
        keep = affected.alias("__tgt").join(src_keys, on, "left_anti")
        # rebalanced like write_partitioned: one file per rewritten partition
        merged = _rebalanced(source.unionByName(keep), partition_col)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(partition_col).parquet(
                target_path
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

def analyze_table(
    spark: SparkSession, table: str, columns: tuple[str, ...] = ()
) -> dict:
    """ANALYZE TABLE ... COMPUTE STATISTICS (+ FOR COLUMNS ...): feed the
    cost-based optimizer. At 100 TB, CBO stats are what let Catalyst pick
    broadcast sides and join orders from actual row counts instead of raw
    file sizes (a heavily-filtered dimension looks huge by bytes but tiny
    by post-filter cardinality — column histograms close that gap).
    Returns the recorded {size_bytes, row_count} for verification."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")
    row = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .where("col_name = 'Statistics'")
        .select("data_type")
        .head()
    )
    stats = {"size_bytes": None, "row_count": None}
    if row:  # "N bytes, M rows"
        parts = row[0].split(",")
        stats["size_bytes"] = int(parts[0].strip().split(" ")[0])
        if len(parts) > 1:
            stats["row_count"] = int(parts[1].strip().split(" ")[0])
    return stats


def create_view(spark: SparkSession, name: str, sql: str) -> None:
    """S8: SQL view over results (05_prod_dev.py:1252-1266)."""
    spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")


def write_run_metadata(path: str, metadata: dict[str, Any]) -> None:
    """S9: run-metadata JSON artifact (05_prod_dev.py:885-903), driver-side."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(metadata, f, indent=2, default=str)


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "bzip2",
    partition_col: str | None = None,
) -> None:
    """JSON-Lines corpus sink (interchange with non-Spark consumers —
    tokenizer trainers, eval harnesses, labeling tools).

    Defaults to bzip2 — the one codec that is both available without
    native Hadoop libraries AND block-splittable on read back (gzip and
    snappy/lz4-on-text are not; a cluster with native libs should pass
    ``"zstd"`` for the better speed/ratio at the same splittability).
    Optional
    ``partition_col`` gives hive-layout directories so a date/shard
    slice is a directory read, rebalanced like :func:`write_partitioned`.
    For anything Spark itself will re-read, prefer parquet — JSONL is the
    EXPORT boundary, not the working format."""
    w = df.write
    if partition_col is not None:
        w = _rebalanced(df, partition_col).write.partitionBy(partition_col)
    w = w.mode("overwrite")
    if compression is not None:
        w = w.option("compression", compression)
    w.json(path)
