from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapping_timeseries_spark.sources.readers import read_incremental
from mapping_timeseries_spark.operators.relational import merge_upsert
from mapping_timeseries_spark.session import ensure_runtime_conf, get_spark
from mapping_timeseries_spark.sources.writers import (
    create_view,
    merge_into_partitioned,
    save_as_table,
    write_overwrite,
    write_partitioned,
    write_run_metadata,
)

from .parquet_footers import parquet_codecs, parquet_files

CODEC = "spark.sql.parquet.compression.codec"


def test_analyze_table_feeds_cbo(spark, tmp_path):
    """ANALYZE records exact table stats and the optimizer's estimated
    row count snaps from a size-based guess to the true cardinality."""
    from mapping_timeseries_spark.sources.writers import analyze_table

    df = spark.range(1234).withColumn("v", F.col("id") * 2.0)
    save_as_table(df, "t_stats", path=str(tmp_path / "t_stats"))
    stats = analyze_table(spark, "t_stats", columns=("id",))
    assert stats["row_count"] == 1234
    assert stats["size_bytes"] > 0
    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        est = (
            spark.table("t_stats")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .rowCount()
        )
        assert est.isDefined() and int(str(est.get())) == 1234
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql("DROP TABLE t_stats")


def test_read_file_formats_roundtrip(spark, tmp_path):
    """CSV/JSON ingest boundary: explicit-schema read returns the exact
    rows; schema-less text reads are rejected (inference = extra pass)."""
    from mapping_timeseries_spark.sources.readers import read_file

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0)], "id long, s string, v double"
    )
    for fmt in ("csv", "json"):
        p = str(tmp_path / fmt)
        df.write.format(fmt).option("header", "true").save(p)
        got = read_file(spark, p, fmt, schema=df.schema)
        assert sorted(tuple(r) for r in got.collect()) == sorted(
            tuple(r) for r in df.collect()
        )
        with pytest.raises(ValueError, match="explicit schema"):
            read_file(spark, p, fmt)
    p = str(tmp_path / "pq")
    df.write.parquet(p)
    assert read_file(spark, p).count() == 2  # self-describing, no schema needed


def test_training_shards_deterministic_and_complete(spark, tmp_path):
    """Shard content + order must be a function of keys only: exporting
    the same rows from differently-partitioned inputs yields identical
    per-shard sequences, every row lands exactly once, and shards are
    roughly balanced."""
    from mapping_timeseries_spark.sources.writers import write_training_shards

    rows = [(i, f"doc text {i}") for i in range(400)]
    a = spark.createDataFrame(rows, "doc_id long, text string")  # few partitions
    b = spark.createDataFrame(rows, "doc_id long, text string").repartition(13)

    def export(df, name):
        p = str(tmp_path / name)
        write_training_shards(df, p, "doc_id", n_shards=8)
        out = {}
        for d in sorted(os.listdir(p)):
            if not d.startswith("shard="):
                continue
            shard_df = spark.read.parquet(os.path.join(p, d))
            out[d] = [r["doc_id"] for r in shard_df.collect()]
        return out

    sa, sb = export(a, "shards_a"), export(b, "shards_b")
    assert sa == sb  # same shards, same within-shard order
    all_ids = sorted(i for ids in sa.values() for i in ids)
    assert all_ids == list(range(400))  # exactly-once coverage
    sizes = [len(v) for v in sa.values()]
    assert len(sizes) == 8 and min(sizes) > 0
    # hash sharding balances: no shard more than 2x the mean
    assert max(sizes) < 2 * (400 / 8)
    # the within-shard order is shuffled, not source order
    assert any(ids != sorted(ids) for ids in sa.values())

    # r7: the reproducibility manifest — identical across the two
    # exports (byte-reproducibility made CHECKABLE), verification
    # passes, and a tampered shard is named loudly
    import json

    import pytest as _pytest

    from mapping_timeseries_spark.sources.writers import (
        verify_shard_manifest,
    )

    ma = json.load(open(os.path.join(str(tmp_path / "shards_a"), "_manifest.json")))
    mb = json.load(open(os.path.join(str(tmp_path / "shards_b"), "_manifest.json")))
    assert ma == mb and ma["n_total"] == 400 and len(ma["shards"]) == 8
    verify_shard_manifest(spark, str(tmp_path / "shards_a"))
    # tamper: drop one shard's files
    victim = sorted(
        d for d in os.listdir(str(tmp_path / "shards_a")) if d.startswith("shard=")
    )[0]
    import shutil

    shutil.rmtree(os.path.join(str(tmp_path / "shards_a"), victim))
    with _pytest.raises(ValueError, match="drifted"):
        verify_shard_manifest(spark, str(tmp_path / "shards_a"))


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [("a", "2024-01", 1.0), ("a", "2024-02", 2.0), ("b", "2024-01", 3.0)],
        "k string, month string, v double",
    )
    source = spark.createDataFrame(
        [("a", "2024-02", 20.0), ("c", "2024-03", 30.0)],
        "k string, month string, v double",
    )
    got = {
        (r["k"], r["month"]): (r["v"], r["action"])
        for r in merge_upsert(target, source, ["k", "month"], tag_col="action").collect()
    }
    assert got == {
        ("a", "2024-01"): (1.0, "keep"),
        ("a", "2024-02"): (20.0, "update"),  # source wins
        ("b", "2024-01"): (3.0, "keep"),
        ("c", "2024-03"): (30.0, "insert"),
    }
    with pytest.raises(ValueError, match="identical column sets"):
        merge_upsert(target, source.withColumnRenamed("v", "w"), ["k"])


def test_merge_into_partitioned_null_partition_preserved(spark, tmp_path):
    """Source touching the NULL partition must MERGE with, not replace,
    existing NULL-partition target rows (NULL IN (...) evaluates to NULL,
    so a bare isin predicate would drop them from the rewrite)."""
    path = str(tmp_path / "null_part")
    target = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "2024-01", 3.0)],
        "id long, month string, v double",
    )
    write_partitioned(target, path, "month")
    source = spark.createDataFrame(
        [(2, None, 20.0)], "id long, month string, v double"
    )
    merge_into_partitioned(spark, path, source, keys=["id", "month"],
                           partition_col="month")
    got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0}  # id=1 survived the rewrite


def test_merge_upsert_model_fuzz_and_idempotence(spark):
    """Random key overlaps vs a dict model (source wins per key, union of
    keys, no loss), and idempotence: re-merging the same source changes
    nothing but provenance tags."""
    import numpy as np

    rng = np.random.default_rng(23)
    t_keys = sorted(rng.choice(200, size=60, replace=False).tolist())
    s_keys = sorted(rng.choice(200, size=60, replace=False).tolist())
    target = spark.createDataFrame(
        [(int(k), float(k) * 1.5) for k in t_keys], "k long, v double"
    )
    source = spark.createDataFrame(
        [(int(k), float(k) * -2.0) for k in s_keys], "k long, v double"
    )
    model = {k: k * 1.5 for k in t_keys}
    model.update({k: k * -2.0 for k in s_keys})

    once = merge_upsert(target, source, ["k"])
    got = {r["k"]: r["v"] for r in once.collect()}
    assert got == model
    twice = merge_upsert(once, source, ["k"])
    assert {r["k"]: r["v"] for r in twice.collect()} == got


def test_merge_into_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "merge_tgt")
    target = spark.createDataFrame(
        [(i, f"2024-{(i % 3) + 1:02d}", float(i)) for i in range(30)],
        "id long, month string, v double",
    )
    write_partitioned(target, path, "month")

    def files_of(month: str) -> dict[str, float]:
        d = os.path.join(path, f"month={month}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_jan = files_of("2024-01")
    before_feb = files_of("2024-02")
    # update one 2024-02 row, insert a row into a brand-new month
    source = spark.createDataFrame(
        [(1, "2024-02", 999.0), (100, "2024-04", 4.0)],
        "id long, month string, v double",
    )
    merge_into_partitioned(spark, path, source, keys=["id", "month"],
                           partition_col="month")
    # untouched partition: identical files, byte-level (names + mtimes)
    assert files_of("2024-01") == before_jan
    # touched partition rewritten, new partition created
    assert files_of("2024-02") != before_feb
    assert os.path.isdir(os.path.join(path, "month=2024-04"))
    after = spark.read.parquet(path)
    assert after.count() == 31
    assert after.where("id = 1 AND month = '2024-02'").head()["v"] == 999.0
    assert after.where("month = '2024-04'").count() == 1
    # non-updated 2024-02 rows survived the rewrite
    assert after.where("month = '2024-02'").count() == 10


def test_write_overwrite_roundtrip(spark, tmp_path):
    df = spark.range(10).withColumn("v", F.col("id") * 2.0)
    path = str(tmp_path / "plain")
    write_overwrite(df, path)
    write_overwrite(df, path)  # overwrite mode: second write replaces
    assert spark.read.parquet(path).count() == 10


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"2024-{(i % 3) + 1:02d}", float(i)) for i in range(30)],
        "id long, month string, v double",
    )
    path = str(tmp_path / "bymonth")
    write_partitioned(df, path, "month")
    assert any(e.startswith("month=") for e in os.listdir(path))
    pruned = read_incremental(spark, path, "month", "2024-02", "2024-02")
    assert pruned.count() == 10
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_save_as_table_and_view(spark, tmp_path):
    df = spark.range(5).withColumn("v", F.col("id") + 1)
    save_as_table(df, "t_saved", path=str(tmp_path / "tbl"))
    assert spark.table("t_saved").count() == 5
    create_view(spark, "v_doubled", "SELECT id, v * 2 AS v2 FROM t_saved")
    assert spark.table("v_doubled").where(F.col("v2") > 0).count() == 5
    spark.sql("DROP TABLE t_saved")


def test_run_metadata(tmp_path):
    p = str(tmp_path / "meta" / "run.json")
    write_run_metadata(p, {"a": 1, "when": "2026-08-13"})
    import json

    assert json.load(open(p))["a"] == 1


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    from mapping_timeseries_spark.sources.writers import save_bucketed

    t1 = spark.createDataFrame(
        [(i % 20, f"2024-{(i % 12) + 1:02d}", float(i)) for i in range(200)],
        "cus_code long, month string, txn_amount double",
    )
    t2 = spark.createDataFrame(
        [(i % 20, f"2024-{(i % 12) + 1:02d}", float(i) / 10) for i in range(200)],
        "cus_code long, month string, revenue double",
    )
    save_bucketed(t1, "t1_bucketed", num_buckets=8, bucket_cols=("cus_code",),
                  sort_cols=("cus_code", "month"), path=str(tmp_path / "b1"))
    save_bucketed(t2, "t2_bucketed", num_buckets=8, bucket_cols=("cus_code",),
                  sort_cols=("cus_code", "month"), path=str(tmp_path / "b2"))
    a = spark.table("t1_bucketed")
    b = spark.table("t2_bucketed")
    # co-located join: force the sort-merge path (no broadcast) and check
    # the plan carries NO shuffle — the bucketing IS the partitioning
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, on=["cus_code"], how="inner")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
        # sanity: the same join over unbucketed parquet DOES shuffle
        t1.write.mode("overwrite").parquet(str(tmp_path / "p1"))
        t2.write.mode("overwrite").parquet(str(tmp_path / "p2"))
        u = spark.read.parquet(str(tmp_path / "p1")).join(
            spark.read.parquet(str(tmp_path / "p2")), on=["cus_code"]
        )
        uplan = u._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in uplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.sources.writers import compact_parquet

    src = str(tmp_path / "fragmented")
    # simulate a micro-batch sink: 64 files for a small dataset
    spark.range(20_000).withColumn("m", (F.col("id") % 3).cast("string")) \
        .repartition(64).write.mode("overwrite").parquet(src)
    n_before = len(spark.read.parquet(src).inputFiles())
    assert n_before >= 60

    out = str(tmp_path / "compacted")
    n_after = compact_parquet(spark, src, out, target_file_mb=128)
    assert n_after <= 2  # tiny dataset -> one target-size file (+luck)
    # content is preserved exactly
    a = sorted(r["id"] for r in spark.read.parquet(src).collect())
    b = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert a == b

    # partitioned variant keeps the directory layout
    outp = str(tmp_path / "compacted_p")
    compact_parquet(spark, src, outp, target_file_mb=128, partition_col="m")
    pdirs = {f.split("/m=")[1].split("/")[0]
             for f in spark.read.parquet(outp).inputFiles()}
    assert pdirs == {"0", "1", "2"}

    with pytest.raises(ValueError):
        compact_parquet(spark, src, src)


def test_compact_in_place_staged_refusal_and_swap(spark, tmp_path):
    """compact_in_place contract (r8, VERDICT r7 #6): a leftover
    ``.__compact`` or ``.__old`` directory — the fingerprint of an
    interrupted previous swap — must make the op REFUSE before touching
    anything (a re-run that blindly proceeded could compound a
    half-finished swap), and a clean run must swap in place with rows
    identical and no suffixed directories left behind. The rename-
    atomicity contract itself (local/HDFS only; object stores use the
    versioned.py pointer flip) is stated in the docstring."""
    import os

    from pyspark.sql import functions as F

    from mapping_timeseries_spark.sources.writers import compact_in_place

    src = str(tmp_path / "idx")
    spark.range(5_000).withColumn("v", F.col("id") * 2) \
        .repartition(32).write.mode("overwrite").parquet(src)
    want = sorted(r["id"] for r in spark.read.parquet(src).collect())

    for leftover in (src + ".__compact", src + ".__old"):
        os.makedirs(leftover)
        with pytest.raises(ValueError, match="interrupted"):
            compact_in_place(spark, src)
        # refusal touched nothing: data intact, leftover intact
        assert sorted(
            r["id"] for r in spark.read.parquet(src).collect()
        ) == want
        assert os.path.isdir(leftover)
        os.rmdir(leftover)

    n_files = compact_in_place(spark, src, target_file_mb=128)
    assert n_files <= 2
    assert sorted(r["id"] for r in spark.read.parquet(src).collect()) == want
    assert not os.path.exists(src + ".__compact")
    assert not os.path.exists(src + ".__old")


def test_jsonl_roundtrip_and_corrupt_line_audit(spark, tmp_path):
    """JSONL export/ingest boundary: explicit-schema round trip is
    lossless, zstd files split on read back, and a corrupt line lands in
    _corrupt_record instead of killing the scan."""
    from mapping_timeseries_spark.sources.readers import read_jsonl
    from mapping_timeseries_spark.sources.writers import write_jsonl

    docs = spark.createDataFrame(
        [(i, f"text body {i}", "en" if i % 2 else "de") for i in range(50)],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(docs, out, partition_col="lang")
    # hive layout: a lang slice is a directory
    assert sorted(
        d for d in os.listdir(out) if d.startswith("lang=")
    ) == ["lang=de", "lang=en"]
    back = read_jsonl(spark, out, schema="doc_id long, text string, lang string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    # corrupt line -> _corrupt_record row, scan survives
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.jsonl").write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en"}\n'
        'this is not json at all\n'
        '{"doc_id": 2, "text": "also ok", "lang": "de"}\n'
    )
    audited = read_jsonl(
        spark,
        str(bad),
        schema="doc_id long, text string, lang string, _corrupt_record string",
    ).cache()
    assert audited.count() == 3
    assert audited.where(F.col("_corrupt_record").isNotNull()).count() == 1
    assert audited.where(F.col("doc_id").isNotNull()).count() == 2
    audited.unpersist()


def test_compact_parquet_partitioned_splits_large_partitions(spark, tmp_path):
    """With partition_col, compaction must still honor target_file_mb:
    hashing on the bare partition column routed every row of a value to
    ONE task (one giant file per directory). The salted repartition
    spreads a single large partition value over multiple files."""
    from mapping_timeseries_spark.sources.writers import compact_parquet

    src = str(tmp_path / "frag_src")
    out = str(tmp_path / "frag_out")
    # ~3 MB of incompressible doubles under ONE partition value, written
    # as many fragments
    df = (
        spark.range(300_000)
        .selectExpr("'m1' AS month", "rand(7) AS v1", "rand(8) AS v2")
        .repartition(40)
    )
    df.write.partitionBy("month").parquet(src)
    n = compact_parquet(spark, src, out, target_file_mb=1, partition_col="month")
    assert n >= 2, "single partition value must split across files"
    back = spark.read.parquet(out)
    assert back.count() == 300_000
    assert {r["month"] for r in back.select("month").distinct().collect()} == {"m1"}


def _files_per_dir(path: str, col: str) -> dict[str, int]:
    """``{partition value: data files in its directory}`` (hidden and
    ``_``-prefixed bookkeeping files excluded)."""
    return {
        d.split("=", 1)[1]: sum(
            not f.startswith((".", "_")) for f in os.listdir(os.path.join(path, d))
        )
        for d in os.listdir(path)
        if d.startswith(f"{col}=")
    }


def _spread_months(spark, n: int = 6_000):
    """Rows of four months spread over six Spark partitions, so every
    write task holds rows of every month."""
    return spark.range(0, n, numPartitions=6).selectExpr(
        "id", "concat('2024-0', CAST(id % 4 + 1 AS STRING)) AS month",
        "rand(3) AS v",
    )


def test_write_partitioned_one_file_per_month(spark, tmp_path):
    df = _spread_months(spark)
    assert df.rdd.getNumPartitions() >= 4
    path = str(tmp_path / "one_per_month")
    write_partitioned(df, path, "month")
    assert _files_per_dir(path, "month") == {f"2024-0{m}": 1 for m in range(1, 5)}
    back = spark.read.parquet(path).select(*df.columns)
    assert sorted(back.collect()) == sorted(df.collect())


def test_write_partitioned_cluster_by_orders_each_file(spark, tmp_path):
    """cluster_by orders the rows inside each file and changes neither
    the file count nor the rows."""
    import pyarrow.parquet as pq

    df = _spread_months(spark)
    path = str(tmp_path / "clustered")
    write_partitioned(df, path, "month", cluster_by=("v",))
    assert _files_per_dir(path, "month") == {f"2024-0{m}": 1 for m in range(1, 5)}
    for p in parquet_files(path):
        v = pq.read_table(p, columns=["v"]).column("v").to_pylist()
        assert v == sorted(v), p
    back = spark.read.parquet(path).select(*df.columns)
    assert sorted(back.collect()) == sorted(df.collect())


def test_write_partitioned_splits_month_above_advisory_size(spark, tmp_path):
    """A month larger than AQE's advisory partition size is written as
    several files, not one unsplittable task."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    df = spark.range(0, 200_000, numPartitions=6).selectExpr(
        "id",
        "CASE WHEN id % 10 < 8 THEN '2024-01' "
        "ELSE concat('2024-0', CAST(id % 10 - 6 AS STRING)) END AS month",
        "rand(5) AS v",
    )
    path = str(tmp_path / "split_big_month")
    prev = spark.conf.get(key)
    spark.conf.set(key, "256k")
    try:
        write_partitioned(df, path, "month")
    finally:
        spark.conf.set(key, prev)
    files = _files_per_dir(path, "month")
    assert set(files) == {"2024-01", "2024-02", "2024-03"}
    assert files["2024-01"] > 1
    assert spark.read.parquet(path).count() == 200_000


def test_write_partitioned_one_file_per_month_without_aqe(spark, tmp_path):
    df = _spread_months(spark)
    path = str(tmp_path / "no_aqe")
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        write_partitioned(df, path, "month")
    finally:
        spark.conf.set(key, prev)
    assert _files_per_dir(path, "month") == {f"2024-0{m}": 1 for m in range(1, 5)}
    back = spark.read.parquet(path).select(*df.columns)
    assert sorted(back.collect()) == sorted(df.collect())


def test_merge_into_partitioned_one_file_per_rewritten_partition(spark, tmp_path):
    path = str(tmp_path / "merge_files")
    write_partitioned(_spread_months(spark), path, "month")
    # updates to two months plus a new month, spread over six partitions
    source = spark.range(0, 600, numPartitions=6).selectExpr(
        "id * 2 AS id",
        "CASE WHEN id % 3 = 0 THEN '2024-05' "
        "ELSE concat('2024-0', CAST(((id * 2) % 4) + 1 AS STRING)) END AS month",
        "-1.0D AS v",
    )
    assert source.rdd.getNumPartitions() >= 4
    merge_into_partitioned(spark, path, source, keys=["id", "month"],
                           partition_col="month")
    files = _files_per_dir(path, "month")
    assert files == {f"2024-0{m}": 1 for m in range(1, 6)}
    after = spark.read.parquet(path)
    assert after.count() == 6_000 + source.where("month = '2024-05'").count()
    assert after.where("v = -1.0").count() == 600


def test_partitioned_table_and_jsonl_one_file_per_month(spark, tmp_path):
    from mapping_timeseries_spark.sources.readers import read_jsonl
    from mapping_timeseries_spark.sources.writers import write_jsonl

    df = _spread_months(spark)
    months = {f"2024-0{m}": 1 for m in range(1, 5)}
    tbl = str(tmp_path / "tbl_by_month")
    save_as_table(df, "t_by_month", path=tbl, partition_col="month")
    try:
        assert _files_per_dir(tbl, "month") == months
        assert spark.table("t_by_month").count() == df.count()
    finally:
        spark.sql("DROP TABLE t_by_month")
    js = str(tmp_path / "jsonl_by_month")
    write_jsonl(df, js, partition_col="month")
    assert _files_per_dir(js, "month") == months
    back = read_jsonl(spark, js, schema="id long, v double, month string")
    assert back.count() == df.count()


def test_merge_into_partitioned_null_partition_row_updated_not_duplicated(spark, tmp_path):
    """A source row in the NULL partition replaces the target row with
    the same keys: the NULL partition value matches like any other, so
    the rewrite holds one row per key, not the old row beside the new."""
    path = str(tmp_path / "null_upd")
    target = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "2024-01", 3.0)],
        "id long, month string, v double",
    )
    write_partitioned(target, path, "month")
    source = spark.createDataFrame(
        [(2, None, 20.0), (4, None, 4.0)], "id long, month string, v double"
    )
    merge_into_partitioned(spark, path, source, keys=["id", "month"],
                           partition_col="month")
    rows = sorted((r["id"], r["month"], r["v"]) for r in spark.read.parquet(path).collect())
    assert rows == [(1, None, 1.0), (2, None, 20.0), (3, "2024-01", 3.0), (4, None, 4.0)]


def test_training_shards_write_zstd(spark, tmp_path):
    """RUNTIME_CONF makes Zstd the codec of every parquet file the
    engine writes, training shards included."""
    from mapping_timeseries_spark.sources.writers import write_training_shards

    df = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(200)], "doc_id long, text string"
    )
    path = str(tmp_path / "shards")
    write_training_shards(df, path, "doc_id", n_shards=4)
    assert parquet_codecs(path) == {"ZSTD"}


def test_merge_into_snappy_sink_reads_back_mixed_codecs(spark, tmp_path):
    """A sink written before the Zstd default (Snappy files) takes a
    merge_into_partitioned upsert: the rewritten and new partitions come
    out Zstd, the untouched one stays Snappy, and read_incremental over
    the mixed table returns exactly the upsert."""
    path = str(tmp_path / "snappy_sink")
    target_rows = [(i, f"2024-0{i % 3 + 1}", float(i)) for i in range(30)]
    target = spark.createDataFrame(target_rows, "id long, month string, v double")
    target.write.option("compression", "snappy").partitionBy("month").parquet(path)
    assert parquet_codecs(path) == {"SNAPPY"}
    source_rows = [(1, "2024-02", 999.0), (100, "2024-04", 4.0)]
    source = spark.createDataFrame(source_rows, "id long, month string, v double")
    merge_into_partitioned(spark, path, source, keys=["id", "month"],
                           partition_col="month")
    assert parquet_codecs(os.path.join(path, "month=2024-01")) == {"SNAPPY"}
    for month in ("2024-02", "2024-04"):
        assert parquet_codecs(os.path.join(path, f"month={month}")) == {"ZSTD"}
    want = {(i, m): v for i, m, v in target_rows}
    want.update({(i, m): v for i, m, v in source_rows})
    got = read_incremental(spark, path, "month", "2024-01", "2024-04")
    assert sorted((r["id"], r["month"], r["v"]) for r in got.collect()) == sorted(
        (i, m, v) for (i, m), v in want.items()
    )


def test_get_spark_extra_conf_overrides_codec(spark, tmp_path):
    """The Zstd default is Spark's own conf, not an engine knob:
    get_spark(extra_conf=...) overrides it like any other setting."""
    assert spark.conf.get(CODEC) == "zstd"
    try:
        session = get_spark(
            "tests", master="local[4]", shuffle_partitions=4,
            extra_conf={CODEC: "snappy"},
        )
        assert session.conf.get(CODEC) == "snappy"
        path = str(tmp_path / "snappy")
        write_partitioned(_spread_months(session, 600), path, "month")
        assert parquet_codecs(path) == {"SNAPPY"}
    finally:
        ensure_runtime_conf(spark)
    assert spark.conf.get(CODEC) == "zstd"
