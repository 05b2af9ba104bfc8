from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapping_timeseries_spark.operators.sessionize import (
    session_agg_native,
    tumbling_agg,
)
from mapping_timeseries_spark.sources.readers import read_table
from mapping_timeseries_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    stream_dedup,
    stream_session_agg,
    stream_tumbling_agg,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_batch(spark):
    return read_table(spark, SF_DIR, "events").cache()


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    # file-source streams read directories; stage the fixture into one
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    return str(d)


def _stream_events(spark, stream_dir):
    # ts normalization now lives inside the reader itself (the batch
    # reader's physical-type handling, applied symmetrically)
    return read_events_stream(spark, stream_dir)


def _as_sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_multimodal_extract_matches_batch(spark, tmp_path):
    """The multimodal decode stage is map-only, so the same
    attach_binary_payload -> extract_features composition runs unchanged
    under Structured Streaming (scan -> mapInPandas -> sink, no state):
    stream the documents fixture and require row-for-row agreement with
    the batch result."""
    import shutil

    from mapping_timeseries_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")

    batch_docs = spark.read.parquet(str(d))
    want = _as_sorted_rows(
        extract_features(attach_binary_payload(batch_docs)),
        ["doc_id", "n_bytes", "pcm_sum", "pcm_sumsq"],
    )

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        extract_features(attach_binary_payload(stream_docs)),
        "t_mm_extract",
        output_mode="append",
    )
    got = _as_sorted_rows(out, ["doc_id", "n_bytes", "pcm_sum", "pcm_sumsq"])
    assert got == want
    assert len(got) == batch_docs.count()


def test_stream_bpe_encode_matches_batch(spark, tmp_path):
    """BPE encoding is map-only (broadcast ranks + mapInPandas), so a
    merge table trained in batch applies unchanged to a stream: stream
    the documents fixture and require token-for-token agreement with
    the batch encoding."""
    import shutil

    from mapping_timeseries_spark.operators.tokenizer import (
        encode_bpe,
        train_bpe,
    )

    d = tmp_path / "docs_bpe_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")

    batch_docs = spark.read.parquet(str(d))
    merges = train_bpe(batch_docs, num_merges=20)
    want = _as_sorted_rows(
        encode_bpe(batch_docs, merges).select(
            "doc_id", F.col("bpe_tokens").cast("string").alias("toks")
        ),
        ["doc_id", "toks"],
    )

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        encode_bpe(stream_docs, merges).select(
            "doc_id", F.col("bpe_tokens").cast("string").alias("toks")
        ),
        "t_bpe_encode",
        output_mode="append",
    )
    got = _as_sorted_rows(out, ["doc_id", "toks"])
    assert got == want
    assert len(got) == batch_docs.count()


def test_stream_video_frame_sampling_matches_batch(spark, tmp_path):
    """The row-MULTIPLYING multimodal map (one video row -> n/stride
    frame rows) also runs unchanged under Structured Streaming — output
    cardinality change inside mapInPandas needs no stateful operator."""
    import shutil

    from mapping_timeseries_spark.operators.multimodal import (
        attach_video_payload,
        sample_video_frames,
    )

    d = tmp_path / "docs_stream_vid"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")

    batch_docs = spark.read.parquet(str(d))
    want = _as_sorted_rows(
        sample_video_frames(attach_video_payload(batch_docs), stride=3),
        ["doc_id", "frame_idx", "sum_r", "sum_g", "sum_b"],
    )

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        sample_video_frames(attach_video_payload(stream_docs), stride=3),
        "t_mm_frames",
        output_mode="append",
    )
    got = _as_sorted_rows(out, ["doc_id", "frame_idx", "sum_r", "sum_g", "sum_b"])
    assert got == want
    assert len(got) == batch_docs.count() * 3  # ceil(8/3) frames per doc


def test_stream_tumbling_matches_batch(spark, events_batch, stream_dir):
    stream = _stream_events(spark, stream_dir)
    out = run_to_memory(
        stream_tumbling_agg(stream), "t_tumble", output_mode="append"
    )
    batch = tumbling_agg(events_batch)
    cols = ["window_start", "event_type", "n_events"]
    # append mode emits only watermark-closed windows; with availableNow over
    # a finite file the final watermark closes all but the last windows
    got = _as_sorted_rows(out, cols)
    want = _as_sorted_rows(batch, cols)
    assert got
    assert set(got) <= set(want)
    assert len(got) >= len(want) - 150  # open tail windows per type


def test_stream_session_matches_batch(spark, events_batch, stream_dir):
    stream = _stream_events(spark, stream_dir)
    out = run_to_memory(
        stream_session_agg(stream), "t_sess", output_mode="complete"
    )
    batch = session_agg_native(events_batch)
    cols = ["user_id", "session_start", "n_events"]
    assert _as_sorted_rows(out, cols) == _as_sorted_rows(batch, cols)


def test_stream_interval_join_matches_batch(spark, events_batch, stream_dir):
    """Stream-stream attribution join (click -> purchase within 30 min,
    same user): one microbatch over the finite file means no state is
    evicted mid-run, so the result must EQUAL the batch interval join."""
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.streaming.windows import stream_interval_join

    def split(df):
        clicks = df.where(F.col("event_type") == "click").select(
            "user_id",
            F.col("ts").alias("left_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = df.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("right_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
        return clicks, purchases

    sc, sp = split(_stream_events(spark, stream_dir))
    out = run_to_memory(
        stream_interval_join(sc, sp), "t_attrib", output_mode="append"
    )

    bc, bp = split(events_batch)
    want = bc.join(
        bp,
        (bc["user_id"] == bp["user_id"])
        & (F.col("right_ts") > F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr("INTERVAL 30 minutes")),
        "inner",
    ).drop(bp["user_id"])

    cols = ["user_id", "click_id", "purchase_id", "value"]
    got_rows = _as_sorted_rows(out, cols)
    assert got_rows == _as_sorted_rows(want, cols)
    assert got_rows, "fixture must contain attributable purchases"


def test_stream_dedup_bounded(spark, events_batch, stream_dir):
    stream = _stream_events(spark, stream_dir)
    out = run_to_memory(stream_dedup(stream), "t_dedup", output_mode="append")
    # fixture events are unique per (user, type, ts) -> dedup is identity
    assert out.count() == events_batch.count()


def test_stream_monitoring_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.operators.monitoring import monitoring_summary
    from mapping_timeseries_spark.streaming.windows import (
        run_to_memory,
        stream_monitoring_summary,
    )

    mapped = spark.createDataFrame(
        [
            ("A", "2024-01", 100.0, "2024-02", 10.0, "correlation"),
            ("A", "2024-02", 200.0, "2024-03", 30.0, "correlation"),
            ("B", "2024-01", 50.0, "2024-01", 5.0, "dtw"),
        ],
        "cus_code string, time1 string, value1 double, time2 string, "
        "value2 double, method string",
    ).withColumn("processed_at", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    d = str(tmp_path / "mapped_stream")
    mapped.write.parquet(d)

    stream = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    out = run_to_memory(
        stream_monitoring_summary(stream), "t_monitoring_stream", "complete"
    )
    cols = ["method", "total_mappings", "unique_customers", "avg_revenue"]
    got = sorted(tuple(r[c] for c in cols) for r in out.collect())
    want = sorted(
        tuple(r[c] for c in cols) for r in monitoring_summary(mapped).collect()
    )
    assert got == want


def test_stream_file_sink_with_checkpoint(spark, stream_dir, tmp_path):
    # production sink shape: parquet writeStream + checkpointLocation
    # (exactly-once via checkpoint + file-sink manifest), availableNow
    stream = _stream_events(spark, stream_dir)
    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream_tumbling_agg(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(out_dir)
    assert written.count() > 0
    assert set(written.columns) == {
        "window_start", "event_type", "n_events", "sum_value"
    }
    # restart with the same checkpoint: no new data -> no duplicate rows
    n1 = written.count()
    q2 = (
        stream_tumbling_agg(_stream_events(spark, stream_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(out_dir).count() == n1


def test_stream_to_parquet_checkpoint_exactly_once(spark, tmp_path):
    """The incremental-batch file sink: a second availableNow run over the
    same checkpoint processes ONLY newly-arrived source files — no
    duplicates, no reprocessing — and a fresh checkpoint would see all."""
    import shutil

    from mapping_timeseries_spark.streaming.windows import stream_to_parquet

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.range(100).selectExpr("id", "id % 5 AS grp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "batch1"))
    shutil.copy(
        next((tmp_path / "batch1").glob("part-*.parquet")),
        src / "file1.parquet",
    )
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    stream_to_parquet(stream, out, ckpt)
    assert spark.read.parquet(out).count() == 100

    # new file arrives; same checkpoint -> only the delta lands
    spark.range(100, 140).selectExpr("id", "id % 5 AS grp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "batch2"))
    shutil.copy(
        next((tmp_path / "batch2").glob("part-*.parquet")),
        src / "file2.parquet",
    )
    stream2 = spark.readStream.schema(schema).parquet(str(src))
    stream_to_parquet(stream2, out, ckpt)
    ids = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert ids == list(range(140))  # exactly once: no dup of first 100


def test_stream_nb_quality_filter_matches_batch(spark, tmp_path):
    """Continuous-ingestion quality filtering: a Naive-Bayes model
    trained in batch scores a STREAM of documents through the map-only
    nb_score_map twin (broadcast weights, Arrow mapInPandas, zero
    state, append mode) — bitwise agreement with BOTH the batch run of
    the same twin and the joined+grouped nb_score reference."""
    import shutil

    from mapping_timeseries_spark.operators.textmodels import (
        nb_score,
        nb_score_map,
        nb_train,
    )

    d = tmp_path / "docs_nb_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    # short/empty docs must stream-score like batch, not abort the task
    spark.createDataFrame(
        [(9001, "solitary", "en", "srcx", 8), (9002, "", "en", "srcx", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("append").parquet(str(d))

    batch_docs = spark.read.parquet(str(d))
    model = nb_train(
        batch_docs.withColumn(
            "__y", (F.col("source") == "src0").cast("int")
        ),
        "__y",
    )
    cols = ["doc_id", "n_words", "n_oov", "log_odds", "predicted"]
    ref = _as_sorted_rows(nb_score(batch_docs, model), cols)
    batch_twin = _as_sorted_rows(nb_score_map(batch_docs, model), cols)
    assert batch_twin == ref  # map twin == joined+grouped reference

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        nb_score_map(stream_docs, model), "t_nb_stream", output_mode="append"
    )
    got = _as_sorted_rows(out, cols)
    assert got == ref
    assert len(got) == batch_docs.count()


def test_stream_lm_perplexity_filter_matches_batch(spark, tmp_path):
    """The CCNet-style perplexity filter on a document STREAM: term
    tables are derived engine-side from the batch-trained model (no
    Python ln enters the integer contract) and broadcast into the
    map-only lm_score_map — bitwise agreement with the batch twin and
    with the joined+grouped lm_perplexity reference."""
    import shutil

    from mapping_timeseries_spark.operators.textmodels import (
        bigram_lm_counts,
        lm_perplexity,
        lm_score_map,
    )

    d = tmp_path / "docs_lm_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    # empty/one-word docs are routine crawl content the batch operator
    # supports (n_trans=0, NULL scores) — the streaming twin must score
    # them identically rather than abort the query (regression: the
    # short-doc branch once emitted a 5-tuple into a 4-column frame)
    spark.createDataFrame(
        [(9001, "solitary", "en", "srcx", 8), (9002, "", "en", "srcx", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("append").parquet(str(d))

    batch_docs = spark.read.parquet(str(d))
    model = bigram_lm_counts(batch_docs.where(F.col("source") != "src0"))
    cols = ["doc_id", "n_trans", "oov_trans", "avg_nll", "ppl"]
    ref = _as_sorted_rows(lm_perplexity(batch_docs, model), cols)
    assert _as_sorted_rows(lm_score_map(batch_docs, model), cols) == ref

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        lm_score_map(stream_docs, model), "t_lm_stream", output_mode="append"
    )
    got = _as_sorted_rows(out, cols)
    assert got == ref and len(got) == batch_docs.count()


def test_stream_quality_heuristics_native(spark, tmp_path):
    """The heuristic quality stack (quality_score, text_stats family)
    is expression-only and therefore streams NATIVELY — no twin needed:
    the same function applied to a readStream source in append mode
    equals its batch run row-for-row."""
    import shutil

    from mapping_timeseries_spark.operators.textstats import quality_score

    d = tmp_path / "docs_q_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")

    batch_docs = spark.read.parquet(str(d))
    cols = ["doc_id", "n_tokens", "quality_score"]
    want = _as_sorted_rows(
        quality_score(batch_docs).select(*cols), cols
    )
    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        quality_score(stream_docs).select(*cols),
        "t_quality_stream",
        output_mode="append",
    )
    assert _as_sorted_rows(out, cols) == want


def test_stream_to_versioned_qa_gated_publish(spark, tmp_path):
    """Continuous refresh of a versioned table: each micro-batch of a
    complete-mode aggregate stages one immutable snapshot, the QA check
    reads that staged snapshot, the pointer flips only on QA pass, and
    earlier published versions stay readable (time travel across
    refreshes)."""
    import os
    import shutil
    from urllib.parse import urlparse

    from mapping_timeseries_spark.sources.versioned import (
        current_version,
        read_versioned,
        table_history,
    )
    from mapping_timeseries_spark.streaming.windows import stream_to_versioned

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "vtable")

    spark.range(100).selectExpr("id % 5 AS grp", "id AS v").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "b1"))
    shutil.copy(
        next((tmp_path / "b1").glob("part-*.parquet")), src / "f1.parquet"
    )
    schema = spark.read.parquet(str(src)).schema

    def agg(stream):
        return stream.groupBy("grp").agg(F.sum("v").alias("total"))

    stream_to_versioned(
        agg(spark.readStream.schema(schema).parquet(str(src))),
        root,
        str(tmp_path / "ckpt"),
    )
    v1 = current_version(root)
    assert v1 is not None
    want1 = sorted(
        (r["grp"], r["total"])
        for r in agg(spark.read.parquet(str(src))).collect()
    )
    got1 = sorted(
        (r["grp"], r["total"]) for r in read_versioned(spark, root).collect()
    )
    assert got1 == want1

    # new source file arrives; same checkpoint -> one more snapshot with
    # the FULL updated aggregate (complete mode), published as v2
    spark.range(100, 160).selectExpr(
        "id % 5 AS grp", "id AS v"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b2"))
    shutil.copy(
        next((tmp_path / "b2").glob("part-*.parquet")), src / "f2.parquet"
    )
    checked = []

    def record_files(df):
        checked.append(df.inputFiles())
        return True

    stream_to_versioned(
        agg(spark.readStream.schema(schema).parquet(str(src))),
        root,
        str(tmp_path / "ckpt"),
        qa_check=record_files,
    )
    v2 = current_version(root)
    assert v2 is not None and v2 > v1
    # the QA gate read the batch's staged snapshot, not the micro-batch
    vdir = os.path.realpath(os.path.join(root, f"v={v2:06d}")) + os.sep
    [files] = checked
    assert files
    assert all(
        os.path.realpath(urlparse(f).path).startswith(vdir) for f in files
    ), files
    want2 = sorted(
        (r["grp"], r["total"])
        for r in agg(spark.read.parquet(str(src))).collect()
    )
    got2 = sorted(
        (r["grp"], r["total"]) for r in read_versioned(spark, root).collect()
    )
    assert got2 == want2
    # time travel: the pre-refresh snapshot is still exactly readable
    got1_again = sorted(
        (r["grp"], r["total"])
        for r in read_versioned(spark, root, version=v1).collect()
    )
    assert got1_again == want1

    # QA-fail path: the batch stages a snapshot but the pointer must NOT
    # advance — readers keep seeing v2
    spark.range(160, 170).selectExpr(
        "id % 5 AS grp", "id AS v"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b3"))
    shutil.copy(
        next((tmp_path / "b3").glob("part-*.parquet")), src / "f3.parquet"
    )
    stream_to_versioned(
        agg(spark.readStream.schema(schema).parquet(str(src))),
        root,
        str(tmp_path / "ckpt"),
        qa_check=lambda df: False,
    )
    assert current_version(root) == v2  # pointer unmoved
    # the failed snapshot was still staged (forensics), so history grew
    assert max(h["version"] for h in table_history(root)) > v2


def test_stream_to_versioned_vacuum_bounds_snapshots(spark, tmp_path):
    """vacuum_keep bounds the snapshot count a continuous refresh
    accumulates: after the drain, only the newest keep_last snapshot
    dirs (plus the pointed-at one) remain on disk."""
    import os
    import shutil

    from mapping_timeseries_spark.sources.versioned import (
        current_version,
        read_versioned,
    )
    from mapping_timeseries_spark.streaming.windows import stream_to_versioned

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "vtable")

    def agg(stream):
        return stream.groupBy("grp").agg(F.count("*").alias("n"))

    # three drains = three versions, each fed one more file
    schema = None
    for i in range(3):
        spark.range(i * 10, (i + 1) * 10).selectExpr(
            "id % 2 AS grp", "id AS v"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"b{i}"))
        shutil.copy(
            next((tmp_path / f"b{i}").glob("part-*.parquet")),
            src / f"f{i}.parquet",
        )
        if schema is None:
            schema = spark.read.parquet(str(src)).schema
        stream_to_versioned(
            agg(spark.readStream.schema(schema).parquet(str(src))),
            root,
            str(tmp_path / "ckpt"),
            vacuum_keep=1 if i == 2 else None,
        )

    # after the final drain with vacuum_keep=1 only one snapshot dir
    # survives, and it is the published one
    dirs = sorted(d for d in os.listdir(root) if d.startswith("v="))
    v = current_version(root)
    assert dirs == [f"v={v:06d}"]
    got = sorted((r["grp"], r["n"]) for r in read_versioned(spark, root).collect())
    assert got == [(0, 15), (1, 15)]


def test_stream_gopher_repetition_matches_batch(spark, tmp_path):
    """The Gopher repetition suite on a document STREAM (VERDICT r6
    #3): per-doc statistic, no corpus state, so the map-only
    gopher_repetition_map twin (Arrow mapInPandas, zero shuffles,
    append mode) must agree bitwise with BOTH its own batch run and
    the explode+groupBy batch operator."""
    import shutil

    from mapping_timeseries_spark.operators.textstats import (
        gopher_repetition,
        gopher_repetition_map,
    )

    d = tmp_path / "docs_gopher_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    # planted repetition + degenerate docs must stream like batch
    spark.createDataFrame(
        [
            (9001, "spam ham " * 30, "en", "srcx", 8),
            (9002, " ".join(f"distinct{i}token" for i in range(60)),
             "en", "srcx", 8),
            (9003, "", "en", "srcx", 0),
            (9004, None, "en", "srcx", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("append").parquet(str(d))

    batch_docs = spark.read.parquet(str(d))
    cols = (
        ["doc_id"]
        + [f"top_{n}gram_char_frac" for n in (2, 3, 4)]
        + [f"dup_{n}gram_char_frac" for n in (5, 6, 7, 8, 9, 10)]
        + ["gopher_repetition_pass"]
    )
    ref = _as_sorted_rows(gopher_repetition(batch_docs), cols)
    assert _as_sorted_rows(gopher_repetition_map(batch_docs), cols) == ref
    # the planted spam doc must actually FAIL the filter in both paths
    by_id = {t[0]: t for t in ref}
    assert by_id[9001][-1] == 0 and by_id[9002][-1] == 1

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        gopher_repetition_map(stream_docs), "t_gopher_stream",
        output_mode="append",
    )
    got = _as_sorted_rows(out, cols)
    assert got == ref and len(got) == batch_docs.count()


def test_stream_redact_pii_matches_batch(spark, tmp_path):
    """PII redaction on a document STREAM: redact_pii is a chain of
    map-only regexp_replace expressions, so the SAME operator runs
    unchanged on a streaming frame in append mode — pinned equal to
    batch on planted PII."""
    import shutil

    from mapping_timeseries_spark.operators.textstats import redact_pii

    d = tmp_path / "docs_pii_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    spark.createDataFrame(
        [
            (9101, "mail me at jane.doe@example.com or +1 (555) 123-4567",
             "en", "srcx", 8),
            (9102, "server at 10.0.42.7 answered", "en", "srcx", 8),
            (9103, None, "en", "srcx", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("append").parquet(str(d))

    batch_docs = spark.read.parquet(str(d))
    cols = ["doc_id", "text", "n_redactions"]
    ref = _as_sorted_rows(redact_pii(batch_docs).select(*cols), cols)
    by_id = {t[0]: t for t in ref}
    assert "<EMAIL>" in by_id[9101][1] and "<PHONE>" in by_id[9101][1]
    assert "<IP>" in by_id[9102][1] and by_id[9102][2] == 1

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        redact_pii(stream_docs).select(*cols), "t_pii_stream",
        output_mode="append",
    )
    got = _as_sorted_rows(out, cols)
    assert got == ref and len(got) == batch_docs.count()


def test_stream_dsir_scoring_matches_batch(spark, tmp_path):
    """DSIR importance scoring on a document STREAM: the dense bucket
    table is batch-trained, broadcast, and applied through the
    map-only dsir_weights_map twin — integer-nat sums bitwise-equal to
    the joined+grouped batch dsir_weights, in batch AND append-mode
    streaming."""
    import shutil

    from mapping_timeseries_spark.operators.dsir import (
        dsir_logratio,
        dsir_weights,
        dsir_weights_map,
    )

    d = tmp_path / "docs_dsir_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    spark.createDataFrame(
        [(9201, "", "en", "srcx", 0), (9202, None, "en", "srcx", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("append").parquet(str(d))

    batch_docs = spark.read.parquet(str(d))
    model = dsir_logratio(
        batch_docs.where(F.col("source") == "src0"),
        batch_docs.where(F.col("source") != "src0"),
        n_buckets=512,
    )
    cols = ["doc_id", "n_features", "dsir_logw_nats"]
    ref = _as_sorted_rows(dsir_weights(batch_docs, model, n_buckets=512), cols)
    assert (
        _as_sorted_rows(dsir_weights_map(batch_docs, model, n_buckets=512), cols)
        == ref
    )
    # zero-token docs report (0, 0) in both paths
    by_id = {t[0]: t for t in ref}
    assert by_id[9201][1:] == (0, 0) and by_id[9202][1:] == (0, 0)

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        dsir_weights_map(stream_docs, model, n_buckets=512),
        "t_dsir_stream",
        output_mode="append",
    )
    got = _as_sorted_rows(out, cols)
    assert got == ref and len(got) == batch_docs.count()


def test_stream_minhash_dedup_vs_index_matches_batch(spark, tmp_path):
    """Continuous-ingestion near-dup gatekeeping (r7): a document STREAM
    is checked against the persisted LSH index through stream-static
    band + verification joins (minhash_dedup_stream). Pinned equal to
    the batch incremental operator's new-vs-index pairs — same band
    keys, same exact-Jaccard verdicts, jaccard values bitwise."""
    import shutil

    from mapping_timeseries_spark.operators.dedup import (
        build_minhash_index,
        load_minhash_index,
        minhash_dedup_incremental_path,
        minhash_dedup_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    standing = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "lsh_idx")
    build_minhash_index(standing, idx)

    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    ref = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_dedup_incremental_path(
            spark, batch, idx, threshold=0.5
        ).collect()
        # stream scope = new-vs-INDEX only (within-batch pairs are the
        # batch operator's job)
        if (r["doc_a"] in batch_ids) != (r["doc_b"] in batch_ids)
    }
    assert ref  # the sf corpus has cross near-dups by construction

    d = tmp_path / "docs_minhash_stream"
    d.mkdir()
    batch.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b0"))
    shutil.copy(
        next((tmp_path / "b0").glob("part-*.parquet")), d / "part-0.parquet"
    )
    bands_df, hsets_df, meta = load_minhash_index(spark, idx)
    stream_docs = spark.readStream.schema(batch.schema).parquet(str(d))
    out = run_to_memory(
        minhash_dedup_stream(
            stream_docs,
            bands_df,
            hsets_df,
            n=meta["n"],
            num_hashes=meta["num_hashes"],
            bands=meta["bands"],
            threshold=0.5,
        ),
        "t_minhash_stream",
        output_mode="append",
    )
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    assert got == ref

    # bounded-state variant: an arrival timestamp + watermark evicts
    # pair state instead of growing it forever — same pairs
    d2 = tmp_path / "docs_minhash_stream_wm"
    d2.mkdir()
    batch.withColumn(
        "arrived", F.to_timestamp(F.lit("2026-08-15 00:00:00"))
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    shutil.copy(
        next((tmp_path / "b1").glob("part-*.parquet")), d2 / "part-0.parquet"
    )
    schema2 = spark.read.parquet(str(d2)).schema
    out_wm = run_to_memory(
        minhash_dedup_stream(
            spark.readStream.schema(schema2).parquet(str(d2)),
            bands_df,
            hsets_df,
            n=meta["n"],
            num_hashes=meta["num_hashes"],
            bands=meta["bands"],
            threshold=0.5,
            watermark_col="arrived",
        ),
        "t_minhash_stream_wm",
        output_mode="append",
    )
    got_wm = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out_wm.collect()}
    assert got_wm == ref


def test_stream_ppl_bucket_thresholds_matches_batch(spark, tmp_path):
    """CCNet bucketing on a document STREAM (r7): thresholds computed
    once from the standing corpus (ppl_bucket_thresholds), then the
    stream is scored with the map-only lm twin and bucketed by pure
    threshold comparison — append-mode legal end to end, pinned equal
    to the batch sketch-mode split with the same thresholds."""
    import shutil

    from mapping_timeseries_spark.operators.textmodels import (
        bigram_lm_counts,
        lm_perplexity,
        lm_score_map,
        ppl_bucket_thresholds,
        ppl_buckets,
    )

    d = tmp_path / "docs_ppl_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-0.parquet")
    batch_docs = spark.read.parquet(str(d))
    model = bigram_lm_counts(batch_docs.where(F.col("source") != "src0"))
    scored_batch = lm_perplexity(batch_docs, model)
    th = ppl_bucket_thresholds(scored_batch)
    assert th[0] is not None and th[0] <= th[1]

    cols = ["doc_id", "ppl_bucket"]
    ref = _as_sorted_rows(
        ppl_buckets(scored_batch, mode="sketch", thresholds=th).select(*cols),
        cols,
    )
    # sanity: all three buckets occupied on the fixture
    assert {b for _, b in ref} == {"head", "middle", "tail"}

    stream_docs = spark.readStream.schema(batch_docs.schema).parquet(str(d))
    out = run_to_memory(
        ppl_buckets(
            lm_score_map(stream_docs, model), mode="sketch", thresholds=th
        ).select(*cols),
        "t_ppl_stream",
        output_mode="append",
    )
    got = _as_sorted_rows(out, cols)
    assert got == ref and len(got) == batch_docs.count()
