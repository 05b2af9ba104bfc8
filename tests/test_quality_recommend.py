from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapping_timeseries_spark import MappingConfig
from mapping_timeseries_spark.operators.canonicalize import VALUE1, VALUE2, canonicalize
from mapping_timeseries_spark.operators.correlation import best_lag_correlation
from mapping_timeseries_spark.operators.dtw import dtw_summary
from mapping_timeseries_spark.operators.merge import merge_series
from mapping_timeseries_spark.operators.quality import (
    alignment_coverage,
    duplicate_stats,
    profile_columns,
    qa_report,
)
from mapping_timeseries_spark.operators.recommend import (
    compare_methods,
    recommendation_table,
    route_entities,
)
from mapping_timeseries_spark.plans.pipeline import run_pipeline
from mapping_timeseries_spark.sources.fixtures import synthetic_pair

from .conftest import job_group
from .parquet_footers import parquet_codecs, parquet_files


@pytest.fixture(scope="module")
def pair(spark):
    t1, t2 = synthetic_pair(spark, num_customers=15, num_months=18)
    return t1.cache(), t2.cache()


def test_profile_columns(spark):
    df = spark.createDataFrame(
        [(1.0, None), (-2.0, 3.0), (None, -4.0)], "a double, b double"
    )
    rows = {r["column"]: r for r in profile_columns(df, ["a", "b"]).collect()}
    assert rows["a"]["total_rows"] == 3
    assert rows["a"]["null_count"] == 1
    assert rows["a"]["negative_count"] == 1
    assert rows["b"]["null_count"] == 1
    assert rows["b"]["min_value"] == -4.0


def test_alignment_coverage(spark):
    t1 = spark.createDataFrame(
        [("A", "2024-01", 1.0), ("A", "2024-02", 1.0)],
        "cus_code string, month string, txn_amount double",
    )
    t2 = spark.createDataFrame(
        [("A", "2024-02", 2.0), ("A", "2024-03", 2.0)],
        "cus_code string, month string, revenue double",
    )
    row = alignment_coverage(t1, t2).collect()[0]
    assert (row["total_cells"], row["matched"]) == (3, 1)
    assert (row["table1_only"], row["table2_only"]) == (1, 1)


def test_duplicate_stats(spark):
    df = spark.createDataFrame(
        [("A", "2024-01"), ("A", "2024-01"), ("A", "2024-02")],
        "cus_code string, month string",
    )
    row = duplicate_stats(df, ["cus_code", "month"]).collect()[0]
    assert (row["total_rows"], row["distinct_rows"], row["duplicates"]) == (3, 2, 1)


def test_recommendation_thresholds(spark):
    comp = spark.createDataFrame(
        [
            ("HI", 0.9, 1, 3.0, 10, 0.3),   # high corr, low lag -> Correlation/High
            ("EI", 0.6, 1, 8.0, 10, 0.8),   # -> Either / Medium
            ("DT", 0.2, 5, 12.0, 10, 1.2),  # -> DTW / Medium
            ("CX", 0.1, 5, 30.0, 10, 3.0),  # -> Complex / Low
        ],
        "cus_code string, correlation double, optimal_lag int, total_cost double,"
        " num_mappings int, avg_distance double",
    )
    rec = {r["cus_code"]: r for r in recommendation_table(comp).collect()}
    assert rec["HI"]["recommended_method"] == "Correlation"
    assert rec["HI"]["confidence"] == "High"
    assert rec["EI"]["recommended_method"].startswith("Either")
    assert rec["DT"]["recommended_method"] == "DTW"
    assert rec["CX"]["recommended_method"] == "Complex - Manual Review"
    assert rec["CX"]["confidence"] == "Low"


def test_route_entities_fallback(spark):
    entities = spark.createDataFrame([("A",), ("B",), ("C",)], "cus_code string")
    recs = spark.createDataFrame(
        [("A", "Correlation", 2), ("B", "DTW", 0)],
        "cus_code string, recommended_method string, optimal_lag int",
    )
    routed = {r["cus_code"]: r for r in route_entities(entities, recs).collect()}
    assert routed["A"]["route"] == "correlation" and routed["A"]["optimal_lag"] == 2
    assert routed["B"]["route"] == "dtw"
    # unseen entity -> default route with lag 1 (05_prod_dev.py:409-411)
    assert routed["C"]["route"] == "default" and routed["C"]["optimal_lag"] == 1


def test_quality_null_and_empty_edges(spark):
    """Null-key rows must not fabricate duplicates, an all-NULL column
    must profile negative_count=0 (not None), duplicate cells must not
    multiply alignment counts, and an empty mapped frame must report 0
    temporal violations (not None -> spurious FAIL)."""
    # duplicate_stats: 3 unique keys, one carrying a NULL column
    df = spark.createDataFrame(
        [("a", "x"), ("b", None), ("c", "y")], "k string, t string"
    )
    row = duplicate_stats(df, ["k", "t"]).first()
    assert (row["total_rows"], row["distinct_rows"], row["duplicates"]) == (3, 3, 0)

    # profile: all-NULL value column
    nulls = spark.createDataFrame([(None,), (None,)], "v double")
    prow = profile_columns(nulls, ["v"]).first()
    assert prow["null_count"] == 2 and prow["negative_count"] == 0

    # alignment: duplicated cells on both sides count as ONE cell
    t1 = spark.createDataFrame(
        [("C1", "2024-01"), ("C1", "2024-01")], "cus_code string, month string"
    )
    t2 = spark.createDataFrame(
        [("C1", "2024-01")] * 3 + [("C1", "2024-02")],
        "cus_code string, month string",
    )
    arow = alignment_coverage(t1, t2).first()
    assert (arow["total_cells"], arow["matched"], arow["table2_only"]) == (2, 1, 1)

    # qa on an empty mapping: violations 0, not None
    from mapping_timeseries_spark.operators.quality import qa_invariants

    empty = spark.createDataFrame(
        [], "cus_code string, time1 string, value1 double, time2 string, "
            "value2 double, lag_offset int",
    )
    inp = spark.createDataFrame([("C1", "2024-01")], "cus_code string, month string")
    qrow = qa_invariants(empty, inp).first()
    assert qrow["temporal_violations"] == 0


def test_qa_report_gates(spark, pair):
    t1, t2 = pair
    t1c = canonicalize(t1, "cus_code", "month", "txn_amount", VALUE1)
    t2c = canonicalize(t2, "cus_code", "month", "revenue", VALUE2)
    merged = merge_series(t1c, t2c)
    from mapping_timeseries_spark.operators.lag_join import (
        build_correlation_mappings,
    )

    corr = best_lag_correlation(merged, 6)
    mapped = build_correlation_mappings(t1c, t2c, corr, 0.3)
    report = qa_report(mapped, t1c)
    assert set(report["checks"]) == {
        "coverage", "duplicates", "lag", "ratio", "temporal",
    }
    assert report["checks"]["duplicates"]["duplicates"] == 0
    assert report["checks"]["temporal"]["violations"] == 0
    assert report["checks"]["lag"]["max_lag"] <= 6


def test_pipeline_end_to_end(spark, pair, tmp_path):
    t1, t2 = pair
    merged = merge_series(
        canonicalize(t1, "cus_code", "month", "txn_amount", VALUE1),
        canonicalize(t2, "cus_code", "month", "revenue", VALUE2),
    )
    recs = recommendation_table(
        compare_methods(best_lag_correlation(merged, 6), dtw_summary(merged))
    )
    out = str(tmp_path / "run")
    result = run_pipeline(
        spark, t1, t2, recs,
        "cus_code", "month", "txn_amount", "revenue",
        output_path=out, config=MappingConfig(), run_id="testrun",
    )
    assert result.stats["total_mappings"] > 0
    assert result.stats["sla_nonempty_ok"]
    assert os.path.exists(os.path.join(out, "run_testrun.json"))
    written = spark.read.parquet(os.path.join(out, "mappings"))
    assert written.count() == result.stats["total_mappings"]
    methods = {r["method"] for r in written.select("method").distinct().collect()}
    assert methods <= {"correlation", "correlation_default", "dtw"}


def test_pipeline_versioned_publish_and_qa_rollback(spark, pair, tmp_path):
    """versioned_root publishes each run as a snapshot; a QA-failing run
    stays on disk for forensics but the table pointer auto-rolls back to
    the last good version (the reference's RESTORE runbook,
    05_prod_dev.py:1163-1191, as pipeline behavior)."""
    from mapping_timeseries_spark.sources.versioned import (
        read_versioned,
        table_history,
    )

    t1, t2 = pair
    root = str(tmp_path / "mappings_vt")
    good = run_pipeline(
        spark, t1, t2, None,
        "cus_code", "month", "txn_amount", "revenue",
        versioned_root=root, run_id="good",
    )
    assert good.stats["written_version"] == 1
    assert good.stats["published_version"] == 1
    v1_rows = read_versioned(spark, root).count()
    assert v1_rows == good.stats["total_mappings"]

    # second run with table2 gutted to one entity: coverage craters, QA
    # fails, the staged v2 must never be published (pointer stays at v1
    # with no transient window)
    one_entity = t2.where(
        F.col("cus_code") == t2.select("cus_code").first()["cus_code"]
    )
    bad = run_pipeline(
        spark, t1, one_entity, None,
        "cus_code", "month", "txn_amount", "revenue",
        versioned_root=root, run_id="bad",
    )
    assert not bad.qa["passed"]
    assert bad.stats["written_version"] == 2
    assert bad.stats["published_version"] == 1
    # readers still see v1; the failed snapshot remains for forensics
    assert read_versioned(spark, root).count() == v1_rows
    assert read_versioned(spark, root, version=2).count() == bad.stats[
        "total_mappings"
    ]
    # two-phase publish: the failed run stages v2 but never publishes, so
    # history records only the writes (no restore entry needed — the
    # pointer never moved off v1)
    notes = [h["note"] for h in table_history(root)]
    assert notes == ["pipeline run good", "pipeline run bad"]


def test_pipeline_first_run_qa_failure_stays_unpublished(spark, pair, tmp_path):
    """Fresh versioned table whose FIRST run fails QA: the staged
    snapshot must never become the published pointer (the old
    publish-then-rollback flow had nothing to roll back to and left the
    failed table live for readers)."""
    from mapping_timeseries_spark.sources.versioned import (
        current_version,
        read_versioned,
    )

    t1, t2 = pair
    one_entity = t2.where(
        F.col("cus_code") == t2.select("cus_code").first()["cus_code"]
    )
    root = str(tmp_path / "fresh_vt")
    bad = run_pipeline(
        spark, t1, one_entity, None,
        "cus_code", "month", "txn_amount", "revenue",
        versioned_root=root, run_id="firstbad",
    )
    assert not bad.qa["passed"]
    assert bad.stats["written_version"] == 1
    assert bad.stats["published_version"] is None
    assert current_version(root) is None
    with pytest.raises(Exception):
        read_versioned(spark, root)  # nothing published to read
    # forensics: the staged snapshot is still addressable by number
    assert read_versioned(spark, root, version=1).count() == bad.stats[
        "total_mappings"
    ]


def test_pipeline_writes_both_sinks_when_both_given(spark, pair, tmp_path):
    import os as _os

    t1, t2 = pair
    root = str(tmp_path / "both_vt")
    out = str(tmp_path / "both_out")
    res = run_pipeline(
        spark, t1, t2, None,
        "cus_code", "month", "txn_amount", "revenue",
        versioned_root=root, output_path=out, run_id="both",
    )
    assert res.qa["passed"]
    # versioned snapshot published AND the partitioned path written
    assert res.stats["published_version"] == 1
    mdir = _os.path.join(out, "mappings")
    assert _os.path.isdir(mdir)
    assert spark.read.parquet(mdir).count() == res.stats["total_mappings"]


def test_pipeline_qa_fail_gates_both_sinks(spark, pair, tmp_path):
    """r4 advice: with versioned_root AND output_path set, the
    partitioned sink used to be written BEFORE QA ran, so a QA-failed
    run exposed data through output_path/mappings even though the
    version pointer correctly stayed unflipped. Both sinks are now
    behind the same gate."""
    import os as _os

    t1, t2 = pair
    one_entity = t2.where(
        F.col("cus_code") == t2.select("cus_code").first()["cus_code"]
    )
    root = str(tmp_path / "gate_vt")
    out = str(tmp_path / "gate_out")
    bad = run_pipeline(
        spark, t1, one_entity, None,
        "cus_code", "month", "txn_amount", "revenue",
        versioned_root=root, output_path=out, run_id="gatedbad",
    )
    assert not bad.qa["passed"]
    assert bad.stats["published_version"] is None
    # the partitioned sink must not exist — no reader path sees the data
    assert not _os.path.isdir(_os.path.join(out, "mappings"))
    # run metadata still lands for forensics
    assert _os.path.isfile(_os.path.join(out, "run_gatedbad.json"))


def test_incremental_pipeline_date_slice(spark, pair, tmp_path):
    from mapping_timeseries_spark.plans.pipeline import run_incremental

    t1, t2 = pair
    p1, p2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    t1.write.parquet(p1)
    t2.write.parquet(p2)
    result = run_incremental(
        spark, p1, p2, None,
        "cus_code", "month", "txn_amount", "revenue",
        start="2023-04", end="2023-09",
    )
    months = {
        r["time1"]
        for r in result.mapped.select("time1").distinct().collect()
    }
    assert months
    assert all("2023-04" <= m <= "2023-09" for m in months)
    # the t2 slice reaches max_lag months PAST end (the lag join maps
    # time1 -> time1 + lag); slicing t2 to [start, end] silently
    # dropped every mapping whose lag exceeded the slice width
    months2 = {
        r["time2"]
        for r in result.mapped.select("time2").distinct().collect()
    }
    assert all("2023-04" <= m <= "2024-03" for m in months2)  # end + 6


def test_incremental_single_month_recovers_lagged_mappings(spark, tmp_path):
    """The regression the forward reach exists for: a one-month slice
    must still produce mappings for an entity whose model lag is 2 —
    its t2 rows live two months PAST the slice, and no other run could
    ever produce the pair (the later run excludes the t1 month)."""
    from mapping_timeseries_spark.plans.pipeline import run_incremental

    rows1 = [("L2", f"2024-{m:02d}", 100.0 + m) for m in range(1, 9)]
    rows2 = [("L2", f"2024-{m:02d}", 50.0 + m) for m in range(1, 9)]
    t1 = spark.createDataFrame(rows1, "cus_code string, month string, txn_amount double")
    t2 = spark.createDataFrame(rows2, "cus_code string, month string, revenue double")
    p1, p2 = str(tmp_path / "li_t1"), str(tmp_path / "li_t2")
    t1.write.parquet(p1)
    t2.write.parquet(p2)
    model = spark.createDataFrame(
        [("L2", "Correlation", 2)],
        "cus_code string, recommended_method string, optimal_lag int",
    )
    result = run_incremental(
        spark, p1, p2, model,
        "cus_code", "month", "txn_amount", "revenue",
        start="2024-05", end="2024-05",
    )
    got = [
        (r["time1"], r["time2"], r["lag_offset"])
        for r in result.mapped.collect()
    ]
    assert got == [("2024-05", "2024-07", 2)]
    assert result.stats["route_counts"] == {"correlation": 1}


def test_pipeline_without_model_trains_inline(spark, pair):
    t1, t2 = pair
    result = run_pipeline(
        spark, t1, t2, None,
        "cus_code", "month", "txn_amount", "revenue",
    )
    assert result.stats["total_mappings"] > 0
    assert result.qa["checks"]["coverage"]["mapped_customers"] > 0


# ---------------------------------------------------------------------------
# Monitoring: SLA gates, dashboard view, failure path (05_prod_dev.py
# 690-745, 963-982, 1252-1266)
# ---------------------------------------------------------------------------


def test_check_sla_gates():
    from mapping_timeseries_spark.operators.monitoring import check_sla

    ok, alerts = check_sla(
        {"coverage_pct": 95.0, "duration_seconds": 60.0, "total_mappings": 10}
    )
    assert ok and alerts == []

    ok, alerts = check_sla(
        {"coverage_pct": 50.0, "duration_seconds": 3600.0, "total_mappings": 0}
    )
    assert not ok
    assert [a.severity for a in alerts] == ["ERROR", "WARNING", "CRITICAL"]
    # machine-readable codes are the stable contract (SLA stats key off
    # them); subjects are human-facing and free to be reworded
    assert [a.code for a in alerts] == [
        "low_coverage", "long_duration", "empty_output"
    ]
    assert any("Low Coverage" in a.subject for a in alerts)


def test_avg_rank_distributed_matches_pandas(spark):
    """Range-partitioned two-phase rank == pandas rank(method='average')
    (scipy's spearman convention), including a tie block bigger than a
    partition's share — ties must land in ONE range partition — at 1
    and at 7 range partitions."""
    import numpy as np
    import pandas as pd

    from mapping_timeseries_spark.operators.recommend import (
        avg_rank_distributed,
    )

    rng = np.random.default_rng(11)
    vals = list(rng.normal(0, 1, 300)) + [0.5] * 120 + [-2.0] * 3
    expected = pd.Series(vals).rank(method="average")
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, v double"
    ).repartition(6)
    for p in (1, 7):
        got = {
            r["i"]: r["rk"]
            for r in avg_rank_distributed(df, "v", "rk", num_partitions=p).collect()
        }
        assert len(got) == len(vals), p
        for i, want in enumerate(expected):
            assert got[i] == want, (p, i, got[i], want)


def test_monitoring_view_roundtrip(spark):
    from mapping_timeseries_spark.operators.monitoring import (
        create_monitoring_view,
        monitoring_summary,
    )

    mapped = spark.createDataFrame(
        [
            ("A", "2024-01", 100.0, "2024-02", 10.0, "correlation"),
            ("A", "2024-02", 200.0, "2024-03", 30.0, "correlation"),
            ("B", "2024-01", 0.0, "2024-01", 5.0, "dtw"),
        ],
        "cus_code string, time1 string, value1 double, time2 string, "
        "value2 double, method string",
    ).withColumn("processed_at", F.to_timestamp(F.lit("2026-01-01 00:00:00")))

    rows = {r["method"]: r for r in monitoring_summary(mapped).collect()}
    corr = rows["correlation"]
    assert corr["total_mappings"] == 2
    assert corr["unique_customers"] == 1
    assert corr["avg_revenue"] == pytest.approx(20.0)
    assert corr["avg_transaction"] == pytest.approx(150.0)
    # conversion: (10/100 + 30/200) / 2 = 0.125
    assert corr["avg_conversion_rate"] == pytest.approx(0.125)
    # value1=0 -> NULLIF guards the ratio; avg over zero non-null ratios
    assert rows["dtw"]["avg_conversion_rate"] is None

    # dp=0 (round to whole units) is a valid request and must take the
    # portable path, not silently fall through to plain float means
    whole = {
        r["method"]: r
        for r in monitoring_summary(
            mapped, value_lattice_scale=1, value_round_dp=0
        ).collect()
    }
    assert whole["correlation"]["avg_revenue"] == pytest.approx(20.0)
    assert whole["correlation"]["avg_transaction"] == pytest.approx(150.0)
    with pytest.raises(ValueError, match=">= 0"):
        monitoring_summary(mapped, value_lattice_scale=1, value_round_dp=-1)
    with pytest.raises(ValueError, match="requires value_lattice_scale"):
        monitoring_summary(mapped, value_round_dp=6)
    # scale=0 would compute 0/0 lattice means (NaN) — must be rejected
    with pytest.raises(ValueError, match=">= 1"):
        monitoring_summary(mapped, value_lattice_scale=0)

    # CREATE OR REPLACE semantics: re-registering swaps the content
    create_monitoring_view(mapped, "t_monitoring")
    assert spark.table("t_monitoring").count() == 2
    create_monitoring_view(mapped.where(F.col("method") == "dtw"), "t_monitoring")
    assert spark.table("t_monitoring").count() == 1


def test_pipeline_failure_path(spark, pair, tmp_path):
    from pyspark.sql.utils import AnalysisException

    t1, t2 = pair
    out = str(tmp_path / "failrun")
    seen = []
    # a recommendations frame missing required columns blows up routing
    bad_recs = spark.createDataFrame([(1,)], "nonsense int")
    with pytest.raises(Exception) as excinfo:
        run_pipeline(
            spark, t1, t2, bad_recs,
            "cus_code", "month", "txn_amount", "revenue",
            output_path=out, run_id="failrun", on_alert=seen.append,
        )
    assert excinfo.type is not None
    # CRITICAL alert emitted and error log written (05_prod_dev.py:963-982)
    assert len(seen) == 1
    assert seen[0].severity == "CRITICAL"
    assert "failrun" in seen[0].subject
    log = os.path.join(out, "error_failrun.log")
    assert os.path.exists(log)
    assert "Error:" in open(log).read()


def test_pipeline_alerts_on_result(spark, pair):
    t1, t2 = pair
    result = run_pipeline(
        spark, t1, t2, None,
        "cus_code", "month", "txn_amount", "revenue",
    )
    # healthy synthetic pair: all SLA gates green, no alerts
    assert result.stats["sla_met"]
    assert result.alerts == []


def _checkpointed_rdds(df) -> set[int]:
    """Ids of the checkpointed RDDs the analyzed plan reads: an eager
    ``localCheckpoint`` becomes a LogicalRDD leaf over one."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    nodes = [leaves.apply(i) for i in range(leaves.size())]
    return {
        n.rdd().id()
        for n in nodes
        if n.nodeName() == "LogicalRDD" and n.rdd().isCheckpointed()
    }


@pytest.mark.parametrize("close", ["inline", "routed", "model"])
def test_pipeline_cuts_entity_table(spark, pair, close):
    """Both closes cut their entity table (the inline-trained model, the
    routing table) with an eager localCheckpoint; a caller-supplied
    model is used as given. The cut changes the plan only: the result
    equals the uncut composition row for row, and it stays consumable
    after run_pipeline returns, across a JVM GC."""
    import gc

    from mapping_timeseries_spark.operators.canonicalize import KEY
    from mapping_timeseries_spark.operators.lag_join import (
        build_correlation_mappings,
    )
    from mapping_timeseries_spark.plans.pipeline import _mappings_for_route

    t1, t2 = pair
    cfg = MappingConfig()
    c1 = canonicalize(t1, "cus_code", "month", "txn_amount", VALUE1)
    c2 = canonicalize(t2, "cus_code", "month", "revenue", VALUE2)
    merged = merge_series(c1, c2)
    corr = best_lag_correlation(merged, cfg.max_lag)
    cols = [KEY, "time1", "value1", "time2", "value2", "lag_offset", "method"]
    recommendations = model = None
    if close == "routed":
        recommendations = recommendation_table(
            compare_methods(corr, dtw_summary(merged))
        )
        routed = route_entities(c1.select(KEY).distinct(), recommendations)
        want = _mappings_for_route(c1, c2, merged, routed, cfg)
    else:
        want = build_correlation_mappings(c1, c2, corr, cfg.min_correlation)
        model = corr if close == "model" else None

    result = run_pipeline(
        spark, t1, t2, recommendations,
        "cus_code", "month", "txn_amount", "revenue",
        config=cfg, model=model,
    )
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    got = sorted(map(tuple, result.mapped.select(*cols).collect()))
    assert got
    assert got == sorted(map(tuple, want.select(*cols).collect()))
    assert len(_checkpointed_rdds(result.mapped)) == (
        0 if close == "model" else 1
    )


@pytest.fixture(scope="module")
def closes(spark, pair, tmp_path_factory):
    """Both closes the benchmark drives, run once for the sink tests from
    inputs spread over four partitions: the inline correlation close
    with versioned + partitioned sinks, and the routed close over a saved
    recommendations table. Each close runs under its own job group.
    ``{name: (output_path, versioned_root or None, result, jobs)}``."""
    root = tmp_path_factory.mktemp("closes")
    t1, t2 = (t.repartition(4) for t in pair)
    merged = merge_series(
        canonicalize(t1, "cus_code", "month", "txn_amount", VALUE1),
        canonicalize(t2, "cus_code", "month", "revenue", VALUE2),
    )
    # materialized here, so the jobs that build the inputs and the
    # recommendations fall outside the closes' job groups
    recs = recommendation_table(
        compare_methods(best_lag_correlation(merged, 6), dtw_summary(merged))
    ).localCheckpoint(eager=True)
    for t in pair:
        t.count()
    runs = {
        "inline": (None, dict(
            config=MappingConfig(method="correlation"),
            versioned_root=str(root / "inline_vt"),
        )),
        "routed": (recs, {}),
    }
    out = {}
    for name, (recommendations, kwargs) in runs.items():
        path = str(root / name)
        with job_group(spark.sparkContext, f"pipeline-close-{name}") as jobs:
            result = run_pipeline(
                spark, t1, t2, recommendations,
                "cus_code", "month", "txn_amount", "revenue",
                output_path=path, run_id=name, **kwargs,
            )
        out[name] = (path, kwargs.get("versioned_root"), result, len(jobs))
    return out


# Spark jobs per close on the ``closes`` fixture, under AQE (each query
# stage is submitted as its own job, so the count covers exchanges as
# well as driver actions).
PIPELINE_JOB_BUDGET = {"inline": 20, "routed": 28}


def test_pipeline_job_budget(closes):
    for name, (*_, jobs) in closes.items():
        assert jobs <= PIPELINE_JOB_BUDGET[name], (name, jobs)


def test_pipeline_sinks_write_one_file_per_month(spark, closes):
    """Both closes leave one parquet file per time1 directory, whatever
    the number of tasks upstream of the sink."""
    for name, (out, _, result, _) in closes.items():
        sink = os.path.join(out, "mappings")
        months = [d for d in os.listdir(sink) if d.startswith("time1=")]
        assert months, name
        for d in months:
            parquet = [f for f in os.listdir(os.path.join(sink, d))
                       if f.endswith(".parquet")]
            assert len(parquet) == 1, (name, d, parquet)
        assert spark.read.parquet(sink).count() == result.stats["total_mappings"]


def test_pipeline_sinks_zstd_and_clustered_by_entity(spark, closes, tmp_path):
    """Every parquet file of both closes' sinks, the versioned snapshot
    included, is Zstd in its footer; each time1 file holds its rows in
    (cus_code, time2) order; and the rows equal an unclustered write of
    the same frame, i.e. the sink as it was written before clustering."""
    import pyarrow.parquet as pq

    from mapping_timeseries_spark.sources.writers import write_partitioned

    for name, (out, versioned_root, result, _) in closes.items():
        sink = os.path.join(out, "mappings")
        assert parquet_codecs(sink) == {"ZSTD"}, name
        if versioned_root:
            assert parquet_files(versioned_root), name
            assert parquet_codecs(versioned_root) == {"ZSTD"}, name
        for path in parquet_files(sink):
            cols = pq.read_table(path, columns=["cus_code", "time2"]).to_pydict()
            keys = list(zip(cols["cus_code"], cols["time2"]))
            assert keys and keys == sorted(keys), (name, path)
        plain = str(tmp_path / name)
        write_partitioned(result.mapped, plain, "time1")
        got = spark.read.parquet(sink).drop("processed_at")
        want = spark.read.parquet(plain).select(*got.columns)
        assert got.count() == want.count() == result.stats["total_mappings"]
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_pipeline_qa_equals_qa_on_computed_mapping(spark, pair, closes):
    """Both closes QA what they wrote (the staged snapshot, the sink read
    back), and that report equals qa_report over the computed mapping
    frame: counts, minima and maxima exactly, means and deviations up to
    summation order."""
    t1c = canonicalize(pair[0], "cus_code", "month", "txn_amount", VALUE1)
    for name, (_, _, result, _) in closes.items():
        want = qa_report(result.mapped, t1c)
        assert result.qa["passed"] == want["passed"], name
        assert result.qa["checks"].keys() == want["checks"].keys(), name
        for check, fields in want["checks"].items():
            got = result.qa["checks"][check]
            assert got.keys() == fields.keys(), (name, check)
            for k, v in fields.items():
                if k.startswith(("avg_", "std_")):
                    assert got[k] == pytest.approx(v, rel=1e-12), (name, k)
                else:
                    assert got[k] == v, (name, k)
        assert result.stats["total_mappings"] == want["checks"]["duplicates"][
            "total_mappings"
        ]


@pytest.mark.parametrize(
    "close,sink",
    [
        ("inline", "output_path"),
        ("inline", "versioned_root"),
        ("inline", None),
        ("routed", "output_path"),
    ],
)
def test_pipeline_empty_mapping(spark, pair, tmp_path, close, sink):
    """A close that maps nothing reports zero mappings and fails QA with
    the low_coverage and empty_output alerts, in every sink mode. Inline:
    table1 holds only one entity and table2 only another, so no lag-join
    row matches. Routed: every entity is routed to manual review, which
    maps nothing by design. A row count observed on the sink write would
    crash here: AQE drops the metrics node of an empty plan."""
    t1, t2 = pair
    first, second = (
        r["cus_code"]
        for r in t1.select("cus_code").distinct().orderBy("cus_code").take(2)
    )
    recommendations = None
    if close == "inline":
        t1 = t1.where(F.col("cus_code") == first)
        t2 = t2.where(F.col("cus_code") == second)
    else:
        recommendations = t1.select(
            "cus_code",
            F.lit("Complex - Manual Review").alias("recommended_method"),
            F.lit(1).alias("optimal_lag"),
        ).distinct()
    kwargs = {sink: str(tmp_path / sink)} if sink else {}
    result = run_pipeline(
        spark, t1, t2, recommendations,
        "cus_code", "month", "txn_amount", "revenue",
        run_id="empty", **kwargs,
    )
    assert result.stats["total_mappings"] == 0
    assert not result.qa["passed"]
    assert {a.code for a in result.alerts} == {"low_coverage", "empty_output"}
    if sink == "output_path":
        assert os.path.isfile(os.path.join(kwargs[sink], "run_empty.json"))
    if close == "routed":
        assert result.stats["route_counts"] == {"manual_review": 15}


def test_pipeline_pins_nothing(spark, pair, tmp_path, monkeypatch):
    """run_pipeline caches nothing in the session: QA reads the sink the
    close wrote. Neither a successful close nor one whose qa_report
    raises after the output_path sink is written leaves an entry in the
    session's cache."""
    from mapping_timeseries_spark.plans import pipeline

    t1, t2 = pair
    cache = spark._jsparkSession.sharedState().cacheManager()
    cfg = MappingConfig(method="correlation")
    out = str(tmp_path / "qa_raises")

    def failing_qa(mapped, entities):
        assert os.path.isdir(os.path.join(out, "mappings"))
        raise RuntimeError("qa store unreachable")

    spark.catalog.clearCache()
    try:
        ok = run_pipeline(
            spark, t1, t2, None,
            "cus_code", "month", "txn_amount", "revenue",
            output_path=str(tmp_path / "ok"), config=cfg,
        )
        assert ok.qa["passed"]
        assert cache.isEmpty()
        monkeypatch.setattr(pipeline, "qa_report", failing_qa)
        with pytest.raises(RuntimeError, match="qa store unreachable"):
            run_pipeline(
                spark, t1, t2, None,
                "cus_code", "month", "txn_amount", "revenue",
                output_path=out, config=cfg,
            )
        assert cache.isEmpty()
    finally:
        # clearCache also dropped the module's cached inputs
        t1.cache()
        t2.cache()
