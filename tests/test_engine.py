from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapping_timeseries_spark import MappingConfig, map_tables, map_tables_simple
from mapping_timeseries_spark.operators.canonicalize import VALUE1, VALUE2, canonicalize
from mapping_timeseries_spark.operators.correlation import best_lag_correlation
from mapping_timeseries_spark.operators.dtw import dtw_summary
from mapping_timeseries_spark.operators.merge import merge_series
from mapping_timeseries_spark.operators.recommend import (
    compare_methods,
    recommendation_table,
)
from mapping_timeseries_spark.plans.pipeline import run_pipeline
from mapping_timeseries_spark.sources.fixtures import synthetic_pair

MAPPING_COLS = {
    "cus_code", "time1", "value1", "time2", "value2",
    "lag_offset", "method", "processed_at",
}


@pytest.fixture(scope="module")
def pair(spark):
    t1, t2 = synthetic_pair(spark, num_customers=12, num_months=18)
    return t1.cache(), t2.cache()


def test_correlation_method(spark, pair):
    t1, t2 = pair
    out = map_tables(
        t1, t2, "cus_code", "month", "txn_amount", "revenue",
        MappingConfig(method="correlation"),
    )
    assert set(out.columns) == MAPPING_COLS | {"correlation"}
    rows = out.collect()
    assert rows
    assert all(r["method"] == "correlation" for r in rows)
    assert all(r["correlation"] >= 0.3 for r in rows)


def test_dtw_method(spark, pair):
    t1, t2 = pair
    out = map_tables(
        t1, t2, "cus_code", "month", "txn_amount", "revenue",
        MappingConfig(method="dtw", window_size=3),
    )
    assert set(out.columns) == MAPPING_COLS | {"dtw_cost"}
    assert out.count() > 0


def test_auto_method_routes_both(spark, pair):
    t1, t2 = pair
    out = map_tables(
        t1, t2, "cus_code", "month", "txn_amount", "revenue",
        MappingConfig(method="auto"),
    )
    methods = {r["method"] for r in out.select("method").distinct().collect()}
    # synthetic data plants both simple (corr) and irregular (dtw) families
    assert methods == {"correlation", "dtw"}


def test_forbid_broadcast_is_query_scoped(spark, pair):
    """broadcast_threshold <= 0 must pin a sort-merge lag join WITHOUT
    mutating the shared session's autoBroadcastJoinThreshold (the r4
    advice: the old conf.set leaked into every later job on the
    session and contradicted config.py's no-mutation contract)."""
    t1, t2 = pair
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # keep a handle on the frame that is collected: only its query
    # execution holds the final adaptive plan
    out = map_tables(
        t1, t2, "cus_code", "month", "txn_amount", "revenue",
        MappingConfig(method="correlation", broadcast_threshold=-1),
    ).drop("processed_at")
    out_rows = out.collect()
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    default = map_tables(
        t1, t2, "cus_code", "month", "txn_amount", "revenue",
        MappingConfig(method="correlation"),
    ).drop("processed_at")
    default_rows = default.collect()
    # compare the FINAL adaptive plans (AQE rewrites joins at runtime;
    # the static plan is all-SMJ before stats exist): at this tiny
    # scale AQE broadcast-converts every unhinted join, so the forbid
    # plan keeping >= 1 SortMergeJoin — and strictly fewer broadcasts
    # than default — can only come from the query-scoped hint
    fplan = out._jdf.queryExecution().executedPlan().toString()
    dplan = default._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in fplan and "isFinalPlan=true" in dplan
    assert fplan.count("SortMergeJoin") >= 1
    assert dplan.count("BroadcastHashJoin") > fplan.count("BroadcastHashJoin")
    # and the policy changes the plan only, never the result
    assert sorted(map(tuple, out_rows)) == sorted(map(tuple, default_rows))


def test_pipeline_forbid_broadcast_is_query_scoped(spark, pair):
    """run_pipeline honors broadcast_threshold <= 0 the same way
    map_tables does, on both closes: the final adaptive plan keeps a
    SortMergeJoin, the rows equal the default run's, and the session
    conf is untouched."""
    t1, t2 = pair
    merged = merge_series(
        canonicalize(t1, "cus_code", "month", "txn_amount", VALUE1),
        canonicalize(t2, "cus_code", "month", "revenue", VALUE2),
    )
    recs = recommendation_table(
        compare_methods(best_lag_correlation(merged, 6), dtw_summary(merged))
    )
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    def run(recommendations, threshold):
        result = run_pipeline(
            spark, t1, t2, recommendations,
            "cus_code", "month", "txn_amount", "revenue",
            config=MappingConfig(broadcast_threshold=threshold),
        )
        out = result.mapped.drop("processed_at", "pipeline_run_id")
        rows = sorted(map(tuple, out.collect()))
        return rows, out._jdf.queryExecution().executedPlan().toString()

    for recommendations in (None, recs):
        frows, fplan = run(recommendations, -1)
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
        drows, dplan = run(recommendations, MappingConfig().broadcast_threshold)
        assert "isFinalPlan=true" in fplan
        assert fplan.count("SortMergeJoin") >= 1
        assert dplan.count("SortMergeJoin") < fplan.count("SortMergeJoin")
        assert frows == drows


def test_missing_column_raises(spark, pair):
    t1, t2 = pair
    with pytest.raises(ValueError, match="missing required columns"):
        map_tables(
            t1.drop("txn_amount"), t2, "cus_code", "month", "txn_amount", "revenue"
        )


def test_renamed_columns_work(spark, pair):
    t1, t2 = pair
    out = map_tables_simple(
        spark,
        t1.withColumnRenamed("cus_code", "entity").withColumnRenamed(
            "txn_amount", "amount"
        ),
        t2.withColumnRenamed("cus_code", "entity"),
        key_col="entity",
        time_col="month",
        value1_col="amount",
        value2_col="revenue",
        method="correlation",
    )
    assert out.count() > 0
    # Hold-out: renamed run equals canonical run
    base = map_tables(
        t1, t2, "cus_code", "month", "txn_amount", "revenue",
        MappingConfig(method="correlation"),
    )
    # reference test only checks it runs; we additionally check row parity
    assert out.count() == base.count()


def test_single_entity(spark):
    t1, t2 = synthetic_pair(spark, num_customers=1, num_months=12)
    out = map_tables(
        t1, t2, "cus_code", "month", "txn_amount", "revenue",
        MappingConfig(method="correlation"),
    )
    assert out.select("cus_code").distinct().count() <= 1


def test_config_validation():
    with pytest.raises(ValueError):
        MappingConfig(method="bogus")
    with pytest.raises(ValueError):
        MappingConfig(min_correlation=1.5)
    with pytest.raises(ValueError):
        MappingConfig(max_lag=0)


def test_empty_input_union_identity(spark):
    """SURVEY §2.7 U3: the reference builds an explicit empty DataFrame with
    the mapping schema as the union identity (mapping_engine.py:732-742).
    Our engine needs no sentinel frame — every method, including auto's
    unionByName of its two segments, is well-defined on zero-row input and
    yields an empty mapping table with the full schema."""
    t1, t2 = synthetic_pair(spark, num_customers=3, num_months=12)
    empty1 = t1.where(F.lit(False))
    empty2 = t2.where(F.lit(False))
    for method in ("correlation", "dtw", "auto"):
        out = map_tables(
            empty1, empty2, "cus_code", "month", "txn_amount", "revenue",
            MappingConfig(method=method),
        )
        assert out.count() == 0
        assert MAPPING_COLS <= set(out.columns)


def test_sample_stratified_quota_and_determinism(spark):
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.operators.relational import sample_stratified

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(200)],
        "doc_id long, lang string",
    )
    s = sample_stratified(df, "lang", "doc_id", 10)
    counts = {r["lang"]: r["n"] for r in s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"en": 10, "de": 10}
    # deterministic: identical draw on re-run and under repartitioning
    ids1 = sorted(r["doc_id"] for r in s.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in sample_stratified(df.repartition(7), "lang", "doc_id", 10).collect()
    )
    assert ids1 == ids2
    # small stratum: quota caps at stratum size
    tiny = sample_stratified(df.where(F.col("doc_id") < 4), "lang", "doc_id", 10)
    assert tiny.count() == 4


def test_sample_weighted_mix_semantics(spark):
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.operators.relational import sample_weighted_mix

    langs = ["en", "de", "fr", "zh"]
    df = spark.createDataFrame(
        [(i, langs[i % 4]) for i in range(2000)], "doc_id long, lang string"
    )
    weights = {"de": 2.5, "fr": 0.4, "zh": 0.0}
    m = sample_weighted_mix(df, "lang", "doc_id", weights).cache()
    counts = {
        r["lang"]: r["n"]
        for r in m.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # zero weight: excluded entirely; default weight: exactly once
    assert "zh" not in counts
    assert counts["en"] == 500
    # integer part exact, fractional part an exact-expectation hash draw:
    # de in [2*500, 3*500], near 2.5*500; fr in [0, 500], near 0.4*500
    assert 2 * 500 <= counts["de"] <= 3 * 500
    assert abs(counts["de"] - 1250) < 120
    assert abs(counts["fr"] - 200) < 100
    # every de doc appears at least twice with dense copy_idx 1..n
    de = m.where(F.col("lang") == "de")
    per_doc = {
        r["doc_id"]: (r["n"], r["mx"])
        for r in de.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("copy_idx").alias("mx"))
        .collect()
    }
    assert all(n in (2, 3) and mx == n for n, mx in per_doc.values())
    # deterministic under repartitioning
    again = sample_weighted_mix(df.repartition(13), "lang", "doc_id", weights)
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, again.collect()))
    # a different salt redraws the fractional slice but keeps the integer part
    other = sample_weighted_mix(df, "lang", "doc_id", weights, salt="mix2")
    de_ids = {r["doc_id"] for r in de.where(F.col("copy_idx") == 3).collect()}
    other_ids = {
        r["doc_id"]
        for r in other.where(
            (F.col("lang") == "de") & (F.col("copy_idx") == 3)
        ).collect()
    }
    assert de_ids != other_ids
    m.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sample_weighted_mix(df, "lang", "doc_id", {"en": -1.0})


def test_salted_agg_equals_direct_groupby(spark):
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.operators.relational import salted_agg

    df = spark.createDataFrame(
        [("hot" if i % 10 else "cold", float(i), i) for i in range(1000)],
        "k string, v double, n long",
    ).repartition(8)
    got = {
        r["k"]: (r["sum_v"], r["count_n"], r["min_v"], r["max_v"])
        for r in salted_agg(df, ["k"], {"v": "sum", "n": "count"})
        .join(salted_agg(df, ["k"], {"v": "min"}), "k")
        .join(salted_agg(df, ["k"], {"v": "max"}), "k")
        .collect()
    }
    want = {
        r["k"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("n").alias("c"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert got[k][2] == want[k][2]
        assert got[k][3] == want[k][3]
        assert got[k][0] == pytest.approx(want[k][0], rel=1e-12)


def test_exact_median_grouped_vs_numpy(spark):
    """Histogram median == numpy median (interpolated middle-two average)
    across odd/even counts, heavy ties, nulls, and a single-row key."""
    import numpy as np

    from mapping_timeseries_spark.operators.relational import (
        exact_median_grouped,
    )

    rng = np.random.default_rng(7)
    rows, expect = [], {}
    cases = {
        "odd": list(rng.integers(0, 50, size=101).astype(float)),
        "even": list(rng.integers(0, 50, size=100).astype(float)),
        "ties": [5.0] * 40 + [7.0] * 60,  # even: middles straddle 5|7? no — 7,7
        "tie_straddle": [1.0] * 50 + [2.0] * 50,  # middles 1 and 2 -> 1.5
        "single": [42.0],
        "skewed_hot": list(rng.exponential(10.0, size=5000)),
    }
    for k, vals in cases.items():
        expect[k] = float(np.median(vals))
        rows += [(k, float(v)) for v in vals]
    rows += [("odd", None), ("even", None)]  # nulls excluded
    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    got = {
        r["k"]: r["median"]
        for r in exact_median_grouped(df, ["k"], "v").collect()
    }
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k], abs=0.0), k
    assert got["tie_straddle"] == 1.5
    assert got["single"] == 42.0


def test_asof_join_semantics(spark):
    """Backward as-of: inclusive equal-time match, latest-preceding pick,
    NULLs when nothing precedes, left rows never dropped."""
    from mapping_timeseries_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01", 10.0), (1, "2024-03", 30.0), (2, "2024-02", 5.0)],
        "cus_code long, month string, txn double",
    )
    right = spark.createDataFrame(
        [(1, "2024-01", 100.0), (1, "2024-02", 200.0), (2, "2024-03", 999.0)],
        "cus_code long, month string, revenue double",
    )
    got = {
        (r["cus_code"], r["month"]): (r["month_asof"], r["revenue_asof"])
        for r in asof_join(left, right, "cus_code", "month", ["revenue"]).collect()
    }
    assert got == {
        (1, "2024-01"): ("2024-01", 100.0),  # equal time matches (inclusive)
        (1, "2024-03"): ("2024-02", 200.0),  # latest preceding, not first
        (2, "2024-02"): (None, None),        # right only has later rows
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, "cus_code", "month", ["txn"])
    # chaining with the default suffix would emit duplicate output names
    chained = asof_join(left, right, "cus_code", "month", ["revenue"])
    with _pytest.raises(ValueError, match="different suffix"):
        asof_join(chained, right, "cus_code", "month", ["revenue"])
    ok = asof_join(chained, right, "cus_code", "month", ["revenue"], suffix="_asof2")
    assert "revenue_asof2" in ok.columns and "revenue_asof" in ok.columns


def test_interval_join_semantics(spark):
    """Granule-bucketed interval join: containment inclusive on both
    bounds, cross-granule intervals matched, points outside all intervals
    dropped, overlapping intervals yield one row each."""
    from mapping_timeseries_spark.operators.asof import interval_join

    pts = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:10:00"), (2, 1, "2024-01-01 02:30:00"),
         (3, 1, "2024-01-01 09:00:00"), (4, 2, "2024-01-01 00:10:00")],
        "pid long, k long, ts string",
    )
    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 02:30:00", "a"),   # spans 3 granules
         (1, "2024-01-01 02:00:00", "2024-01-01 03:00:00", "b"),   # overlaps a
         (2, "2024-01-01 01:00:00", "2024-01-01 02:00:00", "c")],
        "k long, s string, e string, tag string",
    )
    got = sorted(
        (r["pid"], r["tag"])
        for r in interval_join(pts, iv, "k", "ts", "s", "e").collect()
    )
    # pid1 in a only; pid2 at 02:30 in BOTH a (end-inclusive) and b;
    # pid3 in nothing; pid4 is key 2 before c starts
    assert got == [(1, "a"), (2, "a"), (2, "b")]


def test_interval_join_sentinel_interval_raises(spark):
    """A corrupt far-future end timestamp must fail loudly (naming the
    key), not materialize a ~70M-granule sequence and OOM the executor."""
    import pytest
    from pyspark.sql.utils import PythonException

    from mapping_timeseries_spark.operators.asof import interval_join

    pts = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:10:00")], "pid long, k long, ts string"
    )
    iv = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", "9999-12-31 00:00:00", "bad")],
        "k long, s string, e string, tag string",
    )
    with pytest.raises(Exception, match="more than"):
        interval_join(pts, iv, "k", "ts", "s", "e").collect()
    # the cap is a parameter: a 48-granule interval fails a cap of 10 and
    # passes a cap of 100
    iv2 = spark.createDataFrame(
        [(7, "2024-01-01 00:00:00", "2024-01-03 00:00:00", "long")],
        "k long, s string, e string, tag string",
    )
    with pytest.raises(Exception, match="more than"):
        interval_join(pts, iv2, "k", "ts", "s", "e", max_granules=10).collect()
    ok = interval_join(pts, iv2, "k", "ts", "s", "e", max_granules=100)
    assert [r["tag"] for r in ok.collect()] == ["long"]


def test_exact_median_all_null_group_kept(spark):
    """Keys whose values are all NULL return a NULL median row (ANSI
    percentile_cont / DuckDB median semantics), not a vanished group."""
    from mapping_timeseries_spark.operators.relational import (
        exact_median_grouped,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None), ("b", None), (None, 5.0)],
        "k string, v double",
    )
    got = {r["k"]: r["median"] for r in exact_median_grouped(df, ["k"], "v").collect()}
    assert got == {"a": 2.0, "b": None, None: 5.0}
