"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship correlation-lag mapping at sf0.001.
``queries()`` exposes each implemented SURVEY §2 operator as a named
callable; ``oracle_sql()`` gives the DuckDB twin for every
SQL-expressible one (tables are pre-registered views).

All double outputs are rounded identically on both sides (all at 6dp: the money lattice is 4dp so no
value sits within float error of a 6dp midpoint) so the driver's order-insensitive value-hash is
stable across engines; counts are cast to BIGINT and lags to INT on both
sides for schema parity.

Cache-scope contract (ADVICE r10 #3): several queries pin reused frames
via ``operators.dedup.scoped_pin`` (the merged series, the mapping t1/t2
inputs, the LM-scored corpus). Consumers must run each query's action
inside ``dedup_cache_scope()`` (as tools/compare_oracle.py does) or call
``spark.catalog.clearCache()`` between actions (as bench.py does per
rep); otherwise the persisted frames live for the session and accumulate
across a 50-query run.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapping_timeseries_spark.operators.canonicalize import lattice_snap

from mapping_timeseries_spark.operators.correlation import (
    best_lag_correlation,
    lag_correlation_grid,
    lag_grid_with_pvalues,
)
from mapping_timeseries_spark import MappingConfig, map_tables
from mapping_timeseries_spark.operators.dtw import build_dtw_mappings, dtw_summary
from mapping_timeseries_spark.operators.lag_join import build_correlation_mappings
from mapping_timeseries_spark.operators.merge import merge_series
from mapping_timeseries_spark.operators.quality import (
    alignment_coverage,
    duplicate_stats,
    profile_columns,
    qa_invariants,
)
from mapping_timeseries_spark.operators.monitoring import create_monitoring_view
from mapping_timeseries_spark.operators.recommend import (
    compare_methods,
    method_agreement,
    recommendation_table,
)
from mapping_timeseries_spark.operators.dedup import (
    content_hash_dedup,
    dedup_clusters,
    dup_span_stats,
    exact_dedup,
    line_dedup,
    minhash_dedup_incremental,
    minhash_index_frames,
    minhash_lsh_pairs,
    ngram_decontaminate,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from mapping_timeseries_spark.operators.multimodal import (
    attach_binary_payload,
    attach_image_payload,
    attach_video_payload,
    extract_features,
)
from mapping_timeseries_spark.operators.similarity import (
    ann_bucketed_topk,
    cosine_topk,
    diversity_profile,
    embedding_decontaminate,
    embedding_near_dups,
    ivf_build_index,
    ivf_seed_centroids,
    ivf_topk,
    ivf_topk_indexed,
    semantic_dedup,
)
from mapping_timeseries_spark.operators.dsir import (
    dsir_gumbel_topk,
    dsir_logratio,
    dsir_weights,
)
from mapping_timeseries_spark.operators.textmodels import (
    bigram_lm_counts,
    lm_perplexity,
    nb_score,
    nb_train,
    ppl_buckets,
)
from mapping_timeseries_spark.operators.textstats import (
    LANG_TRIGRAMS,
    boilerplate_signals,
    chunk_documents,
    doc_fingerprints,
    gopher_repetition,
    lang_distribution,
    lang_marker_scores,
    lang_trigram_scores,
    line_repetition_stats,
    normalize_text,
    pii_counts,
    quality_score,
    repetition_stats,
    text_stats,
    token_counts,
    wrap_tokens,
)
from mapping_timeseries_spark.operators.sessionize import (
    dedup_events,
    parse_props,
    session_agg_native,
    sessionize_batch,
    sliding_agg,
    tumbling_agg,
)
from mapping_timeseries_spark.operators.asof import asof_join, interval_join
from mapping_timeseries_spark.operators.packing import (
    concat_pack_spans,
    pack_manifest,
)
from mapping_timeseries_spark.operators.relational import (
    anti_join,
    join_distinct_dim,
    salted_agg,
    sample_fraction,
    sample_portable,
    sample_stratified,
    sample_weighted_mix,
    summary_stats,
    conditional_agg,
    distinct_counts,
    exact_median_grouped,
    group_quantiles,
    merge_upsert,
    month_arithmetic,
    segment_case,
    shard_assign,
    series_window_features,
    top_k,
    union_by_name,
)
from mapping_timeseries_spark.session import ensure_runtime_conf
from mapping_timeseries_spark.sources.fixtures import (
    SQL_MERGED,
    monthly_revenue,
    monthly_spend,
)
from mapping_timeseries_spark.sources.readers import read_incremental, read_table

MAX_LAG = 6
MIN_CORRELATION = 0.3

#: Pre-computed expected tables for the non-SQL-expressible DTW DP
#: (tools/gen_dtw_expected.py; see q_dtw_summary). Absolute path so the
#: DuckDB oracle resolves it regardless of the driver's cwd.
ARTIFACTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "artifacts")

# ---------------------------------------------------------------------------
# Spark-side query builders
# ---------------------------------------------------------------------------


def _merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_series(monthly_spend(spark, sf_dir), monthly_revenue(spark, sf_dir))


def _merged_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged series with values snapped to the exact 1e-4 money lattice.

    Queries whose DuckDB twin involves the pre-computed DTW expected table
    (tools/gen_dtw_expected.py) consume this variant: the snap makes the
    DTW input vectors bit-identical between Spark and the numpy oracle
    generator, which is what lets a float-sensitive DP hash-match across
    implementations.
    """
    m = _merged(spark, sf_dir)
    return m.select(
        "cus_code",
        "month",
        lattice_snap("txn_amount").alias("txn_amount"),
        lattice_snap("revenue").alias("revenue"),
    )


def q_merged_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: inner merge join of the two derived series tables."""
    ensure_runtime_conf(spark)
    m = _merged(spark, sf_dir)
    return m.select(
        "cus_code",
        "month",
        F.round("txn_amount", 6).alias("txn_amount"),
        F.round("revenue", 6).alias("revenue"),
    )


def q_corr_lag_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 grid: per (entity, lag) Pearson correlation, positional
    alignment — PLUS (r9, VERDICT r8 #6) the incremental-state twin of
    the same grid as its own gated columns: the history is split at a
    fixed month, the pre-split slice is bootstrapped into the moment
    state (correlation.corr_moment_state), the post-split months are
    folded in through the APPEND path (corr_moments_delta over the
    max_lag tail + merge_moment_states — exactly the algebra
    plans/incremental.advance_corr_state persists), and the finished
    corr_from_moments grid rides along as (state_corr, state_n_pairs).
    The DuckDB twin computes the full-history grid directly, so the
    hash gate pins state-advance == full-recompute ACROSS ENGINES, not
    just across Spark code paths (the pre-existing pytest pin)."""
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.operators.correlation import (
        corr_from_moments,
        corr_moment_state,
        corr_moments_delta,
        merge_moment_states,
    )
    from mapping_timeseries_spark.plans.incremental import _tail

    # r13 (guide §2.4, replacing the r9 pin): the grid, the bootstrap
    # state, the tail, and the delta all read `merged` — a naked frame
    # re-executes the monthly_spend/monthly_revenue join subtree ~4x per
    # action, and a cold PIN is still materialized concurrently by those
    # same consumers. One entity-key exchange is the reuse point: the
    # merge subtree computes exactly once, all four consumers read its
    # shuffle files, the per-entity grid windows reuse the partitioning,
    # and no executor memory is pinned (same measured pattern as
    # qa_invariants, artifacts/r13_shape_ab_results.json).
    merged = _merged(spark, sf_dir).repartition(F.col("cus_code"))
    grid = lag_correlation_grid(merged, MAX_LAG)
    corr = F.when(F.isnan("corr"), F.lit(None)).otherwise(F.col("corr"))
    # fixed split inside the TPC-H date range: every sf dir has months
    # on both sides, so both the bootstrap and the append path carry
    # real work at every scale factor
    split = "1996-01"
    old = merged.where(F.col("month") < split)
    new = merged.where(F.col("month") >= split)
    state = merge_moment_states(
        corr_moment_state(old, MAX_LAG),
        corr_moments_delta(_tail(old, MAX_LAG), new, MAX_LAG),
    )
    sg = corr_from_moments(state).select(
        "cus_code",
        "lag",
        F.col("corr").alias("__scorr"),
        F.col("n_pairs").alias("__sn"),
    )
    # left join: the batch grid keeps (entity, lag) rows with ZERO
    # aligned pairs (n_pairs=0, corr null); the moment state stores no
    # row for them, so they coalesce to the same (null, 0) shape
    return (
        grid.join(sg, ["cus_code", "lag"], "left")
        .select(
            "cus_code",
            F.col("lag").cast("int").alias("lag"),
            F.round(corr, 6).alias("corr"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round("__scorr", 6).alias("state_corr"),
            F.coalesce("__sn", F.lit(0)).cast("bigint").alias("state_n_pairs"),
        )
    )


def q_corr_best_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 argmax: per-entity optimal lag + best correlation (UDF-free)."""
    ensure_runtime_conf(spark)
    # mean_lattice_scale=10000: txn/rev are 4-dp money, so the lattice-exact
    # mean is deterministic and bit-identical to the DuckDB twin (float avg()
    # diverged by 1 ulp on 5/1402 entities in round 1). mean_round_dp=6:
    # round to 6 dp with integer half-up arithmetic INSIDE the aggregate —
    # F.round(double, 6) is not engine-portable on exact 5e-7 midpoints
    # (Spark HALF_UPs the shortest-decimal repr, DuckDB rounds the binary
    # double; diverged on 1/1402 rows in round 2).
    best = best_lag_correlation(
        _merged(spark, sf_dir), MAX_LAG, mean_lattice_scale=10000, mean_round_dp=6
    )
    return best.select(
        "cus_code",
        F.col("optimal_lag").cast("int").alias("optimal_lag"),
        F.round("correlation", 6).alias("correlation"),
        F.col("num_months").cast("bigint").alias("num_months"),
        F.col("txn_mean").alias("txn_mean"),
        F.col("rev_mean").alias("rev_mean"),
    )


def q_corr_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: correlation-lag mapping table (J2 lag join included)."""
    ensure_runtime_conf(spark)
    mappings = map_tables(
        monthly_spend(spark, sf_dir),
        monthly_revenue(spark, sf_dir),
        "cus_code",
        "month",
        "txn_amount",
        "revenue",
        MappingConfig(method="correlation", max_lag=MAX_LAG,
                      min_correlation=MIN_CORRELATION),
        stamp_processed_at=False,
    )
    return mappings.select(
        "cus_code",
        "time1",
        F.round("value1", 6).alias("value1"),
        "time2",
        F.round("value2", 6).alias("value2"),
        F.col("lag_offset").cast("int").alias("lag_offset"),
        "method",
        F.round("correlation", 6).alias("correlation"),
    )


def q_dtw_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: per-entity DTW cost + path length.

    Hash-gated against a pre-computed expected table
    (``artifacts/dtw_expected_summary.parquet``) generated by the
    *independent* naive numpy DP in ``tests/oracles.py`` via
    ``tools/gen_dtw_expected.py`` — the per-group DP itself is not
    SQL-expressible. Input is lattice-snapped (see ``_merged_lattice``) so
    the DTW input vectors are bit-identical between engine and generator.
    """
    ensure_runtime_conf(spark)
    res = dtw_summary(_merged_lattice(spark, sf_dir), window_size=None, normalize=True)
    return res.select(
        "cus_code",
        F.round("total_cost", 6).alias("total_cost"),
        F.col("num_mappings").cast("int").alias("num_mappings"),
    )


def q_dtw_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3+F2: DTW mapping table (exploded alignment paths).

    Hash-gated against ``artifacts/dtw_expected_mapping.parquet`` (see
    ``q_dtw_summary``); lattice-snapped input for bit-identical vectors.
    """
    ensure_runtime_conf(spark)
    flat = build_dtw_mappings(_merged_lattice(spark, sf_dir), window_size=None, normalize=True)
    return flat.select(
        "cus_code",
        "time1",
        F.round("value1", 6).alias("value1"),
        "time2",
        F.round("value2", 6).alias("value2"),
        "lag_offset",
        "method",
        F.round("dtw_cost", 6).alias("dtw_cost"),
    )


def q_corr_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: lag grid with two-sided Pearson p-values.

    Hash-gated since r3: DuckDB has no Student-t CDF, so the p column
    joins a pre-computed expected table built by an INDEPENDENT Student-t
    tail quadrature (``tools/gen_pvalue_expected.py`` — Gauss-Legendre,
    not the engine's betainc continued fraction; measured agreement
    <= 3.2e-13). The corr/n_pairs columns stay SQL CTEs. Lattice-snapped
    input so numpy corrcoef and the engines' corr see identical doubles;
    pytest additionally pins betainc against closed forms.
    """
    ensure_runtime_conf(spark)
    g = lag_grid_with_pvalues(_merged_lattice(spark, sf_dir), MAX_LAG)
    corr = F.when(F.isnan("corr"), F.lit(None)).otherwise(F.col("corr"))
    return g.select(
        "cus_code",
        F.col("lag").cast("int").alias("lag"),
        F.round(corr, 6).alias("corr"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round("pvalue", 6).alias("pvalue"),
    )


def q_qa_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA suite (05_prod_dev QualityChecker) as one single-pass row over the
    flagship mapping: coverage, duplicates, lag stats, ratio stats,
    temporal violations."""
    ensure_runtime_conf(spark)
    # r13 (guide §2.4, replacing the r10 pins): t1 feeds the merge, the
    # mapping join AND the QA totals (three consumers), t2 the merge and
    # the mapping join. The reuse point is one hash exchange on the
    # entity key instead of a scoped_pin: a cold pin was materialized
    # concurrently by every consumer (duplicate lineitem scans profiled
    # in this leg), while the exchange computes each aggregation subtree
    # exactly once and its partitioning feeds the downstream per-entity
    # windows/joins. Interleaved A/B at sf0.1
    # (artifacts/r13_shape_ab_results.json,
    # rows identical): pin 4.29 s median -> entity-key gate 3.11 s.
    t1 = monthly_spend(spark, sf_dir).repartition(F.col("cus_code"))
    t2 = monthly_revenue(spark, sf_dir).repartition(F.col("cus_code"))
    corr = best_lag_correlation(merge_series(t1, t2), MAX_LAG)
    mapped = build_correlation_mappings(t1, t2, corr, MIN_CORRELATION)
    qa = qa_invariants(mapped, t1)
    return qa.select(
        F.col("total_entities").cast("bigint").alias("total_entities"),
        F.col("mapped_entities").cast("bigint").alias("mapped_entities"),
        F.col("total_mappings").cast("bigint").alias("total_mappings"),
        F.col("duplicates").cast("bigint").alias("duplicates"),
        "min_lag",
        "max_lag",
        F.round("avg_lag", 6).alias("avg_lag"),
        F.round("min_ratio", 6).alias("min_ratio"),
        F.round("max_ratio", 6).alias("max_ratio"),
        F.round("avg_ratio", 6).alias("avg_ratio"),
        F.round("std_ratio", 6).alias("std_ratio"),
        F.col("temporal_violations").cast("bigint").alias("temporal_violations"),
    )


def q_monitoring_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring dashboard view (05_prod_dev.py:1252-1266) over the
    flagship mapping, registered with CREATE-OR-REPLACE semantics and read
    back through the catalog (S8).

    ``processed_at`` is pinned to a constant so the view output is
    deterministic/hash-gatable; the value means use the lattice-integer
    form (correlation._lattice_mean) so a global avg over ~45k money
    values is engine-portable — plain double avg diverges in final ulps
    between engines, which round(.,6) cannot always absorb.
    """
    ensure_runtime_conf(spark)
    mappings = map_tables(
        monthly_spend(spark, sf_dir),
        monthly_revenue(spark, sf_dir),
        "cus_code",
        "month",
        "txn_amount",
        "revenue",
        MappingConfig(method="correlation", max_lag=MAX_LAG,
                      min_correlation=MIN_CORRELATION),
        stamp_processed_at=False,
    ).withColumn(
        "processed_at", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    )
    view = create_monitoring_view(
        mappings, "mapping_monitoring_q",
        value_lattice_scale=10000, value_round_dp=6,
    )
    v = spark.table(view)
    # avg_* come pre-rounded from the lattice half-up form — re-rounding
    # with F.round would reintroduce the midpoint divergence it avoids
    return v.select(
        F.date_format("process_date", "yyyy-MM-dd").alias("process_date"),
        "method",
        F.col("total_mappings").cast("bigint").alias("total_mappings"),
        F.col("unique_customers").cast("bigint").alias("unique_customers"),
        F.col("avg_revenue"),
        F.col("avg_transaction"),
        F.col("avg_conversion_rate"),
        F.date_format("first_processed", "yyyy-MM-dd HH:mm:ss").alias(
            "first_processed"
        ),
        F.date_format("last_processed", "yyyy-MM-dd HH:mm:ss").alias(
            "last_processed"
        ),
    )


def q_alignment_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 full-outer alignment diagnosis between the two series tables."""
    ensure_runtime_conf(spark)
    cov = alignment_coverage(monthly_spend(spark, sf_dir), monthly_revenue(spark, sf_dir))
    return cov.select(
        F.col("total_cells").cast("bigint").alias("total_cells"),
        F.col("matched").cast("bigint").alias("matched"),
        F.col("table1_only").cast("bigint").alias("table1_only"),
        F.col("table2_only").cast("bigint").alias("table2_only"),
    )


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 one-pass null/negative/min/max profile over lineitem measures."""
    ensure_runtime_conf(spark)
    li = read_table(spark, sf_dir, "lineitem")
    prof = profile_columns(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    return prof.select(
        "column",
        F.col("total_rows").cast("bigint").alias("total_rows"),
        F.col("null_count").cast("bigint").alias("null_count"),
        F.col("negative_count").cast("bigint").alias("negative_count"),
        "min_value",
        "max_value",
    )


def q_duplicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 duplicate detection on the (entity, month) key of t1."""
    ensure_runtime_conf(spark)
    stats = duplicate_stats(monthly_spend(spark, sf_dir), ["cus_code", "month"])
    return stats.select(
        F.col("total_rows").cast("bigint").alias("total_rows"),
        F.col("distinct_rows").cast("bigint").alias("distinct_rows"),
        F.col("duplicates").cast("bigint").alias("duplicates"),
    )


def q_recommendation_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing model (04_comparision.py:243-287).

    Hash-gated: the corr side is SQL-expressible and the DTW side comes
    from the numpy expected table, so the DuckDB twin reproduces the full
    CASE model. Lattice-snapped input on both sides.
    """
    ensure_runtime_conf(spark)
    # r13 (guide §2.4, replacing the r10 pin): merged feeds both the corr
    # grid and the DTW summary — one entity-key exchange is the shared
    # reuse point (merge subtree computes once, both consumers are
    # entity-keyed), no cache race, no pinned memory
    merged = _merged_lattice(spark, sf_dir).repartition(F.col("cus_code"))
    corr = best_lag_correlation(merged, MAX_LAG)
    dtw = dtw_summary(merged)
    rec = recommendation_table(compare_methods(corr, dtw))
    return rec.select(
        "cus_code",
        F.round("correlation", 6).alias("correlation"),
        F.col("optimal_lag").cast("int").alias("optimal_lag"),
        F.round("total_cost", 6).alias("total_cost"),
        "recommended_method",
        "confidence",
        "reason",
    )


def q_auto_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto mode: correlation >= 0.7 entities via lag join, rest via DTW,
    unioned by name.

    Hash-gated: the routing split and corr partition are SQL CTEs; the DTW
    partition comes from the numpy expected mapping table restricted to the
    routed-to-DTW entities (DTW is per-entity independent, so filtering the
    all-entity expected table IS the routed output). Inputs lattice-snapped
    on both sides so the corr grid and DTW vectors are bit-identical.
    """
    ensure_runtime_conf(spark)
    t1 = monthly_spend(spark, sf_dir)
    t2 = monthly_revenue(spark, sf_dir)
    out = map_tables(
        t1.withColumn("txn_amount", lattice_snap("txn_amount")),
        t2.withColumn("revenue", lattice_snap("revenue")),
        "cus_code",
        "month",
        "txn_amount",
        "revenue",
        MappingConfig(method="auto"),
        stamp_processed_at=False,
    )
    return out.select(
        "cus_code",
        "time1",
        F.round("value1", 6).alias("value1"),
        "time2",
        F.round("value2", 6).alias("value2"),
        "lag_offset",
        "method",
        F.round("correlation", 6).alias("correlation"),
        F.round("dtw_cost", 6).alias("dtw_cost"),
    )


def q_production_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full production routing path (05_prod_dev.py:358-451): train the
    recommendation model, route every table1 entity — model route, with
    the lag-1 'correlation_default' fallback for entities the model has
    never seen, manual-review entities excluded — and build the routed
    mapping table.

    Hash-gated: model + routing + corr/default parts are SQL CTEs over
    the lattice-snapped series; the DTW-routed part comes from the numpy
    expected mapping table (per-entity independent => filtering IS the
    routed output).

    The returned plan is one lazy action: model training, routing and
    the routed build run together. ``plans.pipeline.run_pipeline`` runs
    the same routed build but cuts the routing table with an eager
    ``localCheckpoint`` first; this twin stays uncut so that building
    it runs no Spark job and a timer sees the whole query in the action.
    """
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.plans.pipeline import _mappings_for_route
    from mapping_timeseries_spark.operators.recommend import route_entities

    t1 = monthly_spend(spark, sf_dir).withColumn(
        "txn_amount", lattice_snap("txn_amount")
    )
    t2 = monthly_revenue(spark, sf_dir).withColumn(
        "revenue", lattice_snap("revenue")
    )
    # Shared-intermediate reuse (r10 lesson, r13 mechanism): merged feeds
    # the corr grid, the DTW summary AND the routed mapping build; a
    # naked frame re-executes the full spend/revenue merge join per
    # consumer (the measured 57M-row-join overhead that made pre-fix
    # corr_mapping 2.6x slower at 1000x). merged is derived from the
    # SAME t1/t2 the routing build consumes (snap on the inputs == snap
    # on the merge output: per-value, join keys untouched), so orders
    # aggregates once and lineitem joins once for the whole query.
    # r13 (guide §2.4): the reuse point is one entity-key exchange per
    # frame (subtree computes once, consumers read its shuffle files, no
    # cold-pin materialization race, no pinned executor memory —
    # measured on the qa/corr/auto twins,
    # artifacts/r13_shape_ab_results.json).
    t1 = t1.repartition(F.col("cus_code"))
    t2 = t2.repartition(F.col("cus_code"))
    merged = merge_series(t1, t2).repartition(F.col("cus_code"))
    corr = best_lag_correlation(merged, MAX_LAG)
    dtw = dtw_summary(merged)
    recs = recommendation_table(compare_methods(corr, dtw))
    routed = route_entities(t1.select("cus_code").distinct(), recs)
    mapped = _mappings_for_route(
        t1, t2, merged, routed, MappingConfig(max_lag=MAX_LAG)
    )
    return mapped.select(
        "cus_code",
        "time1",
        F.round("value1", 6).alias("value1"),
        "time2",
        F.round("value2", 6).alias("value2"),
        F.col("lag_offset").cast("int").alias("lag_offset"),
        "method",
    )


def q_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method agreement statistics (04_comparision.py:61-88): one row
    of Pearson + Spearman agreement between the correlation and DTW
    summaries, as native aggregates (no toPandas/scipy).

    Hash-gated: corr side is SQL-expressible, DTW side comes from the numpy
    expected table. Inputs to the ranks/means are pre-rounded to 6 dp on
    BOTH engines so tie groups (avg-rank Spearman) are identical; output
    stats rounded to 6 dp as usual.
    """
    ensure_runtime_conf(spark)
    # r13 (guide §2.4, replacing the r10 pin): same entity-key exchange
    # reuse point as q_recommendation_table — see that query's comment
    merged = _merged_lattice(spark, sf_dir).repartition(F.col("cus_code"))
    corr = best_lag_correlation(merged, MAX_LAG)
    dtw = dtw_summary(merged)
    comp = compare_methods(corr, dtw).select(
        "cus_code",
        F.round("correlation", 6).alias("correlation"),
        "optimal_lag",
        F.round("total_cost", 6).alias("total_cost"),
        "num_mappings",
    )
    agree = method_agreement(comp, lattice_dp=6)
    # the four avg_* are bit-exact pre-rounded lattice means; only the
    # stddev/corr floats still need the final round
    return agree.select(
        F.col("total_customers").cast("bigint").alias("total_customers"),
        F.col("avg_correlation"),
        F.round("std_correlation", 6).alias("std_correlation"),
        F.col("avg_dtw_cost"),
        F.round("std_dtw_cost", 6).alias("std_dtw_cost"),
        F.col("avg_lag"),
        F.col("avg_dtw_mappings"),
        F.round("pearson_corr_cost", 6).alias("pearson_corr_cost"),
        F.round("spearman_corr_cost", 6).alias("spearman_corr_cost"),
    )


def q_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 CASE segmentation + A2 grouped aggregation over customers."""
    ensure_runtime_conf(spark)
    seg = segment_case(read_table(spark, sf_dir, "customer"))
    return seg.select(
        "tier",
        "c_mktsegment",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.round("avg_acctbal", 6).alias("avg_acctbal"),
    )


def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 top-k: 20 most active customers by order count (deterministic
    tie-break on key; TakeOrderedAndProject, no global sort), annotated
    with the mergeable Misra-Gries heavy-hitter summary (r6 fold): each
    top-20 row carries its MG counter (NULL when the all-ties prune
    dropped it) and the summary's accumulated decrement ``mg_err`` — the
    100 TB skew diagnostic (counter <= true <= counter + err) hash-gated
    against an exact SQL replay of the same deterministic reduction."""
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.operators.sketches import topk_sketch

    orders = read_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("total_spend"),
    )
    top = top_k(
        per_cust, [F.col("n_orders").desc(), F.col("o_custkey").asc()], 20
    )
    sk = topk_sketch(orders, [], "o_custkey", 20)
    counters = sk.select(F.explode("counters").alias("o_custkey", "mg_counter"))
    err = sk.select(F.col("err").cast("bigint").alias("mg_err"))
    return (
        top.join(F.broadcast(counters), "o_custkey", "left")
        .crossJoin(F.broadcast(err))
        .select(
            "o_custkey",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round("total_spend", 6).alias("total_spend"),
            F.col("mg_counter").cast("bigint").alias("mg_counter"),
            "mg_err",
        )
    )


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 conditional aggregation buckets per order priority, joined with
    the histogram-based exact median (the skew-robust form of the
    partial-agg-resistant aggregate — see relational.exact_median_grouped;
    folded here per the 50-entry registry cap, oracle = DuckDB median)."""
    ensure_runtime_conf(spark)
    orders = read_table(spark, sf_dir, "orders")
    agg = conditional_agg(orders)
    med = exact_median_grouped(
        orders, ["o_orderpriority"], "o_totalprice", out_col="median_price"
    )
    return agg.join(med, "o_orderpriority").select(
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("n_finished").cast("bigint").alias("n_finished"),
        F.col("n_open").cast("bigint").alias("n_open"),
        F.col("n_large").cast("bigint").alias("n_large"),
        F.round("median_price", 6).alias("median_price"),
    )


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 exact distinct counts per order month."""
    ensure_runtime_conf(spark)
    dc = distinct_counts(read_table(spark, sf_dir, "orders"))
    return dc.select(
        "order_month",
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
    )


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 exact percentiles (linear interpolation) per return flag,
    beside the deterministic log-decade histogram sketch's estimates
    (r6 fold): hp25/hp50/hp75 are the bucket lower bounds at the same
    ranks — pure integer arithmetic (floor to 3 leading digits, <1%
    relative undershoot), so the mergeable-sketch path is hash-gated
    against an exact SQL replay rather than a tolerance check."""
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.operators.sketches import (
        histogram_quantiles,
        value_histogram,
    )

    li = read_table(spark, sf_dir, "lineitem")
    qs = group_quantiles(li)
    hist = value_histogram(li, ["l_returnflag"], "l_extendedprice")
    hq = histogram_quantiles(hist, ["l_returnflag"], [0.25, 0.5, 0.75])
    return qs.join(hq, "l_returnflag").select(
        "l_returnflag",
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
        F.col("n").cast("bigint").alias("n"),
        F.col("hp25").cast("bigint").alias("hp25"),
        F.col("hp50").cast("bigint").alias("hp50"),
        F.col("hp75").cast("bigint").alias("hp75"),
    )


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 union-by-name of differently-shaped aggregates (missing cols null)."""
    ensure_runtime_conf(spark)
    u = union_by_name(
        read_table(spark, sf_dir, "orders"), read_table(spark, sf_dir, "lineitem")
    )
    return u.select(
        "group_key",
        F.col("n").cast("bigint").alias("n"),
        F.round("avg_total", 6).alias("avg_total"),
        F.round("avg_price", 6).alias("avg_price"),
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders."""
    ensure_runtime_conf(spark)
    a = anti_join(
        read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "orders")
    )
    return a.select("c_custkey", "c_mktsegment", F.round("c_acctbal", 6).alias("c_acctbal"))


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 lag/lead/row_number windows over the entity series, joined with
    the as-of join (operators.asof — latest t2 revenue at-or-before each
    t1 month; DuckDB native ASOF LEFT JOIN is the oracle). Same
    (cus_code, month) grain, one frame verifies both operators."""
    ensure_runtime_conf(spark)
    t1 = monthly_spend(spark, sf_dir)
    t2 = monthly_revenue(spark, sf_dir)
    feats = series_window_features(t1)
    asof = asof_join(t1, t2, "cus_code", "month", ["revenue"]).select(
        "cus_code",
        "month",
        F.col("month_asof").alias("month_asof"),
        F.round("revenue_asof", 6).alias("revenue_asof"),
    )
    return feats.join(asof, ["cus_code", "month"]).select(
        "cus_code",
        "month",
        F.round("txn_amount", 6).alias("txn_amount"),
        F.round("prev_amount", 6).alias("prev_amount"),
        F.round("next_amount", 6).alias("next_amount"),
        F.col("month_pos").cast("int").alias("month_pos"),
        F.col("amount_rank").cast("int").alias("amount_rank"),
        F.round("trailing3_avg", 6).alias("trailing3_avg"),
        F.round("cum_amount", 6).alias("cum_amount"),
        "month_asof",
        "revenue_asof",
    )


def q_month_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 to_date/add_months/date_format round trip on distinct months."""
    ensure_runtime_conf(spark)
    return month_arithmetic(read_table(spark, sf_dir, "orders"))


SQL_SURFACE_QUERY = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       ROUND(AVG(l_extendedprice / NULLIF(l_quantity, 0)), 6) AS avg_unit_price
FROM lineitem
GROUP BY l_returnflag
"""


def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/S8: the SQL surface — temp view + spark.sql aggregate with
    NULLIF, COUNT DISTINCT (05_prod_dev.py:1034-1045 pattern)."""
    ensure_runtime_conf(spark)
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_SURFACE_QUERY)


def q_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 date-range incremental scan (predicate pushed to parquet) + the
    incremental-pipeline MERGE composition (relational.merge_upsert): the
    reference re-runs a date window and overwrites the whole table
    (05_prod_dev.py:1054-1101); the engine merges the refreshed window
    into the standing monthly table — source months win (update/insert),
    out-of-window target months survive (keep). Two operators, one
    month-grain frame; `action` carries the merge provenance."""
    ensure_runtime_conf(spark)
    import os as _os

    def monthly(start: str, end: str) -> DataFrame:
        inc = read_incremental(
            spark,
            _os.path.join(sf_dir, "lineitem.parquet"),
            "l_shipdate",
            start,
            end,
        )
        return inc.groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        ).agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
        )

    target = monthly("1995-07-01", "1996-06-30")  # standing table
    source = monthly("1996-01-01", "1996-12-31")  # refreshed window
    return merge_upsert(target, source, ["ship_month"], tag_col="action")


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window agg per event type."""
    ensure_runtime_conf(spark)
    t = tumbling_agg(read_table(spark, sf_dir, "events"))
    return t.select(
        "window_start",
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("sum_value", 6).alias("sum_value"),
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/30-minute window aggregation."""
    ensure_runtime_conf(spark)
    s = sliding_agg(read_table(spark, sf_dir, "events"))
    return s.select(
        "window_start",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("sum_value", 6).alias("sum_value"),
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization (lag + cumulative sum) inner-joined
    with the native ``session_window`` aggregation on
    (user_id, session_start): one frame verifies both operators, and any
    boundary disagreement between the two formulations drops rows and
    reds the gate."""
    ensure_runtime_conf(spark)
    ev = read_table(spark, sf_dir, "events")
    batch = sessionize_batch(ev).select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("sum_value", 6).alias("sum_value"),
    )
    native = session_agg_native(ev).select(
        "user_id",
        "session_start",
        F.col("n_events").cast("bigint").alias("n_events_native"),
        F.round("sum_value", 6).alias("sum_value_native"),
    )
    return batch.join(native, ["user_id", "session_start"]).select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        "n_events",
        "sum_value",
        "n_events_native",
        "sum_value_native",
    )


def q_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic first-event dedup per (user, event_type)."""
    ensure_runtime_conf(spark)
    d = dedup_events(read_table(spark, sf_dir, "events"))
    return d.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.round("value", 6).alias("value"),
    )


def q_parse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (get_json_object) from the props column,
    joined with per-event session attribution via the granule-bucketed
    interval join (operators.asof.interval_join — each event matched to
    the gap-session interval containing its timestamp; sessions don't
    overlap, so exactly one match per event)."""
    ensure_runtime_conf(spark)
    ev = read_table(spark, sf_dir, "events")
    parsed = parse_props(ev)
    sessions = sessionize_batch(ev, formatted=False).select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        "session_start",
        "session_end",
    )
    attributed = interval_join(
        ev.select("event_id", "user_id", "ts"),
        sessions,
        "user_id",
        "ts",
        "session_start",
        "session_end",
        granule_seconds=3600,
    ).select("event_id", "session_id")
    return parsed.join(attributed, "event_id").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("prop_k").cast("int").alias("prop_k"),
        "session_id",
    )


def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 summary()/describe equivalent as one native aggregation."""
    ensure_runtime_conf(spark)
    s = summary_stats(read_table(spark, sf_dir, "lineitem"), ["l_quantity", "l_extendedprice"])
    return s.select(
        "column",
        "count",
        F.round("mean", 6).alias("mean"),
        F.round("stddev", 6).alias("stddev"),
        "min",
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
        "max",
    )


def q_join_distinct_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 join through a deduplicated dimension projection."""
    ensure_runtime_conf(spark)
    j = join_distinct_dim(read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "orders"))
    return j.select(
        "o_orderpriority",
        F.col("n_items").cast("bigint").alias("n_items"),
        F.round("sum_qty", 6).alias("sum_qty"),
    )


def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 seeded Bernoulli sample (engine-specific sequence, so no oracle
    is possible; pytest-pinned via test_entry_contract. Not in queries() —
    the driver's correctness window caps at 50 entries and the hash-gated
    sample_portable/sample_stratified twins cover P11 there)."""
    ensure_runtime_conf(spark)
    s = sample_fraction(read_table(spark, sf_dir, "orders"), 0.1, seed=42)
    return s.select("o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("o_totalprice"))


def q_sample_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 hash-gated sampling twin: 1-in-10 systematic sample by portable
    md5 key hash (see operators.relational.sample_portable); q_sample keeps
    the engine-RNG ``sample()`` API surface."""
    ensure_runtime_conf(spark)
    s = sample_portable(read_table(spark, sf_dir, "orders"), "o_orderkey", 10)
    return s.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 6).alias("o_totalprice"),
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over lineitem keyed by l_returnflag —
    a deliberately low-cardinality (hot-key) grouping where a direct
    groupBy funnels each key through one reduce task. The salt is
    result-invariant, so the oracle is the plain GROUP BY."""
    ensure_runtime_conf(spark)
    out = salted_agg(
        read_table(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        {"l_quantity": "sum", "l_orderkey": "count"},
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 6).alias("sum_l_quantity"),
        F.col("count_l_orderkey").cast("bigint").alias("count_l_orderkey"),
    )


def q_skew_agg_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only twin of q_salted_agg: the same hot-keyed aggregation
    (lineitem by 3-value l_returnflag) as a direct groupBy, so the salting
    pattern has a measured plain-vs-salted number at sf0.1 (BENCH_EXTRA in
    bench.py). Not in queries() — the registry is capped at the driver's
    50-entry correctness window and salted_agg already hash-gates the
    salted path against this exact GROUP BY."""
    ensure_runtime_conf(spark)
    out = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("sum_l_quantity"),
            F.count("l_orderkey").alias("count_l_orderkey"),
        )
    )
    return out.select(
        "l_returnflag",
        F.round("sum_l_quantity", 6).alias("sum_l_quantity"),
        F.col("count_l_orderkey").cast("bigint").alias("count_l_orderkey"),
    )


def q_skew_median_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: exact median via Spark's ``percentile`` aggregate —
    the partial-agg-RESISTANT formulation that buffers every row of a key
    inside one reduce task (the hot-key OOM hazard at scale). Paired with
    q_skew_median_hist in bench.py to measure the histogram rewrite."""
    ensure_runtime_conf(spark)
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(
                F.expr("percentile(l_extendedprice, 0.5)"), 6
            ).alias("median_price")
        )
    )


def q_skew_median_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only twin: the same exact median via the histogram
    formulation (relational.exact_median_grouped) — per-key state is the
    distinct-value histogram, not the row buffer. Correctness of the
    operator is hash-gated through conditional_agg's median_price."""
    ensure_runtime_conf(spark)
    out = exact_median_grouped(
        read_table(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_extendedprice",
        out_col="median_price",
    )
    return out.select("l_returnflag", F.round("median_price", 6).alias("median_price"))


def q_pack_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: the concat-and-chunk sequence-packing export path over
    documents — token counts -> distributed global offsets -> pack spans
    -> (pack, doc-slice) manifest at a 2048-token budget. The span
    arithmetic is hash-gated through token_counts
    (tok_start/pack_first/pack_last); this measures the full path
    including the manifest explode."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    t = token_counts(docs).select("doc_id", "ws_tokens")
    spans = concat_pack_spans(t, "doc_id", "ws_tokens", 2048)
    return pack_manifest(spans, "doc_id", 2048)


def q_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only: first-fit-decreasing bin packing of documents into
    2048-token sequences across 32 hash shards (applyInPandas per
    shard), reduced to the one-row waste report. Invariants are
    pytest-pinned in tests/test_packing.py."""
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.operators.packing import (
        pack_greedy_ffd,
        packing_stats,
    )

    docs = read_table(spark, sf_dir, "documents")
    t = token_counts(docs).select("doc_id", "ws_tokens")
    packed = pack_greedy_ffd(t, "doc_id", "ws_tokens", 2048, n_shards=32)
    return packing_stats(packed, 2048)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r7, VERDICT r6 #4): BPE tokenizer training at a fixed
    200-merge budget (min_pair_count=2, histogram mode — one corpus
    pass into the Heaps-bounded driver histogram, then driver-side
    merges). Training is an ITERATIVE DRIVER LOOP, so its Spark work
    happens at construction: bench.py times this leg with the build
    inside the timed region (build_timed)."""
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.operators.tokenizer import train_bpe

    docs = read_table(spark, sf_dir, "documents")
    return train_bpe(docs, num_merges=200, mode="histogram")


def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only (r7): unigram-LM (SentencePiece-style) training at a
    fixed 512-piece budget (seed 2000, max piece len 6, histogram
    mode). Same build_timed timing note as q_bpe_train — EM iterations
    run Spark jobs at construction."""
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.operators.unigram import train_unigram

    docs = read_table(spark, sf_dir, "documents")
    return train_unigram(
        docs, vocab_size=512, seed_size=2000, max_piece_len=6,
        mode="histogram",
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing draws on the documents corpus, two disciplines in one
    frame (registry capped at 50): kind='quota' — 20 smallest-hash docs
    per lang (balanced subset); kind='mix' — weighted epoch mixture
    (relational.sample_weighted_mix: de×2.3, fr×0.4, zh×0, default 1.0 —
    integer copies + an exact-expectation fractional draw by portable
    hash, copy_idx realized)."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    quota = sample_stratified(docs, "lang", "doc_id", 20).select(
        F.lit("quota").alias("kind"),
        "doc_id",
        "lang",
        F.lit(1).alias("copy_idx"),
    )
    mix = sample_weighted_mix(
        docs,
        "lang",
        "doc_id",
        {"de": 2.3, "fr": 0.4, "zh": 0.0},
        default_weight=1.0,
    ).select(F.lit("mix").alias("kind"), "doc_id", "lang", "copy_idx")
    return quota.unionByName(mix)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting per document, joined with
    the rolling-hash content fingerprint, the per-doc chunking summary
    (textstats.chunk_documents aggregated back to doc grain: chunk count
    + total chunk tokens vs the DuckDB stride-arithmetic twin; chunk
    CONTENT is pytest-pinned) AND the concat-and-chunk sequence-packing
    span (packing.concat_pack_spans over ws_tokens, budget 256: the
    distributed two-phase cumsum vs the twin's single ORDER BY window —
    same md5 order key, same integer arithmetic) AND the duplicate-
    passage spans (dedup.dup_span_stats, folded r5 — word 5-grams shared
    by >= 2 distinct docs, hashed to 60-bit ints pre-shuffle, merged to
    maximal per-doc intervals in one doc-partitioned window pass; the
    Lee-et-al-2022 substring-dedup proxy) — five operators in one frame
    (registry capped at 50)."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    t = token_counts(docs)
    fp = doc_fingerprints(docs).select(
        "doc_id",
        F.col("fingerprint").cast("bigint").alias("fingerprint"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    ch = (
        chunk_documents(docs, chunk_tokens=128, overlap_tokens=16)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks"),
            F.sum("chunk_n_tokens").cast("bigint").alias("sum_chunk_tokens"),
        )
    )
    pk = concat_pack_spans(
        t.select("doc_id", "ws_tokens"), "doc_id", "ws_tokens", 256
    ).select("doc_id", "tok_start", "pack_first", "pack_last")
    ds = dup_span_stats(docs, k=5, min_docs=2).select(
        "doc_id", "n_dup_spans", "dup_tokens", "dup_frac"
    )
    return (
        t.join(fp, "doc_id")
        .join(ch, "doc_id")
        .join(pk, "doc_id")
        .join(ds, "doc_id")
        .select(
            "doc_id",
            F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
            F.col("bpe_ish_tokens").cast("bigint").alias("bpe_ish_tokens"),
            F.round("chars_per_token", 6).alias("chars_per_token"),
            "fingerprint",
            "n_chars",
            "n_chunks",
            "sum_chunk_tokens",
            "tok_start",
            "pack_first",
            "pack_last",
            "n_dup_spans",
            "dup_tokens",
            "dup_frac",
        )
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup joined with its content-hash twin: deterministic
    keeper + copy count per distinct text, plus the sha2 digest path
    (shuffles 32-byte digests, not documents). One frame verifies both
    operators — the digest dedup must agree with the plain-text dedup
    keeper for keeper (inner join drops divergent rows -> red gate)."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    e = exact_dedup(docs).select(
        "keeper_doc_id", F.col("n_copies").cast("bigint").alias("n_copies")
    )
    h = content_hash_dedup(docs).select(
        "keeper_doc_id",
        "content_sha",
        F.col("n_copies").cast("bigint").alias("n_copies_sha"),
    )
    return e.join(h, "keeper_doc_id").select(
        "keeper_doc_id", "n_copies", "content_sha", "n_copies_sha"
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram pair analyses, two operators in one frame (same
    doc-pair grain): exact Jaccard near-dup pairs (J >= 0.5, PPJoin
    prefix-filtered self-join) tagged 'neardup', and benchmark
    decontamination (src0 as the holdout suite, containment >= 0.2 via a
    broadcast inverted-index join) tagged 'contam'. doc_a is the
    training-side/corpus doc, doc_b the matched doc; score is Jaccard or
    holdout-containment respectively."""
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.operators.dedup import (
        _ngram_hsets,
        scoped_pin as _scope_pin,
    )

    docs = read_table(spark, sf_dir, "documents")
    # r13 (guide §1.2): ONE shared tokenize+shingle+hash pass for both
    # halves. The PPJoin near-dup half and the decontamination half both
    # start from per-doc shingle-hash sets over the same corpus; before,
    # each built its own (the contam side re-tokenized 98% of the corpus
    # — its stage alone was ~10 s of executor time at sf0.1). `source`
    # rides the hsets so the train/holdout split is a filter on the
    # pinned frame, not a corpus join. Results are identical: shingles
    # are distinct per doc, so exploding the sorted-hash array is the
    # same multiset the string path hashes row by row (hash-gate
    # re-verified vs the unchanged DuckDB oracle).
    # r14 (VERDICT r13 #3): a COLD pin is materialized concurrently by
    # every consumer's first stage — profiled at sf0.1, one cold action
    # ran the tokenize+shingle+sort pass up to SIX times in parallel
    # (~28 s duplicated executor time; locally idle cores absorb it, at
    # 100 TB it is 6x a full corpus tokenize). The shuffle-gate fix the
    # mapping legs use was measured and REJECTED here in r13 (fat
    # shingle-hash arrays: the gate exchange serialized ~1 GB and the
    # leg regressed 6.3 -> 16.7 s). The candidate replacement is an
    # eager localCheckpoint of hsets (one pass, then every consumer
    # reads its blocks); it has to win a paired A/B with its build
    # inside the timed region before it replaces this pin.
    hsets = _scope_pin(_ngram_hsets(docs, "text", 2, keep_cols=("source",)))
    near = ngram_jaccard_pairs(
        docs, threshold=0.5, hsets=hsets
    ).select(
        F.lit("neardup").alias("kind"),
        "doc_a",
        "doc_b",
        F.round("jaccard", 6).alias("score"),
    )
    contam = ngram_decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        min_overlap=0.2,
        train_hsets=hsets.where(F.col("source") != "src0"),
        holdout_hsets=hsets.where(F.col("source") == "src0"),
    ).select(
        F.lit("contam").alias("kind"),
        F.col("train_doc").alias("doc_a"),
        F.col("holdout_doc").alias("doc_b"),
        F.round("overlap", 6).alias("score"),
    )
    return near.unionByName(contam)


def _minhash_sel(p: DataFrame, tag: str) -> DataFrame:
    return p.select(
        "doc_a",
        "doc_b",
        F.round("jaccard", 6).alias("jaccard"),
        F.lit(tag).alias("src"),
    )


def q_minhash_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch MinHash-LSH leg — benched standalone under the
    historical 'minhash_dedup' bench key so round-over-round numbers
    compare the same work (r5 verdict item #8: the r5 fold made the
    benched query additionally run the incremental leg, which read as a
    2x 'regression')."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    return _minhash_sel(
        minhash_lsh_pairs(docs, threshold=0.5, portable=True), "full"
    )


def q_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash leg — index the 80% "already ingested" slice
    (doc_id % 5 != 0), dedup the 20% "new batch" against it. Benched as
    its own metric from r6 on."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    bands_df, sh_df = minhash_index_frames(old, portable=True)
    return _minhash_sel(
        minhash_dedup_incremental(
            new, bands_df, sh_df, threshold=0.5, portable=True
        ),
        "incr",
    )


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates, Jaccard-verified. Runs the engine-portable
    hash variant (md5-derived universal hashing) so the ENTIRE
    signature->band->bucket-join->verify pipeline hash-compares against a
    DuckDB twin generated from the same coefficients. The xxhash64 scale
    variant (portable=False) shares every other code path and is pinned by
    pytest recall tests.

    Folded r5: the incremental leg beside the full batch. Exactness
    contract: incremental == full pairs with >= 1 new side, which is
    exactly what the oracle's filtered arm selects — so the hash gate
    proves the new-vs-index bucket join + stored-shingle verification
    end-to-end, not just the pytest equality."""
    return q_minhash_full(spark, sf_dir).unionByName(
        q_minhash_incr(spark, sf_dir)
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs -> per-doc
    cluster id + canonical keeper (the final step of a corpus dedup
    pipeline), hash-gated against a DuckDB recursive-CTE twin over the
    same portable-hash pair set.

    Folded r5 (registry at the 50-entry driver cap): the SemDeDup
    semantic verdict (similarity.semantic_dedup — IVF coarse clusters,
    in-cluster cosine edges at 0.4, CC groups, farthest-from-centroid
    keeper) rides the same frame via a left join on doc_id = vec_id —
    lexical and semantic dedup are the two halves of a real corpus
    pipeline, and this frame exposes their (dis)agreement per document.
    The sem_* columns are hash-gated against an independent recursive-CTE
    + list_dot_product DuckDB twin.

    Folded r10 (VERDICT r9 #8): the STAR-mode cluster twin. The corpus
    pipeline's default clustering consumer runs star candidates
    (mode="star" — linear on hot cliques where all-pairs dies, see
    artifacts/hot_clique_gate.json), but until now star clusters were
    only pytest-pinned in pairs-equivalent fixtures. star_cluster_id
    re-runs CC over the verified star edge set and star_eq flags
    per-document agreement with the all-pairs clusters; the DuckDB twin
    recomputes both through its own recursive CTEs, so the star path is
    cross-engine hash-gated end-to-end (candidates, verify, components)."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5, portable=True)
    cl = dedup_clusters(docs, pairs)
    star_pairs = minhash_lsh_pairs(docs, threshold=0.5, portable=True, mode="star")
    cl_star = dedup_clusters(docs, star_pairs).select(
        "doc_id",
        F.col("cluster_id").cast("bigint").alias("star_cluster_id"),
    )
    sem = semantic_dedup(
        read_table(spark, sf_dir, "embeddings"), nlist=16, threshold=0.4
    )
    return cl.select(
        "doc_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("is_keeper").cast("int").alias("is_keeper"),
    ).join(cl_star, "doc_id").withColumn(
        "star_eq",
        (F.col("star_cluster_id") == F.col("cluster_id")).cast("int"),
    ).join(
        sem.select(
            F.col("vec_id").alias("doc_id"),
            F.col("centroid_id").cast("bigint").alias("sem_centroid"),
            F.col("centroid_sim").alias("sem_sim"),
            F.col("group_id").cast("bigint").alias("sem_group"),
            F.col("group_size").cast("int").alias("sem_group_size"),
            F.col("is_keeper").cast("int").alias("sem_keeper"),
        ),
        "doc_id",
        "left",
    )


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. Runs the engine-portable 60-bit variant
    (md5-derived token hashes), so fingerprint -> prefix-block ->
    Hamming-join hash-compares against the DuckDB twin bit for bit. The
    64-bit xxhash64 variant shares every other code path and is pinned by
    pytest (planted-twin recall)."""
    ensure_runtime_conf(spark)
    p = simhash_near_dups(read_table(spark, sf_dir, "documents"), portable=True)
    return p.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


def q_text_stats_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics, joined with the corpus language
    distribution (broadcast of the tiny per-lang dim), the repetition
    signals (textstats.repetition_stats — C4/Gopher-family boilerplate
    rules) and the PII pattern audit (textstats.pii_counts) — four
    operators verified in one per-doc frame. Pure leg — benched
    standalone (like-for-like); the registry entry is the fold below."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    s = text_stats(docs)
    d = lang_distribution(docs).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("lang_n_docs"),
        F.round("share", 6).alias("lang_share"),
    )
    rep = repetition_stats(docs).select(
        "doc_id",
        F.round("top_bigram_share", 6).alias("top_bigram_share"),
        F.round("dup_bigram_fraction", 6).alias("dup_bigram_fraction"),
    )
    pii = pii_counts(docs)
    return (
        s.join(F.broadcast(d), "lang")
        .join(rep, "doc_id")
        .join(pii, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_unique_tokens").cast("bigint").alias("n_unique_tokens"),
            F.round("avg_token_len", 6).alias("avg_token_len"),
            F.round("stopword_ratio", 6).alias("stopword_ratio"),
            F.round("punct_ratio", 6).alias("punct_ratio"),
            "lang_n_docs",
            "lang_share",
            "top_bigram_share",
            "dup_bigram_fraction",
            F.col("n_emails").cast("bigint").alias("n_emails"),
            F.col("n_ipv4s").cast("bigint").alias("n_ipv4s"),
            F.col("n_phoneish").cast("bigint").alias("n_phoneish"),
        )
    )


def q_normalize_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization leg: NFC-normalize (Arrow mapInPandas —
    Spark has no built-in Unicode normalizer) + ASCII-whitespace
    collapse, then fingerprint the canonical text. The fingerprint is
    what the dedup stages key on, so hash-gating it on the sf corpus
    (DuckDB nfc_normalize twin) proves the pre-dedup stage end-to-end
    (r5 verdict item #6)."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    norm = normalize_text(docs.select("doc_id", "text"), form="NFC")
    return norm.select(
        "doc_id",
        F.substring(F.md5(F.col("text")), 1, 16).alias("norm_fingerprint"),
        F.length("text").cast("bigint").alias("n_norm_chars"),
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-filter leg (Rae et al. 2021 §A1.1 n-gram
    family): top-2/3/4-gram character coverage, duplicated-5..10-gram
    character coverage, and the published-threshold pass flag. Pure leg
    — benched standalone; hash-gated through the text_stats fold."""
    ensure_runtime_conf(spark)
    return gopher_repetition(read_table(spark, sf_dir, "documents"))


def q_line_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line/paragraph leg (r7 — VERDICT r6 #2): the sf corpus is
    single-line, so the line-family operators previously hash-gated
    VACUOUSLY. Derive a deterministic multi-line corpus inside the
    query (textstats.wrap_tokens: 13-token lines, 5-line blank-
    separated paragraphs over the same tokens() stream both engines
    agree on), then gate corpus-wide ``dedup.line_dedup`` (duplicate
    documents wrap into identical lines that dedup must actually
    catch; the fingerprint pins the surviving text byte-for-byte,
    order included) and ``textstats.line_repetition_stats`` (within-
    doc duplicate lines/paragraphs) against full DuckDB recomputations
    on the line STRINGS."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    # 13-token lines / 5-line paragraphs: realistic line shape for the
    # corpus-wide dedup gate (duplicate docs collide on whole lines:
    # measured 36-38 docs lose lines at sf0.01/0.001)
    wrapped = wrap_tokens(docs.select("doc_id", "text"))
    ld = line_dedup(wrapped).select(
        "doc_id",
        F.col("n_lines").cast("bigint").alias("n_wrapped_lines"),
        F.col("n_removed").cast("bigint").alias("n_dup_lines_removed"),
        F.substring(F.md5(F.col("text")), 1, 16).alias("line_dedup_fp"),
    )
    # 2-token lines / 2-line paragraphs for the WITHIN-doc repetition
    # gate: at 13 tokens no sf doc repeats a line internally (measured
    # all-zero = still vacuous), while aligned repeated bigrams hit 181
    # of 500 docs. Paragraph fractions are structurally zero on this
    # corpus at every width — the twin computes the same zeros (drift
    # to nonzero would fail the hash); the positive paragraph case is
    # carried by the planted pytest.
    wrapped2 = wrap_tokens(
        docs.select("doc_id", "text"), tokens_per_line=2, lines_per_para=2
    )
    lrs = line_repetition_stats(wrapped2).select(
        "doc_id",
        F.col("dup_line_frac").alias("wrap2_dup_line_frac"),
        F.col("dup_line_char_frac").alias("wrap2_dup_line_char_frac"),
        F.col("dup_paragraph_frac").alias("wrap2_dup_para_frac"),
        F.col("dup_paragraph_char_frac").alias("wrap2_dup_para_char_frac"),
    )
    return ld.join(lrs, "doc_id")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry fold (r6): the heuristic per-doc stats frame widened
    with the canonicalization fingerprint columns — one row per doc,
    stats + the canonical-text identity the dedup stages consume — and
    the Gopher repetition-filter signals (top/dup n-gram character
    coverage + threshold pass flag); (r7) plus the line-family leg
    over the token-wrapped multi-line derivation (corpus-wide line
    dedup + line/paragraph repetition), making those gates
    non-vacuous."""
    return (
        q_text_stats_core(spark, sf_dir)
        .join(q_normalize_fingerprint(spark, sf_dir), "doc_id")
        .join(q_gopher_repetition(spark, sf_dir), "doc_id")
        .join(q_line_family(spark, sf_dir), "doc_id")
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document, joined with BOTH language-ID
    heuristics (marker-word and char-trigram-profile — same per-doc
    grain), the deterministic training-shard assignment
    (relational.shard_assign — portable md5 % 16, the per-row half of the
    write_training_shards export), and the corpus-frequency boilerplate
    signal (textstats.boilerplate_signals: share of a doc's distinct
    3-grams occurring in >= 4 docs, hashed before the shuffle) — five
    operators verified in one frame (registry capped at 50), PLUS (r5)
    the two model-based quality signals from operators/textmodels.py:
    bigram-LM perplexity (trained on the non-src0 corpus, add-0.5
    smoothing, scored over everything — the CCNet-style signal) and the
    multinomial Naive-Bayes classifier (label = source=='src0',
    integer micro-nat log-odds so the per-doc sums are order-independent
    and the predicted class comes from an integer comparison) — PLUS
    (r6) DSIR importance resampling (Xie et al. 2023: hashed-n-gram
    log-ratio weights toward the src0 target domain, integer-nat sums,
    seeded Gumbel-top-k selection) — eight operators, one frame."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    s = shard_assign(quality_score(docs), "doc_id", 16)
    bp = boilerplate_signals(docs).select(
        "doc_id", "n_grams", "n_boiler_grams", "boilerplate_frac"
    )
    lid = lang_marker_scores(docs).select(
        "doc_id",
        "actual_lang",
        F.col("score_en").cast("bigint").alias("score_en"),
        F.col("score_de").cast("bigint").alias("score_de"),
        F.col("score_fr").cast("bigint").alias("score_fr"),
        F.col("score_es").cast("bigint").alias("score_es"),
        "predicted_lang",
    )
    tri = lang_trigram_scores(docs).select("doc_id", "trigram_lang")
    lm_model = bigram_lm_counts(docs.where(F.col("source") != "src0"))
    # r7 fold: the CCNet head/middle/tail split (Wenzek et al. 2020)
    # over the same reference-LM scores — exact-rank mode, PLUS (r8,
    # VERDICT r7 #4) the sketch-mode scale path as its own gated column:
    # ppl_bucket_sketch cuts at the log-decade-histogram quantile
    # thresholds (pure bigint bucketing + one IEEE double rank product,
    # so the DuckDB twin recomputes identical thresholds)
    # r13 (guide §2.4, replacing the r8 pin): the rank+sketch bucket
    # join reads lm_scored twice. One doc-key exchange is the reuse
    # point — the expensive subtree (corpus tokenization + LM scoring)
    # computes exactly once while the exchange moves only the narrow
    # per-doc score row (6 numeric cols), and nothing is pinned in
    # executor memory (the old scoped_pin raced its cold
    # materialization across both consumers). Same cost model as the
    # mapping-family gate swap (artifacts/r13_shape_ab_results.json); the ngram
    # hsets pin stays a pin because its payload (shingle-hash arrays)
    # is the OPPOSITE profile — fat rows, cheap subtree.
    lm_scored = lm_perplexity(docs, lm_model, k=0.5).repartition(
        F.col("doc_id")
    )
    lm = (
        ppl_buckets(lm_scored, mode="rank")
        .join(
            ppl_buckets(lm_scored, mode="sketch").select(
                "doc_id", F.col("ppl_bucket").alias("ppl_bucket_sketch")
            ),
            "doc_id",
        )
        .select(
            "doc_id", "n_trans", "oov_trans", "avg_nll", "ppl",
            "ppl_bucket", "ppl_bucket_sketch",
        )
    )
    nb_model = nb_train(
        docs.withColumn("__y", (F.col("source") == "src0").cast("int")),
        "__y",
    )
    nb = nb_score(docs, nb_model).select(
        "doc_id",
        F.col("log_odds").alias("nb_log_odds"),
        F.col("predicted").alias("nb_predicted"),
    )
    # r6 fold: DSIR importance resampling (operators/dsir.py) — hashed
    # unigram+bigram features, target = src0, integer-nat log-ratio
    # weights, seeded Gumbel-top-100 selection
    dsir_model = dsir_logratio(
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") != "src0"),
        n_buckets=2048,
    )
    ds = dsir_gumbel_topk(
        # full_rank=True is the oracle-audit shape (every row ranked);
        # the library DEFAULT is the TakeOrderedAndProject scale path
        dsir_weights(docs, dsir_model, n_buckets=2048), k=100, full_rank=True
    ).select(
        "doc_id",
        "dsir_logw_nats",
        "dsir_score",
        F.col("dsir_rank").cast("int").alias("dsir_rank"),
        "dsir_selected",
    )
    return (
        s.join(lid, "doc_id")
        .join(tri, "doc_id")
        .join(bp, "doc_id")
        .join(lm, "doc_id")
        .join(nb, "doc_id")
        .join(ds, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_unique_tokens").cast("bigint").alias("n_unique_tokens"),
            F.round("quality_score", 6).alias("quality_score"),
            "actual_lang",
            "score_en",
            "score_de",
            "score_fr",
            "score_es",
            "predicted_lang",
            "trigram_lang",
            "shard",
            "n_grams",
            "n_boiler_grams",
            "boilerplate_frac",
            "n_trans",
            "oov_trans",
            "avg_nll",
            "ppl",
            "ppl_bucket",
            "ppl_bucket_sketch",
            "nb_log_odds",
            "nb_predicted",
            "dsir_logw_nats",
            "dsir_score",
            "dsir_rank",
            "dsir_selected",
        )
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR pure leg for the bench: hashed-feature importance weights
    toward the src0 target and the TakeOrderedAndProject Gumbel-top-100
    (the corpus-scale selection path, no global sort). Hash-gated
    through the quality_score fold; this leg carries the wall-clock."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    model = dsir_logratio(
        docs.where(F.col("source") == "src0"),
        docs.where(F.col("source") != "src0"),
        n_buckets=2048,
    )
    return dsir_gumbel_topk(
        dsir_weights(docs, model, n_buckets=2048), k=100, full_rank=False
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the first 20 vectors as queries."""
    ensure_runtime_conf(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20)
    t = cosine_topk(emb, queries_df, k=5)
    return t.select(
        "query_id",
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "similarity",
        F.col("rank").cast("int").alias("rank"),
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-5 (same queries as cosine_topk),
    multi-probe (nprobe=2: own bucket + smallest-margin one-bit flip).
    Pure leg — benched standalone so the ann_topk bench number stays
    like-for-like across rounds; the registry entry is the fold below."""
    ensure_runtime_conf(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20)
    t = ann_bucketed_topk(emb, queries_df, k=5, bits=6, nprobe=2)
    return t.select(
        "query_id",
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "similarity",
        F.col("rank").cast("int").alias("rank"),
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry fold (r6): approximate retrieval, both modalities in one
    method-tagged frame — the sign-LSH embedding leg beside the BM25
    lexical leg on the SAME output grain (query, hit, rank), which is
    how a retrieval stack actually serves them. The fold gives BM25 its
    sf-corpus hash gate (r5 verdict item #1): the DuckDB twin recomputes
    postings/df/dl, the non-negative idf, tf saturation and the integer
    micro-score accumulation from scratch.

    Leg mapping for the shared grain: BM25's doc_id -> vec_id (the hit
    id), n_hit_terms -> label (the leg's integer diagnostic), score ->
    similarity (both are "bigger is better" floats, 6dp)."""
    ann = q_ann_lsh(spark, sf_dir).select(
        F.lit("ann").alias("method"),
        "query_id",
        "vec_id",
        "label",
        "similarity",
        "rank",
    )
    bm = q_bm25_topk(spark, sf_dir).select(
        F.lit("bm25").alias("method"),
        "query_id",
        F.col("doc_id").alias("vec_id"),
        F.col("n_hit_terms").cast("int").alias("label"),
        F.col("score").alias("similarity"),
        F.col("rank").cast("int").alias("rank"),
    )
    return ann.unionByName(bm)


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (nlist=16 deterministic seed centroids,
    nprobe=3), same query set as cosine_topk. Pure leg — benched
    standalone (like-for-like); the registry entry is the fold below."""
    ensure_runtime_conf(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20)
    t = ivf_topk(emb, queries_df, k=5, nlist=16, nprobe=3)
    return t.select(
        "query_id",
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "similarity",
        F.col("rank").cast("int").alias("rank"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry fold (r6): BOTH IVF serving paths, path-tagged — the
    full-corpus assignment pass ('assign') and the pre-built
    partitionBy(centroid_id) index with static partition pruning
    ('indexed'). Same seed centroids/k/nprobe, so the two legs must
    produce identical rows; the oracle emits the one IVF result under
    both tags, which hash-proves the DPP/static-prune index path
    end-to-end on the sf corpus (r5 verdict item #3) instead of only
    the inputFiles() plan assertion in pytest."""
    assign = q_ivf_assign(spark, sf_dir)
    indexed = q_ivf_topk_indexed(spark, sf_dir)
    return (
        assign.select(F.lit("assign").alias("path"), *assign.columns)
        .unionByName(
            indexed.select(F.lit("indexed").alias("path"), *indexed.columns)
        )
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed 5-query set over the documents corpus
    (operators/search.py) — the lexical-retrieval counterpart of the
    cosine/ANN/IVF family. The index frames are built lazily inside the
    plan (bm25_index triggers NO job — the corpus totals are a 1-row
    frame cross-joined at scoring time), and the bench clears the cache
    between reps, so the timed number is the TRUE cold cost: corpus
    scan + tokenize + hash + postings/df/dl + probe. Amortized-index
    serving reuses the pinned frames and is correspondingly cheaper.
    Since r6 this leg is hash-gated on the sf corpus through the
    ann_topk registry fold (plus the bitwise DuckDB twin in
    tests/test_search.py)."""
    ensure_runtime_conf(spark)
    from mapping_timeseries_spark.operators.search import bm25_index, bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    queries_df = spark.createDataFrame(
        [
            (1, "table scan filter pushdown"),
            (2, "spark shuffle join strategy"),
            (3, "value row group statistics"),
            (4, "window aggregate partition"),
            (5, "hash merge broadcast small"),
        ],
        ["query_id", "query_text"],
    )
    return bm25_topk(bm25_index(docs), queries_df, k=10)


def q_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed twin of the IVF assign leg over the pre-built
    partitionBy(centroid_id) index (ivf_build_index): same seed
    centroids/k/nprobe, so results are identical — what the bench pair
    measures is the partition-PRUNED scan (static isin pushdown;
    inputFiles() plan proof in test_llm_ops.py) against ivf_topk's
    full-corpus assignment pass. The index build is a one-time indexing
    job, not query work: cached per sf_dir under /tmp across reps (the
    seed quantizer is deterministic, so reuse is sound)."""
    ensure_runtime_conf(spark)
    import hashlib as _hashlib
    import tempfile as _tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    cents = ivf_seed_centroids(emb, 16)
    # the cache tag covers the source file's identity (mtime+size), not
    # just its path — a regenerated testdata dir must not silently
    # serve a stale index built from the old vectors
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    idx_path = os.path.join(
        _tempfile.gettempdir(), f"spark_graft_ivf_idx_{tag}"
    )
    if not os.path.isdir(idx_path):
        ivf_build_index(emb, cents, idx_path)
    queries_df = emb.where(F.col("vec_id") < 20)
    t = ivf_topk_indexed(
        spark, idx_path, queries_df, cents, k=5, nprobe=3, static_prune=True
    )
    return t.select(
        "query_id",
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "similarity",
        F.col("rank").cast("int").alias("rank"),
    )


def q_emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sign-LSH bucketed. Pure
    leg — benched standalone (like-for-like); registry entry is the
    fold below."""
    ensure_runtime_conf(spark)
    # synthetic vectors peak near cosine 0.5; 0.4 exercises the operator
    nd = embedding_near_dups(read_table(spark, sf_dir, "embeddings"), 0.4, bits=4)
    return nd.select("vec_a", "vec_b", "similarity")


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination leg: vec_id % 40 == 0 plays
    the held-out benchmark suite (the broadcast side), the rest is the
    corpus; every corpus vector whose cosine to ANY holdout vector
    reaches 0.35 is flagged with its best-matching holdout item."""
    ensure_runtime_conf(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    holdout = emb.where(F.col("vec_id") % 40 == 0)
    corpus = emb.where(F.col("vec_id") % 40 != 0)
    return embedding_decontaminate(corpus, holdout, threshold=0.35).select(
        "vec_id", "best_holdout_id", "best_sim"
    )


def q_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity audit leg: broadcast-quantizer assignment to the
    16 deterministic seed centroids, per-cluster size and integer
    micro-sim cohesion (label columns exercised in pytest)."""
    ensure_runtime_conf(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return diversity_profile(emb, nlist=16, label_col=None).select(
        "centroid_id", "n_vecs", "mean_centroid_sim"
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry fold (r6): the embedding-hygiene family in one
    kind-tagged frame on the (id_a, id_b, similarity) grain —
    near-duplicate pairs, semantic benchmark decontamination (r5
    verdict item #7: previously pytest-only) and the cluster diversity
    audit. Leg mapping: decontam is (corpus vec, best holdout item,
    best sim); diversity is (centroid_id, n_vecs, mean 6dp cosine
    cohesion) — n_vecs rides the integer id_b slot, NULL cohesion for
    emptied lists survives the union."""
    nd = q_emb_neardup_pairs(spark, sf_dir).select(
        F.lit("near_dup").alias("kind"), "vec_a", "vec_b", "similarity"
    )
    dc = q_semantic_decontam(spark, sf_dir).select(
        F.lit("decontam").alias("kind"),
        F.col("vec_id").alias("vec_a"),
        F.col("best_holdout_id").alias("vec_b"),
        F.col("best_sim").alias("similarity"),
    )
    dv = q_diversity_profile(spark, sf_dir).select(
        F.lit("diversity").alias("kind"),
        F.col("centroid_id").alias("vec_a"),
        F.col("n_vecs").alias("vec_b"),
        F.col("mean_centroid_sim").alias("similarity"),
    )
    return nd.unionByName(dc).unionByName(dv)


def q_multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal decode, three modalities in one mixed-mime frame:
    synthesize RIFF/WAV, BMP, and uncompressed-AVI payloads from the
    corpus (binary column + typed metadata struct), union them, then
    parse back with the pure-stdlib chunk-walking WAV parser /
    padded-row BMP parser / RIFF-tree AVI parser —
    dispatched per row on meta.mime inside ONE Arrow-batched mapInPandas
    (the mixed-modality table contract). Metadata rides through the map
    (the former multimodal_meta query is this frame's mime/lang/n_bytes
    columns). Hash-gated: the oracle computes the expected decoded PCM
    statistics AND pixel-channel sums directly from the synthesis
    formulas — integer-exact, so any header/stride/padding bug reds the
    gate."""
    ensure_runtime_conf(spark)
    docs = read_table(spark, sf_dir, "documents")
    m = (
        attach_binary_payload(docs)
        .unionByName(attach_image_payload(docs))
        .unionByName(attach_video_payload(docs))
    )
    feats = extract_features(m)
    return feats.select(
        "doc_id",
        "mime",
        "lang",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("n_samples").cast("int").alias("n_samples"),
        F.col("sample_rate").cast("int").alias("sample_rate"),
        "pcm_sum",
        "pcm_sumsq",
        "pcm_min",
        "pcm_max",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_px").cast("int").alias("n_px"),
        "sum_r",
        "sum_g",
        "sum_b",
        F.col("n_frames").cast("int").alias("n_frames"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------


def _sql_lag_branches(max_lag: int) -> str:
    branches = ["SELECT cus_code, 0 AS lag, txn_amount, revenue AS rev FROM merged"]
    branches += [
        f"SELECT cus_code, {lag} AS lag, txn_amount, "
        f"lead(revenue, {lag}) OVER (PARTITION BY cus_code ORDER BY month) AS rev "
        "FROM merged"
        for lag in range(1, max_lag + 1)
    ]
    return "\nUNION ALL\n".join(branches)


def _sql_grid(max_lag: int) -> str:
    return f"""
grid AS (
  -- n_pairs counts BOTH-non-null pairs (the ones corr() aggregates),
  -- mirroring lag_correlation_grid
  SELECT cus_code, lag, corr(txn_amount, rev) AS corr,
         count(CASE WHEN txn_amount IS NOT NULL AND rev IS NOT NULL
                    THEN 1 END) AS n_pairs
  FROM ({_sql_lag_branches(max_lag)}) pairs
  GROUP BY cus_code, lag
)"""


def _sql_best(max_lag: int) -> str:
    return f"""
{_sql_grid(max_lag)},
stats AS (
  -- lattice-exact means rounded to 6 dp with pure-integer half-up
  -- arithmetic (portable: integer sum is order-independent; round(dbl,6)
  -- is NOT portable on exact 5e-7 midpoints) — mirrors
  -- correlation._lattice_mean_rounded(scale=10000, dp=6):
  --   S = sum(round(x*10000)::bigint), N = count,
  --   mean6 = sign(S) * floor((200*|S| + N) / (2*N)) / 1e6
  -- (sign-decomposed: a - a % b floors only for a >= 0; truncated %
  --  would be one lattice unit off on negative sums)
  SELECT cus_code, count(*) AS num_months,
         (CASE WHEN SUM(CAST(ROUND(txn_amount * 10000) AS BIGINT)) < 0 THEN -1.0 ELSE 1.0 END) * CAST(((200*ABS(SUM(CAST(ROUND(txn_amount * 10000) AS BIGINT))) + COUNT(txn_amount)) - (200*ABS(SUM(CAST(ROUND(txn_amount * 10000) AS BIGINT))) + COUNT(txn_amount)) % (2*COUNT(txn_amount))) AS DOUBLE)
           / CAST(2*COUNT(txn_amount) AS DOUBLE) / 1000000.0 AS txn_mean,
         (CASE WHEN SUM(CAST(ROUND(revenue * 10000) AS BIGINT)) < 0 THEN -1.0 ELSE 1.0 END) * CAST(((200*ABS(SUM(CAST(ROUND(revenue * 10000) AS BIGINT))) + COUNT(revenue)) - (200*ABS(SUM(CAST(ROUND(revenue * 10000) AS BIGINT))) + COUNT(revenue)) % (2*COUNT(revenue))) AS DOUBLE)
           / CAST(2*COUNT(revenue) AS DOUBLE) / 1000000.0 AS rev_mean
  FROM merged GROUP BY cus_code
),
ranked AS (
  SELECT cus_code, lag, corr,
         row_number() OVER (PARTITION BY cus_code
                            ORDER BY corr DESC, lag ASC) AS rn
  FROM grid
  WHERE n_pairs >= 2 AND corr IS NOT NULL AND NOT isnan(corr)
),
best AS (
  SELECT s.cus_code,
         CAST(COALESCE(r.lag, 0) AS INT) AS optimal_lag,
         COALESCE(r.corr,
                  CASE WHEN s.num_months >= 2 THEN -1.0 ELSE 0.0 END)
           AS correlation,
         s.num_months, s.txn_mean, s.rev_mean
  FROM stats s LEFT JOIN ranked r ON s.cus_code = r.cus_code AND r.rn = 1
)"""


SQL_MERGED_CTE = f"WITH merged AS ({SQL_MERGED})"

#: 1e-4-lattice snap (DuckDB side of operators.canonicalize.lattice_snap).
_SQL_SNAP = "CAST(ROUND({c}*10000) AS BIGINT)/10000.0"


def _sql_lattice_mean6(expr: str, scale: int) -> str:
    """DuckDB twin of correlation._lattice_mean_rounded(scale, dp=6):
    half-up 6-dp mean of 1/scale-lattice values in pure-integer arithmetic
    (identical IEEE ops to the Spark expression; NULLIF guards the
    empty-group case the way avg() would return NULL). Sign-decomposed
    exactly like the Spark side: `a - a % b` floors only for a >= 0
    (DuckDB's % is truncated remainder too), so work on |S| and restore
    the sign — half-up away from zero on negative sums."""
    m = 10**6 // scale
    s = f"SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT))"
    n = f"COUNT({expr})"
    sign = f"(CASE WHEN {s} < 0 THEN -1.0 ELSE 1.0 END)"
    num = f"(2*{m}*ABS({s}) + {n})"
    den = f"NULLIF(2*{n}, 0)"
    return (
        f"{sign} * CAST(({num} - {num} % {den}) AS DOUBLE) "
        f"/ CAST({den} AS DOUBLE) / 1000000.0"
    )


def _sql_int_std(kexpr: str, scale: int) -> str:
    """DuckDB twin of correlation._int_moments_std: exact integer moments
    (SUM in int64/HUGEINT), ONE cast to double each, then the identical
    scalar IEEE sequence."""
    n = f"CAST(COUNT({kexpr}) AS DOUBLE)"
    s1 = f"CAST(SUM({kexpr}) AS DOUBLE)"
    s2 = (
        f"CAST(SUM(CAST({kexpr} AS HUGEINT) * CAST({kexpr} AS HUGEINT)) "
        "AS DOUBLE)"
    )
    return f"sqrt(({s2} - {s1} * {s1} / {n}) / ({n} - 1.0)) / {float(scale)}"


def _sql_int_pearson(kx: str, ky: str) -> str:
    """DuckDB twin of correlation._int_pearson."""
    n = f"CAST(COUNT({kx}) AS DOUBLE)"
    xd = f"CAST(SUM({kx}) AS DOUBLE)"
    yd = f"CAST(SUM({ky}) AS DOUBLE)"
    xx = f"CAST(SUM(CAST({kx} AS HUGEINT) * CAST({kx} AS HUGEINT)) AS DOUBLE)"
    yy = f"CAST(SUM(CAST({ky} AS HUGEINT) * CAST({ky} AS HUGEINT)) AS DOUBLE)"
    xy = f"CAST(SUM(CAST({kx} AS HUGEINT) * CAST({ky} AS HUGEINT)) AS DOUBLE)"
    return (
        f"(({n} * {xy} - {xd} * {yd}) "
        f"/ sqrt(({n} * {xx} - {xd} * {xd}) * ({n} * {yy} - {yd} * {yd})))"
    )


#: Recommendation-model routing CASE (04_comparision.py:243-287) over
#: aliases ``b`` (best) and ``d`` (dtw) — ONE text shared by every oracle
#: that embeds the model, so a threshold tweak cannot desynchronize them.
_SQL_RECOMMEND_CASE = """CASE WHEN b.correlation >= 0.7 AND b.optimal_lag <= 2 THEN 'Correlation'
            WHEN b.correlation >= 0.5 AND d.total_cost <= 10
              THEN 'Either (prefer Correlation for simplicity)'
            WHEN d.total_cost <= 15 THEN 'DTW'
            ELSE 'Complex - Manual Review' END"""

#: Lattice-snapped merged CTE — twin of ``_merged_lattice``; every oracle
#: that joins against the numpy DTW expected tables starts here so the
#: corr grid and DTW vectors are bit-identical doubles on both engines.
SQL_MERGED_LATTICE_CTE = f"""WITH merged AS (
  SELECT cus_code, month,
         {_SQL_SNAP.format(c='txn_amount')} AS txn_amount,
         {_SQL_SNAP.format(c='revenue')} AS revenue
  FROM ({SQL_MERGED}) raw
)"""

#: DTW expected tables (tools/gen_dtw_expected.py): the numpy-DP oracle
#: for the non-SQL-expressible per-entity dynamic program, selected per
#: scale factor via the orders row count stamped at generation time.
_SQL_DTW_SUMMARY_EXPECTED = f"""
  SELECT cus_code, total_cost, num_mappings
  FROM read_parquet('{ARTIFACTS}/dtw_expected_summary.parquet')
  WHERE sf_tag = (SELECT count(*) FROM orders)
"""

ORACLE_DTW_SUMMARY = f"""
SELECT cus_code, round(total_cost, 6) AS total_cost,
       CAST(num_mappings AS INT) AS num_mappings
FROM ({_SQL_DTW_SUMMARY_EXPECTED}) e
"""

ORACLE_DTW_MAPPING = f"""
SELECT cus_code, txn_month AS time1, round(txn_amount, 6) AS value1,
       rev_month AS time2, round(revenue, 6) AS value2,
       CAST(NULL AS INT) AS lag_offset, 'dtw' AS method,
       round(total_cost, 6) AS dtw_cost
FROM read_parquet('{ARTIFACTS}/dtw_expected_mapping.parquet')
WHERE sf_tag = (SELECT count(*) FROM orders)
"""

# p-value twin: grid CTEs (already hash-proven) + quadrature expected
# table for the one non-SQL column (see tools/gen_pvalue_expected.py).
ORACLE_PVALUES = f"""
{SQL_MERGED_LATTICE_CTE},
{_sql_grid(MAX_LAG)[1:]},
pv AS (
  SELECT cus_code, lag, pvalue
  FROM read_parquet('{ARTIFACTS}/pvalue_expected.parquet')
  WHERE sf_tag = (SELECT count(*) FROM orders)
)
SELECT g.cus_code, CAST(g.lag AS INT) AS lag, round(g.corr, 6) AS corr,
       CAST(g.n_pairs AS BIGINT) AS n_pairs, round(pv.pvalue, 6) AS pvalue
FROM grid g LEFT JOIN pv ON g.cus_code = pv.cus_code AND g.lag = pv.lag
"""

# Routing-model thresholds/strings are the reference's verbatim
# (04_comparision.py:243-287) — mirrors operators.recommend.recommendation_table.
ORACLE_RECOMMEND = f"""
{SQL_MERGED_LATTICE_CTE},
{_sql_best(MAX_LAG)[1:]},
dtw AS ({_SQL_DTW_SUMMARY_EXPECTED})
SELECT b.cus_code,
       round(b.correlation, 6) AS correlation,
       CAST(b.optimal_lag AS INT) AS optimal_lag,
       round(d.total_cost, 6) AS total_cost,
       {_SQL_RECOMMEND_CASE} AS recommended_method,
       CASE WHEN b.correlation >= 0.8 OR d.total_cost <= 5 THEN 'High'
            WHEN b.correlation >= 0.5 OR d.total_cost <= 15 THEN 'Medium'
            ELSE 'Low' END AS confidence,
       CASE WHEN b.correlation >= 0.7 THEN 'High correlation with simple lag pattern'
            WHEN d.total_cost <= 10 THEN 'Low DTW cost indicates good alignment'
            WHEN b.correlation < 0.3 AND d.total_cost > 20
              THEN 'Both methods show poor fit - investigate data quality'
            ELSE 'Moderate fit - consider business context' END AS reason
FROM best b JOIN dtw d ON b.cus_code = d.cus_code
"""

# Production routing twin (05_prod_dev.py:358-451): model -> route (with
# lag-1 default fallback and manual-review exclusion) -> routed mapping.
# Mirrors plans.pipeline._mappings_for_route / recommend.route_entities.
ORACLE_PRODUCTION = f"""
{SQL_MERGED_LATTICE_CTE},
{_sql_best(MAX_LAG)[1:]},
dtw AS ({_SQL_DTW_SUMMARY_EXPECTED}),
recs AS (
  SELECT b.cus_code, b.optimal_lag, b.correlation, d.total_cost,
         {_SQL_RECOMMEND_CASE} AS recommended_method
  FROM best b JOIN dtw d ON b.cus_code = d.cus_code
),
t1 AS (SELECT cus_code, month, {_SQL_SNAP.format(c='txn_amount')} AS txn_amount
       FROM ({{sql_t1}}) raw1),
t2 AS (SELECT cus_code, month, {_SQL_SNAP.format(c='revenue')} AS revenue
       FROM ({{sql_t2}}) raw2),
routed AS (
  SELECT e.cus_code,
         CASE WHEN r.recommended_method IN
                   ('Correlation', 'Either (prefer Correlation for simplicity)')
                THEN 'correlation'
              WHEN r.recommended_method = 'DTW' THEN 'dtw'
              WHEN r.recommended_method IS NULL THEN 'default'
              ELSE 'manual_review' END AS route,
         CAST(CASE WHEN r.recommended_method IS NULL THEN 1
                   ELSE r.optimal_lag END AS INT) AS optimal_lag
  FROM (SELECT DISTINCT cus_code FROM t1) e
  LEFT JOIN recs r ON e.cus_code = r.cus_code
),
shifted AS (
  SELECT t1.cus_code, t1.month, t1.txn_amount, c.optimal_lag, c.route,
         strftime(strptime(t1.month || '-01', '%Y-%m-%d')
                  + to_months(c.optimal_lag), '%Y-%m') AS month2
  FROM t1 JOIN routed c
    ON t1.cus_code = c.cus_code AND c.route IN ('correlation', 'default')
),
corr_part AS (
  SELECT s.cus_code, s.month AS time1, s.txn_amount AS value1,
         s.month2 AS time2, t2.revenue AS value2,
         CAST(s.optimal_lag AS INT) AS lag_offset,
         CASE WHEN s.route = 'default' THEN 'correlation_default'
              ELSE 'correlation' END AS method
  FROM shifted s JOIN t2 ON s.cus_code = t2.cus_code AND s.month2 = t2.month
),
dtw_part AS (
  SELECT e.cus_code, e.txn_month AS time1, e.txn_amount AS value1,
         e.rev_month AS time2, e.revenue AS value2,
         CAST(NULL AS INT) AS lag_offset, 'dtw' AS method
  FROM read_parquet('{ARTIFACTS}/dtw_expected_mapping.parquet') e
  JOIN (SELECT cus_code FROM routed WHERE route = 'dtw') k
    ON e.cus_code = k.cus_code
  WHERE e.sf_tag = (SELECT count(*) FROM orders)
)
SELECT cus_code, time1, round(value1, 6) AS value1,
       time2, round(value2, 6) AS value2, lag_offset, method
FROM (SELECT * FROM corr_part UNION ALL SELECT * FROM dtw_part) unioned
"""

# Avg-tie (fractional) ranks — scipy.spearmanr's convention; ranks are
# taken over 6dp-rounded inputs on BOTH engines so tie groups coincide.
ORACLE_AGREEMENT = f"""
{SQL_MERGED_LATTICE_CTE},
{_sql_best(MAX_LAG)[1:]},
dtw AS ({_SQL_DTW_SUMMARY_EXPECTED}),
comp AS (
  SELECT b.cus_code, round(b.correlation, 6) AS correlation, b.optimal_lag,
         round(d.total_cost, 6) AS total_cost, d.num_mappings
  FROM best b JOIN dtw d ON b.cus_code = d.cus_code
),
comp_ranked AS (
  SELECT *,
         rank() OVER (ORDER BY correlation)
           + (count(*) OVER (PARTITION BY correlation) - 1) / 2.0 AS r_corr,
         rank() OVER (ORDER BY total_cost)
           + (count(*) OVER (PARTITION BY total_cost) - 1) / 2.0 AS r_cost
  FROM comp
)
SELECT count(*) AS total_customers,
       {_sql_lattice_mean6('correlation', 10**6)} AS avg_correlation,
       round({_sql_int_std('CAST(ROUND(correlation * 1000000) AS BIGINT)', 10**6)}, 6)
         AS std_correlation,
       {_sql_lattice_mean6('total_cost', 10**6)} AS avg_dtw_cost,
       round({_sql_int_std('CAST(ROUND(total_cost * 1000000) AS BIGINT)', 10**6)}, 6)
         AS std_dtw_cost,
       {_sql_lattice_mean6('optimal_lag', 1)} AS avg_lag,
       {_sql_lattice_mean6('num_mappings', 1)} AS avg_dtw_mappings,
       round({_sql_int_pearson('CAST(ROUND(correlation * 1000000) AS BIGINT)',
                               'CAST(ROUND(total_cost * 1000000) AS BIGINT)')}, 6)
         AS pearson_corr_cost,
       round({_sql_int_pearson('CAST(r_corr * 2 AS BIGINT)',
                               'CAST(r_cost * 2 AS BIGINT)')}, 6)
         AS spearman_corr_cost
FROM comp_ranked
"""

ORACLE_MERGED = f"""
{SQL_MERGED_CTE}
SELECT cus_code, month,
       round(txn_amount, 6) AS txn_amount,
       round(revenue, 6) AS revenue
FROM merged
"""

ORACLE_GRID = f"""
{SQL_MERGED_CTE},
{_sql_grid(MAX_LAG)[1:]}
SELECT cus_code, CAST(lag AS INT) AS lag, round(corr, 6) AS corr,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       -- the incremental-state twin columns: the oracle computes the
       -- full-history grid ONCE; Spark must reproduce it through the
       -- bootstrap+append moment algebra (state == full recompute)
       round(corr, 6) AS state_corr,
       CAST(n_pairs AS BIGINT) AS state_n_pairs
FROM grid
"""

ORACLE_BEST = f"""
{SQL_MERGED_CTE},
{_sql_best(MAX_LAG)[1:]}
SELECT cus_code, optimal_lag, round(correlation, 6) AS correlation,
       CAST(num_months AS BIGINT) AS num_months,
       txn_mean, rev_mean
FROM best
"""

def _sql_mapping_ctes(lattice: bool = False, min_corr: float = MIN_CORRELATION) -> str:
    """Full WITH chain ending in a ``mapping`` CTE (the flagship output,
    unrounded) — shared by the mapping oracle, the QA oracle, and (with
    ``lattice=True, min_corr=0.7``) the corr partition of the auto-mode
    oracle, whose inputs must be snapped to the 1e-4 lattice to line up
    with the DTW expected tables."""
    from mapping_timeseries_spark.sources.fixtures import SQL_T1, SQL_T2

    merged_cte = SQL_MERGED_LATTICE_CTE if lattice else SQL_MERGED_CTE
    t1_body, t2_body = SQL_T1, SQL_T2
    if lattice:
        t1_body = (
            f"SELECT cus_code, month, {_SQL_SNAP.format(c='txn_amount')} "
            f"AS txn_amount FROM ({SQL_T1}) raw"
        )
        t2_body = (
            f"SELECT cus_code, month, {_SQL_SNAP.format(c='revenue')} "
            f"AS revenue FROM ({SQL_T2}) raw"
        )
    return f"""
{merged_cte},
{_sql_best(MAX_LAG)[1:]},
t1 AS ({t1_body}),
t2 AS ({t2_body}),
valid AS (SELECT * FROM best WHERE correlation >= {min_corr}),
shifted AS (
  SELECT t1.cus_code, t1.month, t1.txn_amount, v.optimal_lag, v.correlation,
         strftime(strptime(t1.month || '-01', '%Y-%m-%d')
                  + to_months(v.optimal_lag), '%Y-%m') AS month2
  FROM t1 JOIN valid v ON t1.cus_code = v.cus_code
),
mapping AS (
  SELECT s.cus_code,
         s.month AS time1,
         s.txn_amount AS value1,
         s.month2 AS time2,
         t2.revenue AS value2,
         CAST(s.optimal_lag AS INT) AS lag_offset,
         'correlation' AS method,
         s.correlation
  FROM shifted s JOIN t2 ON s.cus_code = t2.cus_code AND s.month2 = t2.month
)"""


ORACLE_MAPPING = f"""
{_sql_mapping_ctes()}
SELECT cus_code, time1, round(value1, 6) AS value1,
       time2, round(value2, 6) AS value2,
       lag_offset, method, round(correlation, 6) AS correlation
FROM mapping
"""

# Residual portability note (r4 review): avg_ratio/std_ratio compare
# engine-native float avg()/stddev() over ~45k unrounded quotients,
# guarded only by round(.,6) — the one gate NOT on the lattice-integer
# path (quotients are not lattice values; rounding each ratio before
# averaging would change the metric's meaning). Measured exposure: all
# gated values are BITWISE-identical across engines at every sf (the
# comparator canonicalizes at 17 significant digits), so the 5e-7
# midpoint risk is theoretical for this data shape; if a regenerated
# dataset ever reds this gate in the 6th decimal of avg_ratio, move it
# to the scaled-integer moment pattern (_int_moments_std) like the
# monitoring means.
ORACLE_QA = f"""
{_sql_mapping_ctes()}
SELECT
  (SELECT count(DISTINCT cus_code) FROM t1) AS total_entities,
  count(DISTINCT m.cus_code) AS mapped_entities,
  count(*) AS total_mappings,
  count(*) - count(DISTINCT (m.cus_code, m.time1, m.time2)) AS duplicates,
  min(m.lag_offset) AS min_lag,
  max(m.lag_offset) AS max_lag,
  round(avg(m.lag_offset), 6) AS avg_lag,
  round(min(CASE WHEN m.value1 > 0 THEN m.value2 / m.value1 END), 6) AS min_ratio,
  round(max(CASE WHEN m.value1 > 0 THEN m.value2 / m.value1 END), 6) AS max_ratio,
  round(avg(CASE WHEN m.value1 > 0 THEN m.value2 / m.value1 END), 6) AS avg_ratio,
  round(stddev(CASE WHEN m.value1 > 0 THEN m.value2 / m.value1 END), 6) AS std_ratio,
  CAST(sum(CASE WHEN strptime(m.time2 || '-01', '%Y-%m-%d')
                   < strptime(m.time1 || '-01', '%Y-%m-%d')
           THEN 1 ELSE 0 END) AS BIGINT) AS temporal_violations
FROM mapping m
"""

# Auto-mode twin (engine.map_tables method='auto'): entities with best
# correlation >= 0.7 (config.AUTO_SIMPLE_THRESHOLD) take the lag-join corr
# path; the rest take DTW. DTW is per-entity independent, so the expected
# mapping table restricted to the routed-to-DTW keys IS the routed output.
ORACLE_AUTO = f"""
{_sql_mapping_ctes(lattice=True, min_corr=0.7)},
dtw_keys AS (SELECT cus_code FROM best WHERE correlation < 0.7),
dtw_part AS (
  SELECT e.cus_code, e.txn_month AS time1, e.txn_amount AS value1,
         e.rev_month AS time2, e.revenue AS value2,
         CAST(NULL AS INT) AS lag_offset, 'dtw' AS method,
         CAST(NULL AS DOUBLE) AS correlation, e.total_cost AS dtw_cost
  FROM read_parquet('{ARTIFACTS}/dtw_expected_mapping.parquet') e
  JOIN dtw_keys k ON e.cus_code = k.cus_code
  WHERE e.sf_tag = (SELECT count(*) FROM orders)
)
SELECT cus_code, time1, round(value1, 6) AS value1,
       time2, round(value2, 6) AS value2, lag_offset, method,
       round(correlation, 6) AS correlation, round(dtw_cost, 6) AS dtw_cost
FROM (
  SELECT cus_code, time1, value1, time2, value2, lag_offset, method,
         correlation, CAST(NULL AS DOUBLE) AS dtw_cost
  FROM mapping
  UNION ALL
  SELECT * FROM dtw_part
) unioned
"""

# Monitoring view twin: constant processed_at; all three means in the
# pure-integer lattice-half-up form (_sql_lattice_mean6) — round(avg(),6)
# on a float mean is not engine-portable on exact 5e-7 midpoints, and the
# conversion ratio gets a per-row round(·,6) first (quotients never land
# on exact decimal midpoints, so the per-row round IS portable).
ORACLE_MONITORING = f"""
{_sql_mapping_ctes()}
SELECT '2026-01-01' AS process_date,
       method,
       count(*) AS total_mappings,
       count(DISTINCT cus_code) AS unique_customers,
       {_sql_lattice_mean6('value2', 10000)} AS avg_revenue,
       {_sql_lattice_mean6('value1', 10000)} AS avg_transaction,
       {_sql_lattice_mean6('round(value2 / NULLIF(value1, 0), 6)', 10**6)}
         AS avg_conversion_rate,
       '2026-01-01 00:00:00' AS first_processed,
       '2026-01-01 00:00:00' AS last_processed
FROM mapping
GROUP BY method
"""

ORACLE_SAMPLE_PORTABLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS o_totalprice
FROM orders
WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
"""

ORACLE_SALTED_AGG = """
SELECT l_returnflag, round(SUM(l_quantity), 6) AS sum_l_quantity,
       COUNT(l_orderkey) AS count_l_orderkey
FROM lineitem GROUP BY l_returnflag
"""

ORACLE_SAMPLE_STRATIFIED = """
WITH quota AS (
  SELECT 'quota' AS kind, doc_id, lang, 1 AS copy_idx FROM (
    SELECT doc_id, lang,
           row_number() OVER (
             PARTITION BY lang
             ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT ASC,
                      doc_id ASC) AS rk
    FROM documents
  ) ranked WHERE rk <= 20
),
-- weighted epoch mixture twin: n_copies = floor(w) + (u < frac(w)),
-- u = portable_hash64('mix:' || doc_id) % 1e6 / 1e6
mixw AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'de' THEN 2.3 WHEN 'fr' THEN 0.4 WHEN 'zh' THEN 0.0
                   ELSE 1.0 END AS w,
         (('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000)
           / 1000000.0 AS u
  FROM documents
),
mix AS (
  SELECT 'mix' AS kind, doc_id, lang,
         CAST(unnest(range(1, CAST(floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS BIGINT) + 1)) AS INT)
           AS copy_idx
  FROM mixw
  WHERE floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END > 0
)
SELECT * FROM quota UNION ALL SELECT * FROM mix
"""

ORACLE_ALIGNMENT = f"""
WITH t1 AS ({{sql_t1}}), t2 AS ({{sql_t2}}),
aligned AS (
  SELECT COALESCE(t1.cus_code, t2.cus_code) AS cus_code,
         t1.month AS m1, t2.month AS m2
  FROM t1 FULL OUTER JOIN t2
    ON t1.cus_code = t2.cus_code AND t1.month = t2.month
)
SELECT count(*) AS total_cells,
       CAST(sum(CASE WHEN m1 IS NOT NULL AND m2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched,
       CAST(sum(CASE WHEN m1 IS NOT NULL AND m2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS table1_only,
       CAST(sum(CASE WHEN m1 IS NULL AND m2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS table2_only
FROM aligned
"""

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

ORACLE_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column, count(*) AS total_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
       CAST(sum(CASE WHEN {c} < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_count,
       CAST(min({c}) AS DOUBLE) AS min_value,
       CAST(max({c}) AS DOUBLE) AS max_value
FROM lineitem"""
    for c in _PROFILE_COLS
)

ORACLE_DUPSTATS = f"""
WITH t1 AS ({{sql_t1}})
SELECT count(*) AS total_rows,
       (SELECT count(*) FROM (SELECT DISTINCT cus_code, month FROM t1)) AS distinct_rows,
       count(*) - (SELECT count(*) FROM (SELECT DISTINCT cus_code, month FROM t1)) AS duplicates
FROM t1
"""


ORACLE_SEGMENTATION = """
SELECT CASE WHEN c_acctbal >= 7500 THEN 'platinum'
            WHEN c_acctbal >= 5000 THEN 'gold'
            WHEN c_acctbal >= 0 THEN 'standard'
            ELSE 'delinquent' END AS tier,
       c_mktsegment,
       count(*) AS n_customers,
       round(avg(c_acctbal), 6) AS avg_acctbal
FROM customer
GROUP BY 1, 2
"""

ORACLE_TOPK = """
WITH pc AS (
  SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS ts
  FROM orders GROUP BY o_custkey
), r AS (
  SELECT pc.*,
         row_number() OVER (ORDER BY n_orders DESC, o_custkey ASC) AS rn
  FROM pc
), k1 AS (
  SELECT coalesce(max(CASE WHEN rn = 21 THEN n_orders END), 0) AS sub
  FROM r
)
SELECT o_custkey, n_orders, round(ts, 6) AS total_spend,
       CASE WHEN n_orders - sub > 0
            THEN CAST(n_orders - sub AS BIGINT) END AS mg_counter,
       CAST(sub AS BIGINT) AS mg_err
FROM r, k1
WHERE rn <= 20
"""

ORACLE_CONDITIONAL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
       round(median(o_totalprice), 6) AS median_price
FROM orders
GROUP BY o_orderpriority
"""

ORACLE_DISTINCT = """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderkey) AS n_orders
FROM orders
GROUP BY 1
"""

ORACLE_QUANTILES = """
WITH ex AS (
  SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
         round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
         round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
         count(*) AS n
  FROM lineitem
  GROUP BY l_returnflag
), m AS (
  -- the sketch's bucketing, replayed in exact integer arithmetic:
  -- floor the value, keep 3 leading decimal digits (bigint div/mul)
  SELECT l_returnflag,
         CAST(floor(l_extendedprice) AS BIGINT) AS mm
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), b AS (
  SELECT l_returnflag,
         CASE WHEN length(CAST(mm AS VARCHAR)) <= 3 THEN mm
              ELSE (mm // CAST(power(10, length(CAST(mm AS VARCHAR)) - 3) AS BIGINT))
                   * CAST(power(10, length(CAST(mm AS VARCHAR)) - 3) AS BIGINT)
         END AS bucket
  FROM m
), hist AS (
  SELECT l_returnflag, bucket, count(*) AS c FROM b GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, bucket,
         sum(c) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
         sum(c) OVER (PARTITION BY l_returnflag) AS hn
  FROM hist
), hq AS (
  SELECT l_returnflag,
         CAST(min(CASE WHEN cum >= floor(0.25 * (hn - 1)) + 1 THEN bucket END) AS BIGINT) AS hp25,
         CAST(min(CASE WHEN cum >= floor(0.5 * (hn - 1)) + 1 THEN bucket END) AS BIGINT) AS hp50,
         CAST(min(CASE WHEN cum >= floor(0.75 * (hn - 1)) + 1 THEN bucket END) AS BIGINT) AS hp75
  FROM cum GROUP BY 1
)
SELECT ex.l_returnflag, p25, p50, p75, n, hp25, hp50, hp75
FROM ex JOIN hq ON ex.l_returnflag = hq.l_returnflag
"""

ORACLE_UNION = """
SELECT o_orderpriority AS group_key, count(*) AS n,
       round(avg(o_totalprice), 6) AS avg_total,
       CAST(NULL AS DOUBLE) AS avg_price
FROM orders GROUP BY 1
UNION ALL
SELECT l_returnflag AS group_key, count(*) AS n,
       CAST(NULL AS DOUBLE) AS avg_total,
       round(avg(l_extendedprice), 6) AS avg_price
FROM lineitem GROUP BY 1
"""

ORACLE_ANTI = """
SELECT c_custkey, c_mktsegment, round(c_acctbal, 6) AS c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

ORACLE_WINDOW = """
WITH t1 AS ({sql_t1}), t2 AS ({sql_t2}),
w AS (
  SELECT cus_code, month,
         round(txn_amount, 6) AS txn_amount,
         round(lag(txn_amount, 1) OVER w_time, 6) AS prev_amount,
         round(lead(txn_amount, 1) OVER w_time, 6) AS next_amount,
         CAST(row_number() OVER w_time AS INT) AS month_pos,
         CAST(row_number() OVER (PARTITION BY cus_code
                                 ORDER BY txn_amount DESC, month ASC) AS INT)
           AS amount_rank,
         round(avg(txn_amount) OVER (w_time ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
           AS trailing3_avg,
         round(sum(txn_amount) OVER (w_time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS cum_amount
  FROM t1
  WINDOW w_time AS (PARTITION BY cus_code ORDER BY month)
),
a AS (
  SELECT t1.cus_code, t1.month, t2.month AS month_asof,
         round(t2.revenue, 6) AS revenue_asof
  FROM t1 ASOF LEFT JOIN t2
    ON t1.cus_code = t2.cus_code AND t1.month >= t2.month
)
SELECT w.cus_code, w.month, w.txn_amount, w.prev_amount, w.next_amount,
       w.month_pos, w.amount_rank, w.trailing3_avg, w.cum_amount,
       a.month_asof, a.revenue_asof
FROM w JOIN a ON w.cus_code = a.cus_code AND w.month = a.month
"""

ORACLE_MONTH_ARITH = """
WITH months AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month FROM orders)
SELECT month,
       strftime(strptime(month || '-01', '%Y-%m-%d') + to_months(3), '%Y-%m') AS plus3,
       strftime(strptime(month || '-01', '%Y-%m-%d') - to_months(1), '%Y-%m') AS minus1,
       CAST(year(strptime(month || '-01', '%Y-%m-%d')) AS INT) AS yr,
       CAST(month(strptime(month || '-01', '%Y-%m-%d')) AS INT) AS mo
FROM months
"""

ORACLE_INCREMENTAL = """
WITH tgt AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         count(*) AS n_items,
         round(sum(l_extendedprice), 6) AS sum_price
  FROM lineitem
  WHERE l_shipdate BETWEEN '1995-07-01' AND '1996-06-30'
  GROUP BY 1
),
src AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         count(*) AS n_items,
         round(sum(l_extendedprice), 6) AS sum_price
  FROM lineitem
  WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'
  GROUP BY 1
)
SELECT s.ship_month, s.n_items, s.sum_price,
       CASE WHEN t.ship_month IS NOT NULL THEN 'update' ELSE 'insert' END AS action
FROM src s LEFT JOIN tgt t USING (ship_month)
UNION ALL
SELECT t.ship_month, t.n_items, t.sum_price, 'keep' AS action
FROM tgt t ANTI JOIN src s USING (ship_month)
"""


ORACLE_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""

ORACLE_SLIDING = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
  FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM assigned GROUP BY 1
"""

_SQL_SESSIONS = """
seq AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '10 minutes'
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  -- cumsum ordered by the SAME (ts, event_id) total order as brk and
  -- the Spark side: with duplicate (user, ts) pairs a ts-only frame
  -- could place the brk=0 twin before the break nondeterministically
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM seq
)
"""

ORACLE_SESSIONIZATION = f"""
WITH {_SQL_SESSIONS},
agg AS (
  SELECT user_id, CAST(sid AS BIGINT) AS session_id,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         count(*) AS n_events, round(sum(value), 6) AS sum_value
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_id, session_start, session_end, n_events, sum_value,
       n_events AS n_events_native, sum_value AS sum_value_native
FROM agg
"""

ORACLE_EVENT_DEDUP = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       round(value, 6) AS value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""

ORACLE_PARSE_PROPS = f"""
WITH {_SQL_SESSIONS},
iv AS (
  SELECT user_id, CAST(sid AS BIGINT) AS session_id,
         min(ts) AS s, max(ts) AS e
  FROM sess GROUP BY user_id, sid
),
attributed AS (
  SELECT ev.event_id, iv.session_id
  FROM events ev JOIN iv
    ON ev.user_id = iv.user_id AND ev.ts BETWEEN iv.s AND iv.e
)
SELECT ev.event_id, ev.user_id, ev.event_type,
       CAST(json_extract_string(ev.props, '$.k') AS INT) AS prop_k,
       a.session_id
FROM events ev JOIN attributed a ON ev.event_id = a.event_id
"""


ORACLE_SUMMARY = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column, count({c}) AS count,
       round(avg({c}), 6) AS mean, round(stddev({c}), 6) AS stddev,
       CAST(min({c}) AS DOUBLE) AS min,
       round(quantile_cont({c}, 0.25), 6) AS p25,
       round(quantile_cont({c}, 0.5), 6) AS p50,
       round(quantile_cont({c}, 0.75), 6) AS p75,
       CAST(max({c}) AS DOUBLE) AS max
FROM lineitem"""
    for c in ["l_quantity", "l_extendedprice"]
)

ORACLE_JOIN_DIM = """
SELECT o_orderpriority, count(*) AS n_items, round(sum(l_quantity), 6) AS sum_qty
FROM lineitem l JOIN (SELECT DISTINCT o_orderkey, o_orderpriority FROM orders) o
  ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
"""

ORACLE_TOKEN_COUNTS = r"""
WITH tok AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '')) AS ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
         round(length(text) * 1.0 / greatest(len(list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '')), 1), 6)
           AS chars_per_token
  FROM documents
),
fp AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint,
         length(text) AS n_chars
  FROM documents
),
-- chunking twin: n_chunks closed form + per-chunk sizes from the same
-- stride arithmetic (chunk=128, overlap=16, stride=112)
ch AS (
  SELECT doc_id,
         CAST(n_chunks AS INT) AS n_chunks,
         CAST(list_sum(list_transform(range(0, CAST(n_chunks AS INT)),
              i -> least(128, greatest(n - i * 112, 0)))) AS BIGINT)
           AS sum_chunk_tokens
  FROM (
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '')) AS n,
           1 + ceil(greatest(len(list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '')) - 128, 0)
                    / 112.0) AS n_chunks
    FROM documents
  )
),
-- concat-and-chunk packing twin: the distributed two-phase cumsum on the
-- Spark side must equal this single running-sum window over the md5
-- order key (budget 256)
pk AS (
  SELECT doc_id,
         CAST(SUM(ws_tokens) OVER (ORDER BY hk, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS tok_end_pk,
         ws_tokens AS t_pk
  FROM (
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '')) AS ws_tokens,
           CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS BIGINT) AS hk
    FROM documents
  )
),
pk2 AS (
  SELECT doc_id,
         tok_end_pk - t_pk AS tok_start,
         CAST(floor((tok_end_pk - t_pk) / 256) AS BIGINT) AS pack_first,
         CAST(greatest(floor((tok_end_pk - t_pk) / 256),
                       floor((tok_end_pk - 1) / 256)) AS BIGINT) AS pack_last
  FROM pk
),
-- duplicate-passage twin (dedup.dup_span_stats): positional word
-- 5-grams hashed with the same md5 60-bit reduction, corpus
-- doc-frequency >= 2 distinct docs, intervals [pos, pos+5) merged to
-- maximal spans per doc by the running-max window
dsg AS (
  SELECT doc_id, pos, ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gh
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(t) - 4),
             i -> list_extract(t,i+1)||' '||list_extract(t,i+2)||' '||list_extract(t,i+3)
                  ||' '||list_extract(t,i+4)||' '||list_extract(t,i+5))) AS gram,
           unnest(range(0, len(t) - 4)) AS pos
    FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '') AS t
          FROM documents)
    WHERE len(t) >= 5
  )
),
dsdup AS (SELECT gh FROM dsg GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
dshit AS (SELECT doc_id, pos, pos + 5 AS e FROM dsg JOIN dsdup USING (gh)),
dsflag AS (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS nw
  FROM dshit
),
dsspan AS (
  SELECT doc_id, span_id, min(pos) AS s, max(e) AS e2
  FROM (SELECT doc_id, pos, e,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        FROM dsflag)
  GROUP BY doc_id, span_id
),
ds AS (
  SELECT tok.doc_id,
         CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         round(coalesce(a.dup_tokens, 0) * 1.0 / greatest(tok.ws_tokens, 1), 6)
           AS dup_frac
  FROM tok
  LEFT JOIN (SELECT doc_id, count(*) AS n_dup_spans, sum(e2 - s) AS dup_tokens
             FROM dsspan GROUP BY doc_id) a USING (doc_id)
)
SELECT tok.doc_id, ws_tokens, bpe_ish_tokens, chars_per_token, fingerprint, n_chars,
       ch.n_chunks, ch.sum_chunk_tokens, pk2.tok_start, pk2.pack_first, pk2.pack_last,
       ds.n_dup_spans, ds.dup_tokens, ds.dup_frac
FROM tok JOIN fp ON tok.doc_id = fp.doc_id JOIN ch ON tok.doc_id = ch.doc_id
         JOIN pk2 ON tok.doc_id = pk2.doc_id JOIN ds ON tok.doc_id = ds.doc_id
"""

ORACLE_EXACT_DEDUP = """
WITH e AS (
  SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies
  FROM documents GROUP BY text
),
h AS (
  SELECT sha256(text) AS content_sha, min(doc_id) AS keeper_doc_id,
         count(*) AS n_copies_sha
  FROM documents GROUP BY sha256(text)
)
SELECT e.keeper_doc_id, e.n_copies, h.content_sha, h.n_copies_sha
FROM e JOIN h ON e.keeper_doc_id = h.keeper_doc_id
"""

_SQL_SHINGLES = r"""
shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t)),
             i -> list_extract(t, i) || ' ' || list_extract(t, i + 1)))
           AS shingles
  FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '') AS t
        FROM documents)
),
inv AS (
  SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS shingle
  FROM shingled
)
"""

ORACLE_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
src AS (SELECT doc_id, source FROM documents)
SELECT 'neardup' AS kind, a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(count(*) * 1.0
             / (any_value(a.n_shingles) + any_value(b.n_shingles) - count(*)),
             6) AS score
FROM inv a JOIN inv b
  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) * 1.0
       / (any_value(a.n_shingles) + any_value(b.n_shingles) - count(*)) >= 0.5
UNION ALL
SELECT 'contam' AS kind, t.doc_id AS doc_a, h.doc_id AS doc_b,
       round(count(*) * 1.0 / any_value(h.n_shingles), 6) AS score
FROM (SELECT i.* FROM inv i JOIN src s USING (doc_id) WHERE s.source <> 'src0') t
JOIN (SELECT i.* FROM inv i JOIN src s USING (doc_id) WHERE s.source = 'src0') h
  ON t.shingle = h.shingle
GROUP BY t.doc_id, h.doc_id
HAVING count(*) * 1.0 / any_value(h.n_shingles) >= 0.2
"""

def _build_minhash_oracle(num_hashes: int = 32, bands: int = 8,
                          threshold: float = 0.5,
                          mode: str = "pairs") -> str:
    """DuckDB twin of minhash_lsh_pairs(portable=True), generated from the
    SAME universal-hash coefficients the Spark expression uses — identical
    integer arithmetic on both engines, so candidate sets match exactly.
    ``mode`` mirrors dedup._lsh_candidates (r10, VERDICT r9 #8): "pairs" =
    all-pairs bucket self-join; "star" = only (bucket-min, member) edges
    per non-singleton (band, bucket) — the clustering consumer's linear
    candidate set. Both feed the same exact-Jaccard verifier."""
    from mapping_timeseries_spark.functions.text import (
        MINHASH_PRIME,
        minhash_coeffs,
    )

    coeffs = minhash_coeffs(num_hashes)
    rows_per_band = num_hashes // bands
    sig_cols = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {band} AS band, concat_ws(',', {cols}) AS bucket FROM sig".format(
            band=band,
            cols=", ".join(
                f"s{band * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for band in range(bands)
    )
    if mode == "star":
        # hub = bucket min, so doc_a < doc_b by construction and the
        # exact-Jaccard verifier join below is shared between the modes
        cand_select = """
  SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
  FROM banded b
  JOIN (SELECT band, bucket, min(doc_id) AS hub
        FROM banded GROUP BY band, bucket HAVING count(*) > 1) h
    ON b.band = h.band AND b.bucket = h.bucket
  WHERE b.doc_id != h.hub"""
    else:
        cand_select = """
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id"""
    return f"""
WITH {_SQL_SHINGLES},
hashed AS (
  SELECT doc_id,
         (('0x' || substring(md5(shingle), 1, 15))::BIGINT % {MINHASH_PRIME}) AS h
  FROM inv
),
sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM hashed GROUP BY doc_id
),
banded AS (
  {band_selects}
),
cand AS ({cand_select}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(count(*) * 1.0
             / (any_value(a.n_shingles) + any_value(b.n_shingles) - count(*)),
             6) AS jaccard
FROM inv a
JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) * 1.0
       / (any_value(a.n_shingles) + any_value(b.n_shingles) - count(*))
       >= {threshold}
"""


ORACLE_MINHASH = f"""
WITH pairs AS (
  {_build_minhash_oracle()}
)
SELECT doc_a, doc_b, jaccard, 'full' AS src FROM pairs
UNION ALL
SELECT doc_a, doc_b, jaccard, 'incr' AS src FROM pairs
WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
"""

# Connected-components twin: min reachable doc_id per vertex via a
# recursive CTE over the symmetrized minhash pair graph (nested WITH —
# DuckDB allows a CTE body to carry its own WITH chain). Mirrors
# dedup.dedup_clusters' fixpoint exactly: cluster_id = min id in
# component, singletons included from the documents table.
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
  {_build_minhash_oracle()}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
lexical AS (
  SELECT id AS doc_id, min(lbl) AS cluster_id,
         CAST(CASE WHEN id = min(lbl) THEN 1 ELSE 0 END AS INT) AS is_keeper
  FROM reach GROUP BY id
),
-- star-mode twin (folded r10, VERDICT r9 #8): the corpus pipeline's
-- DEFAULT clustering consumer uses star candidates (linear on hot
-- cliques); this recomputes the whole star pipeline — star candidate
-- edges, exact-Jaccard verify, recursive-CTE components — independently
-- of the Spark connected-components operator, so star clusters are cross-engine
-- gated and the star-vs-pairs agreement flag is pinned per document
star_pairs AS (
  {_build_minhash_oracle(mode="star")}
),
star_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM star_pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM star_pairs
),
star_reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM star_reach r JOIN star_edges e ON e.src = r.id
),
star_lex AS (
  SELECT id AS doc_id, min(lbl) AS star_cluster_id FROM star_reach GROUP BY id
),
-- SemDeDup twin (folded r5): IVF seed assignment + in-cluster cosine
-- edges at 0.4 + recursive-CTE components + farthest-from-centroid keeper
vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM vecs ORDER BY vec_id LIMIT 16
),
sem_assigned AS (
  SELECT vec_id, centroid_id, csim FROM (
    SELECT t.*, row_number() OVER (PARTITION BY vec_id
             ORDER BY csim DESC, centroid_id ASC) AS pr
    FROM (
      SELECT vecs.vec_id, cents.centroid_id,
             round(list_dot_product(vecs.v, cents.cv)
                   / (sqrt(list_dot_product(vecs.v, vecs.v))
                      * sqrt(list_dot_product(cents.cv, cents.cv))), 6) AS csim
      FROM vecs CROSS JOIN cents) t
  ) WHERE pr = 1
),
unit AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
  FROM vecs
),
sem_edges AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM sem_assigned a
  JOIN sem_assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  JOIN unit ua ON ua.vec_id = a.vec_id
  JOIN unit ub ON ub.vec_id = b.vec_id
  WHERE round(list_dot_product(ua.uv, ub.uv), 6) >= 0.4
),
sem_sym AS (
  SELECT src, dst FROM sem_edges
  UNION ALL
  SELECT dst, src FROM sem_edges
),
sem_reach(id, lbl) AS (
  SELECT vec_id, vec_id FROM vecs
  UNION
  SELECT e.dst, r.lbl FROM sem_reach r JOIN sem_sym e ON e.src = r.id
),
sem_groups AS (
  SELECT id AS vec_id, min(lbl) AS group_id FROM sem_reach GROUP BY id
),
sem AS (
  SELECT g.vec_id, a.centroid_id, a.csim, g.group_id,
         CAST(count(*) OVER (PARTITION BY g.group_id) AS INT) AS group_size,
         CAST(CASE WHEN row_number() OVER (PARTITION BY g.group_id
                ORDER BY a.csim ASC, g.vec_id ASC) = 1
              THEN 1 ELSE 0 END AS INT) AS is_keeper
  FROM sem_groups g JOIN sem_assigned a USING (vec_id)
)
SELECT l.doc_id, l.cluster_id, l.is_keeper,
       st.star_cluster_id,
       CAST(CASE WHEN st.star_cluster_id = l.cluster_id
            THEN 1 ELSE 0 END AS INT) AS star_eq,
       s.centroid_id AS sem_centroid,
       s.csim AS sem_sim,
       s.group_id AS sem_group,
       s.group_size AS sem_group_size,
       s.is_keeper AS sem_keeper
FROM lexical l
JOIN star_lex st ON st.doc_id = l.doc_id
LEFT JOIN sem s ON s.vec_id = l.doc_id
"""

# DuckDB twin of simhash_near_dups(portable=True): 60-bit md5-derived
# token hashes, per-bit majority vote, top-12-bit blocking, Hamming <= 8.
ORACLE_SIMHASH = r"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '')) AS tk
  FROM documents
),
hashed AS (
  SELECT doc_id, ('0x' || substring(md5(tk), 1, 15))::BIGINT AS h FROM tok
),
bits AS (
  SELECT doc_id, bit_idx,
         SUM((h >> bit_idx) & 1) AS ones, COUNT(*) AS n
  FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS bit_idx) bs
  GROUP BY doc_id, bit_idx
),
fp AS (
  SELECT doc_id,
         SUM(CASE WHEN ones * 2 >= n THEN (1::BIGINT << bit_idx)
                  ELSE 0::BIGINT END) AS fingerprint
  FROM bits GROUP BY doc_id
),
blocked AS (
  SELECT doc_id, fingerprint, fingerprint >> 48 AS block FROM fp
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INT) AS hamming
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 8
"""

_SQL_TOKENS = r"list_filter(string_split_regex(trim(text), '\s+'), __t -> __t != '')"

# Gopher repetition fractions + pass flag, generated from the operator's
# threshold tables so the SQL twin can never drift from the Spark side.
from mapping_timeseries_spark.operators.textstats import (  # noqa: E402
    GOPHER_DUP_THRESHOLDS,
    GOPHER_TOP_THRESHOLDS,
)

_GOPHER_FRAC_SQL = ",\n         ".join(
    f"round(least(coalesce(max(CASE WHEN p.n = {n} THEN p.{kind}_cover END)"
    f" * 1.0 / b.chars, 0), 1.0), 6) AS {kind}_{n}gram_char_frac"
    for kind, ns in (("top", GOPHER_TOP_THRESHOLDS), ("dup", GOPHER_DUP_THRESHOLDS))
    for n in ns
)
_GOPHER_PASS_SQL = (
    "CAST(("
    + " AND ".join(
        f"{kind}_{n}gram_char_frac <= {th}::DOUBLE"
        for kind, ths in (
            ("top", GOPHER_TOP_THRESHOLDS),
            ("dup", GOPHER_DUP_THRESHOLDS),
        )
        for n, th in ths.items()
    )
    + ") AS INT)"
)

_STOPWORD_LIST = "('the','a','of','and','to','in','is','it','for','on')"

_LANG_MARKER_SQL_EN = "('the','a','of','and','is')"
_LANG_MARKER_SQL_DE = "('der','die','das','und','ist')"
_LANG_MARKER_SQL_FR = "('le','la','les','et','est')"
_LANG_MARKER_SQL_ES = "('el','la','los','y','es')"


def _sql_trigram_score(grams: tuple[str, ...]) -> str:
    """Occurrence-count sum via the replace trick — token-for-token the
    same arithmetic as textstats.lang_trigram_scores."""
    terms = " + ".join(
        f"(length(lt) - length(replace(lt, '{g}', ''))) / 3" for g in grams
    )
    return f"CAST({terms} AS BIGINT)"

ORACLE_TEXT_STATS = f"""
WITH s AS (
  SELECT doc_id, lang,
         length(text) AS n_chars,
         len(t) AS n_tokens,
         len(list_distinct(t)) AS n_unique_tokens,
         round(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 6)
           AS avg_token_len,
         round(len(list_filter(t, x -> lower(x) IN {_STOPWORD_LIST})) * 1.0
               / len(t), 6) AS stopword_ratio,
         round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
               / greatest(length(text), 1), 6) AS punct_ratio
  FROM (SELECT doc_id, lang, text, {_SQL_TOKENS} AS t FROM documents)
),
d AS (
  SELECT lang, count(*) AS lang_n_docs,
         round(count(*) * 1.0 / (SELECT count(*) FROM documents), 6) AS lang_share
  FROM documents GROUP BY lang
),
-- raw (non-distinct) word bigrams -> repetition signals
rep AS (
  SELECT doc_id,
         round(coalesce(max(cnt) * 1.0 / nullif(sum(cnt), 0), 0), 6)
           AS top_bigram_share,
         round(coalesce((sum(cnt) - count(g)) * 1.0 / nullif(sum(cnt), 0), 0), 6)
           AS dup_bigram_fraction
  FROM (
    SELECT doc_id, g, count(g) AS cnt
    FROM (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2
               THEN list_transform(range(1, len(t)),
                    i -> list_extract(t, i) || ' ' || list_extract(t, i + 1))
               ELSE [NULL] END) AS g
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
    )
    GROUP BY doc_id, g
  )
  GROUP BY doc_id
),
pii AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails,
         len(regexp_extract_all(text,
             '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b')) AS n_ipv4s,
         len(regexp_extract_all(text,
             '\\+?[0-9][0-9()\\-\\s]{{7,}}[0-9]')) AS n_phoneish
  FROM documents
),
-- r6 fold: NFC canonicalization (engine: Arrow mapInPandas over
-- unicodedata) + ASCII-whitespace collapse, fingerprinted — the
-- identity the dedup stages key on. The regex class matches the
-- engine's Java \\s exactly ([ \\t\\n\\x0B\\f\\r]); DuckDB's
-- nfc_normalize is the NFC twin.
norm AS (
  SELECT doc_id,
         substring(md5(trim(regexp_replace(nfc_normalize(text),
             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))), 1, 16)
           AS norm_fingerprint,
         length(trim(regexp_replace(nfc_normalize(text),
             '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))::BIGINT AS n_norm_chars
  FROM documents
),
-- r6 fold: Gopher repetition signals (n-gram family). Same
-- definitions as operators/textstats.py::gopher_repetition — top =
-- n-gram maximizing count*char_len, dup = chars covered by n-grams
-- occurring >=2 times, both over the space-joined gram string, clamped
-- at 1.0, denominator greatest(length(text),1); grams reduced to the
-- portable 60-bit md5 hash (collisions deterministic, both engines).
gop_pern AS (
  SELECT doc_id, n,
         max(cnt * glen) AS top_cover,
         sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END) AS dup_cover
  FROM (
    SELECT doc_id, n,
           ('0x' || substring(md5(g), 1, 15))::BIGINT AS gh,
           length(g) AS glen, count(*) AS cnt
    FROM (
      SELECT doc_id, n,
             unnest(CASE WHEN len(t) >= n
               THEN list_transform(range(1, len(t) - n + 2),
                    i -> array_to_string(list_slice(t, i, i + n - 1), ' '))
               ELSE [] END) AS g
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
           (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n)
    )
    GROUP BY doc_id, n, gh, glen
  )
  GROUP BY doc_id, n
),
gop AS (
  SELECT b.doc_id,
         {_GOPHER_FRAC_SQL},
         {_GOPHER_PASS_SQL} AS gopher_repetition_pass
  FROM (SELECT doc_id, greatest(length(text), 1) AS chars FROM documents) b
  LEFT JOIN gop_pern p ON b.doc_id = p.doc_id
  GROUP BY b.doc_id, b.chars
),
-- r7 fold: the line family over the token-wrapped multi-line
-- derivation (wrap_tokens: 13-token lines, 5-line paragraphs joined
-- with blank lines). The whole twin recomputes from line STRINGS —
-- no hashes — so the engine's 60-bit-keyed two-phase line_dedup
-- cannot self-certify.
wtoks AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS pos
  FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
),
wlines AS (
  SELECT doc_id, pos // 13 AS li, string_agg(tok, ' ' ORDER BY pos) AS line
  FROM wtoks GROUP BY doc_id, pos // 13
),
wparas AS (
  SELECT doc_id, li // 5 AS pi, string_agg(line, chr(10) ORDER BY li) AS para
  FROM wlines GROUP BY doc_id, li // 5
),
wrapped AS (
  SELECT d.doc_id, coalesce(w.wtext, '') AS wtext
  FROM documents d LEFT JOIN (
    SELECT doc_id,
           string_agg(para, chr(10) || chr(10) ORDER BY pi) AS wtext
    FROM wparas GROUP BY doc_id
  ) w ON d.doc_id = w.doc_id
),
-- corpus-wide line dedup twin (keep_first; blank lines structural)
wl AS (
  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS line
  FROM (SELECT doc_id, string_split(wtext, chr(10)) AS l FROM wrapped)
),
wowners AS (
  SELECT line, count(*) AS n,
         min(struct_pack(doc_id := doc_id, pos := pos)) AS first
  FROM wl WHERE trim(line) != '' GROUP BY line
),
wverd AS (
  SELECT l.doc_id, l.pos, l.line,
         coalesce(o.n > 1 AND NOT (l.doc_id = o.first.doc_id
                  AND l.pos = o.first.pos), false) AS dropped
  FROM wl l LEFT JOIN wowners o ON l.line = o.line
),
ld AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_wrapped_lines,
         sum(dropped::INT)::BIGINT AS n_dup_lines_removed,
         substring(md5(coalesce(string_agg(
             CASE WHEN NOT dropped THEN line END, chr(10) ORDER BY pos),
             '')), 1, 16) AS line_dedup_fp
  FROM wverd GROUP BY doc_id
),
-- within-doc duplicate line/paragraph fractions over the SECOND wrap
-- (2-token lines, 2-line paragraphs — the width at which the corpus
-- actually repeats lines within docs); trimmed segments, blanks
-- dropped — textstats._dup_split_stats semantics
wlines2 AS (
  SELECT doc_id, pos // 2 AS li, string_agg(tok, ' ' ORDER BY pos) AS line
  FROM wtoks GROUP BY doc_id, pos // 2
),
wparas2 AS (
  SELECT doc_id, li // 2 AS pi, string_agg(line, chr(10) ORDER BY li) AS para
  FROM wlines2 GROUP BY doc_id, li // 2
),
wrapped2 AS (
  SELECT d.doc_id, coalesce(w.wtext, '') AS wtext
  FROM documents d LEFT JOIN (
    SELECT doc_id,
           string_agg(para, chr(10) || chr(10) ORDER BY pi) AS wtext
    FROM wparas2 GROUP BY doc_id
  ) w ON d.doc_id = w.doc_id
),
wlseg AS (
  SELECT doc_id, seg, count(*) AS cnt FROM (
    SELECT doc_id,
           trim(unnest(string_split_regex(wtext, '\n'))) AS seg
    FROM wrapped2)
  WHERE seg != '' GROUP BY doc_id, seg
),
wpseg AS (
  SELECT doc_id, seg, count(*) AS cnt FROM (
    SELECT doc_id,
           trim(unnest(string_split_regex(wtext, '\n{{2,}}'))) AS seg
    FROM wrapped2)
  WHERE seg != '' GROUP BY doc_id, seg
),
lrs AS (
  SELECT w.doc_id,
         round(coalesce((lsum - lcnt) * 1.0 / nullif(lsum, 0), 0), 6)
           AS wrap2_dup_line_frac,
         round(coalesce(ldupchars * 1.0 / nullif(lchars, 0), 0), 6)
           AS wrap2_dup_line_char_frac,
         round(coalesce((psum - pcnt) * 1.0 / nullif(psum, 0), 0), 6)
           AS wrap2_dup_para_frac,
         round(coalesce(pdupchars * 1.0 / nullif(pchars, 0), 0), 6)
           AS wrap2_dup_para_char_frac
  FROM wrapped2 w
  LEFT JOIN (
    SELECT doc_id, sum(cnt) AS lsum, count(*) AS lcnt,
           sum((cnt - 1) * length(seg)) AS ldupchars,
           sum(cnt * length(seg)) AS lchars
    FROM wlseg GROUP BY doc_id) a ON w.doc_id = a.doc_id
  LEFT JOIN (
    SELECT doc_id, sum(cnt) AS psum, count(*) AS pcnt,
           sum((cnt - 1) * length(seg)) AS pdupchars,
           sum(cnt * length(seg)) AS pchars
    FROM wpseg GROUP BY doc_id) b ON w.doc_id = b.doc_id
)
SELECT s.doc_id, s.lang, s.n_chars, s.n_tokens, s.n_unique_tokens,
       s.avg_token_len, s.stopword_ratio, s.punct_ratio,
       d.lang_n_docs, d.lang_share,
       rep.top_bigram_share, rep.dup_bigram_fraction,
       pii.n_emails, pii.n_ipv4s, pii.n_phoneish,
       norm.norm_fingerprint, norm.n_norm_chars,
       gop.top_2gram_char_frac, gop.top_3gram_char_frac,
       gop.top_4gram_char_frac,
       gop.dup_5gram_char_frac, gop.dup_6gram_char_frac,
       gop.dup_7gram_char_frac, gop.dup_8gram_char_frac,
       gop.dup_9gram_char_frac, gop.dup_10gram_char_frac,
       gop.gopher_repetition_pass,
       ld.n_wrapped_lines, ld.n_dup_lines_removed, ld.line_dedup_fp,
       lrs.wrap2_dup_line_frac, lrs.wrap2_dup_line_char_frac,
       lrs.wrap2_dup_para_frac, lrs.wrap2_dup_para_char_frac
FROM s JOIN d ON s.lang = d.lang
JOIN rep ON s.doc_id = rep.doc_id
JOIN pii ON s.doc_id = pii.doc_id
JOIN norm ON s.doc_id = norm.doc_id
JOIN gop ON s.doc_id = gop.doc_id
JOIN ld ON s.doc_id = ld.doc_id
JOIN lrs ON s.doc_id = lrs.doc_id
"""

ORACLE_QUALITY = f"""
WITH q AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_distinct(t)) AS n_unique_tokens,
         round(least(
           (CASE WHEN len(t) BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END)
           + least(len(list_distinct(t)) * 1.0 / greatest(len(t), 1), 0.5) * 0.6
           + (CASE WHEN len(list_filter(t, x -> lower(x) IN {_STOPWORD_LIST})) > 0
                   THEN 0.1 ELSE 0.0 END),
           1.0), 6) AS quality_score
  FROM (SELECT doc_id, text, {_SQL_TOKENS} AS t FROM documents)
),
lid AS (
  SELECT doc_id, actual_lang, score_en, score_de, score_fr, score_es,
         CASE
           WHEN greatest(score_en, score_de, score_fr, score_es) < 1 THEN 'unknown'
           WHEN score_en >= greatest(score_de, score_fr, score_es) THEN 'en'
           WHEN score_de >= greatest(score_fr, score_es) THEN 'de'
           WHEN score_fr >= score_es THEN 'fr'
           ELSE 'es'
         END AS predicted_lang
  FROM (
    SELECT doc_id, lang AS actual_lang,
           len(list_filter(t, x -> lower(x) IN {_LANG_MARKER_SQL_EN})) AS score_en,
           len(list_filter(t, x -> lower(x) IN {_LANG_MARKER_SQL_DE})) AS score_de,
           len(list_filter(t, x -> lower(x) IN {_LANG_MARKER_SQL_FR})) AS score_fr,
           len(list_filter(t, x -> lower(x) IN {_LANG_MARKER_SQL_ES})) AS score_es
    FROM (SELECT doc_id, lang, {_SQL_TOKENS} AS t FROM documents)
  )
),
tri AS (
  SELECT doc_id,
         CASE
           WHEN greatest(tri_en, tri_de, tri_fr, tri_es) < 1 THEN 'unknown'
           WHEN tri_en >= greatest(tri_de, tri_fr, tri_es) THEN 'en'
           WHEN tri_de >= greatest(tri_fr, tri_es) THEN 'de'
           WHEN tri_fr >= tri_es THEN 'fr'
           ELSE 'es'
         END AS trigram_lang
  FROM (
    SELECT doc_id,
           {_sql_trigram_score(LANG_TRIGRAMS['en'])} AS tri_en,
           {_sql_trigram_score(LANG_TRIGRAMS['de'])} AS tri_de,
           {_sql_trigram_score(LANG_TRIGRAMS['fr'])} AS tri_fr,
           {_sql_trigram_score(LANG_TRIGRAMS['es'])} AS tri_es
    FROM (SELECT doc_id, lower(text) AS lt FROM documents)
  )
),
-- boilerplate twin: distinct word 3-grams hashed to 60-bit ints (same
-- md5 reduction as the Spark side), corpus doc-frequency >= 4
sh3 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN
           list_distinct(list_transform(range(1, len(t) - 1),
             i -> list_extract(t, i) || ' ' || list_extract(t, i + 1)
                  || ' ' || list_extract(t, i + 2)))
         ELSE [] END AS grams
  FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
),
gx AS (
  SELECT doc_id, ('0x' || substring(md5(g), 1, 15))::BIGINT AS gh
  FROM (SELECT doc_id, unnest(grams) AS g FROM sh3)
),
bf AS (
  SELECT gh, count(*) AS df FROM gx GROUP BY gh
),
bp AS (
  SELECT d.doc_id,
         CAST(coalesce(cnt.n_grams, 0) AS BIGINT) AS n_grams,
         CAST(coalesce(cnt.n_boiler, 0) AS BIGINT) AS n_boiler_grams,
         round(coalesce(cnt.n_boiler, 0) * 1.0
               / greatest(coalesce(cnt.n_grams, 0), 1), 6) AS boilerplate_frac
  FROM (SELECT doc_id FROM documents) d
  LEFT JOIN (
    SELECT gx.doc_id, count(*) AS n_grams,
           sum(CASE WHEN bf.df >= 4 THEN 1 ELSE 0 END) AS n_boiler
    FROM gx JOIN bf USING (gh) GROUP BY gx.doc_id
  ) cnt USING (doc_id)
),
-- bigram-LM twin (textmodels.bigram_lm_counts + lm_perplexity): train
-- on the non-src0 corpus, score everything, add-0.5 smoothing. Every
-- ln term is scaled to integer micro-nats BEFORE the per-doc sum —
-- identical to the engine, so the float columns are pure per-row
-- functions of one exact integer
lmtok AS (
  SELECT doc_id, source, {_SQL_TOKENS} AS t FROM documents
),
lmpairs AS (
  -- len(t) > 0 guard: DuckDB zip-pads dual unnests to the LONGER side,
  -- so an empty token list against list_concat([], [NULL]) would emit a
  -- spurious (NULL, NULL) row, inflating the vocabulary by a NULL entry
  -- relative to the engine (posexplode emits zero rows for empty
  -- arrays) and shifting every smoothed probability
  SELECT ('0x' || substring(md5(w1), 1, 15))::BIGINT AS w1h,
         CASE WHEN w2 IS NOT NULL
              THEN ('0x' || substring(md5(w1 || ' ' || w2), 1, 15))::BIGINT END AS bh
  FROM (
    SELECT unnest(t) AS w1,
           unnest(list_concat(list_slice(t, 2, len(t)), [NULL])) AS w2
    FROM lmtok WHERE source <> 'src0' AND len(t) > 0
  )
),
lmuni AS (SELECT w1h, count(*)::BIGINT AS c1 FROM lmpairs GROUP BY w1h),
lmbi  AS (SELECT bh, count(*)::BIGINT AS c2 FROM lmpairs WHERE bh IS NOT NULL GROUP BY bh),
lmv   AS (SELECT (count(*) + 1)::BIGINT AS v FROM lmuni),
lmtrans AS (
  SELECT doc_id,
         ('0x' || substring(md5(w1), 1, 15))::BIGINT AS w1h,
         ('0x' || substring(md5(w1 || ' ' || w2), 1, 15))::BIGINT AS bh
  FROM (
    SELECT doc_id, unnest(list_slice(t, 1, len(t)-1)) AS w1,
           unnest(list_slice(t, 2, len(t))) AS w2
    FROM lmtok WHERE len(t) >= 2
  )
),
lmsc AS (
  SELECT t.doc_id, count(*)::BIGINT AS n_trans,
         sum(CASE WHEN lmbi.c2 IS NULL THEN 1 ELSE 0 END)::BIGINT AS oov_trans,
         sum(round(ln((coalesce(lmbi.c2, 0) + 0.5)
                      / (coalesce(lmuni.c1, 0) + 0.5 * lmv.v)) * 1e9)::BIGINT)
           AS nats
  FROM lmtrans t
  LEFT JOIN lmuni USING (w1h) LEFT JOIN lmbi USING (bh) CROSS JOIN lmv
  GROUP BY t.doc_id
),
lm0 AS (
  SELECT lmtok.doc_id,
         coalesce(n_trans, 0)::BIGINT AS n_trans,
         coalesce(oov_trans, 0)::BIGINT AS oov_trans,
         CASE WHEN n_trans > 0 THEN round(-nats / (1e9 * n_trans), 6) END AS avg_nll,
         CASE WHEN n_trans > 0
              THEN round(exp(round(-nats / (1e9 * n_trans), 6)), 6) END AS ppl
  FROM lmtok LEFT JOIN lmsc USING (doc_id)
),
-- r8 fold: the ppl_buckets SKETCH path's thresholds, recomputed
-- exactly — log-decade histogram buckets (floor to 3 leading digits,
-- pure bigint: sketches._bucket_expr) over round(avg_nll*1e6), then
-- the rank-in-histogram cut floor(q*(n-1))+1 with q CAST AS DOUBLE
-- (DuckDB bare decimals are DECIMAL; the engine does one IEEE double
-- product, so the twin must too — see histogram_quantiles docstring)
pbk AS (
  SELECT CASE WHEN abs(mv) >= 1000000000000000
              THEN (CASE WHEN mv < 0 THEN -1 ELSE 1 END) * 1000000000000000
              ELSE (CASE WHEN mv < 0 THEN -1 ELSE 1 END)
                   * ((abs(mv) // p) * p) END AS b
  FROM (
    SELECT mv,
           CASE WHEN length(CAST(abs(mv) AS VARCHAR)) <= 3 THEN 1
                ELSE CAST(power(10, length(CAST(abs(mv) AS VARCHAR)) - 3)
                          AS BIGINT) END AS p
    FROM (SELECT CAST(round(avg_nll * 1e6, 0) AS BIGINT) AS mv
          FROM lm0 WHERE avg_nll IS NOT NULL)
  )
),
ph AS (SELECT b, count(*) AS c FROM pbk GROUP BY b),
pn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ph),
pc AS (SELECT b, sum(c) OVER (ORDER BY b) AS cum FROM ph),
pt AS (
  SELECT
    min(CASE WHEN cum >= CAST(floor(CAST(0.3333333333333333 AS DOUBLE)
                                    * (n - 1)) AS BIGINT) + 1
             THEN b END) AS t1,
    min(CASE WHEN cum >= CAST(floor(CAST(0.6666666666666666 AS DOUBLE)
                                    * (n - 1)) AS BIGINT) + 1
             THEN b END) AS t2
  FROM pc, pn
),
-- r7 fold: CCNet head/middle/tail by exact rank over (avg_nll ASC
-- NULLS LAST, doc_id); NULL-scored docs always tail; integer cuts
-- floor(n/3) / floor(2n/3) (textmodels.ppl_buckets rank mode); r8:
-- plus the sketch-mode assignment against the pt thresholds
lm AS (
  SELECT ranked.*, CASE
      WHEN avg_nll IS NULL THEN 'tail'
      WHEN rn <= (n // 3) THEN 'head'
      WHEN rn <= ((2 * n) // 3) THEN 'middle'
      ELSE 'tail' END AS ppl_bucket,
    CASE
      WHEN avg_nll IS NULL THEN 'tail'
      WHEN pt.t1 IS NULL THEN 'tail'
      WHEN CAST(round(avg_nll * 1e6, 0) AS BIGINT) <= pt.t1 THEN 'head'
      WHEN CAST(round(avg_nll * 1e6, 0) AS BIGINT) <= pt.t2 THEN 'middle'
      ELSE 'tail' END AS ppl_bucket_sketch
  FROM (
    SELECT lm0.*,
           row_number() OVER (ORDER BY avg_nll ASC NULLS LAST, doc_id) AS rn,
           count(*) OVER () AS n
    FROM lm0) ranked CROSS JOIN pt
),
-- Naive-Bayes twin (textmodels.nb_train + nb_score): label =
-- source=='src0', alpha 1, per-word weight = micro-nat difference of
-- the two class log-likelihoods (each rounded SEPARATELY, like the
-- engine), prediction from the integer log-odds comparison
nbw AS (
  SELECT doc_id, y, ('0x' || substring(md5(w), 1, 15))::BIGINT AS wh
  FROM (SELECT doc_id, (source = 'src0')::INT AS y, unnest(t) AS w FROM lmtok)
),
nbcw AS (
  SELECT wh, sum(y)::BIGINT AS c1, sum(1 - y)::BIGINT AS c0 FROM nbw GROUP BY wh
),
nbtot AS (
  SELECT sum(y)::BIGINT AS t1, sum(1 - y)::BIGINT AS t0,
         (count(DISTINCT wh) + 1)::BIGINT AS v
  FROM nbw
),
nbnd AS (
  SELECT sum((source = 'src0')::INT)::BIGINT AS n1,
         sum((source <> 'src0')::INT)::BIGINT AS n0
  FROM documents
),
nbwt AS (
  SELECT wh,
         round(ln((c1 + 1.0) / (t1 + 1.0 * v)) * 1e9)::BIGINT
       - round(ln((c0 + 1.0) / (t0 + 1.0 * v)) * 1e9)::BIGINT AS w_nats
  FROM nbcw, nbtot
),
nbpri AS (SELECT round(ln(n1 * 1.0 / n0) * 1e9)::BIGINT AS p FROM nbnd),
nbsc AS (
  SELECT nbw.doc_id, coalesce(sum(nbwt.w_nats), 0) AS wsum
  FROM nbw LEFT JOIN nbwt USING (wh) GROUP BY nbw.doc_id
),
nb AS (
  SELECT lmtok.doc_id,
         round((coalesce(nbsc.wsum, 0) + nbpri.p) / 1e9, 6) AS nb_log_odds,
         ((coalesce(nbsc.wsum, 0) + nbpri.p) > 0)::INT AS nb_predicted
  FROM lmtok LEFT JOIN nbsc USING (doc_id) CROSS JOIN nbpri
),
-- r6 fold: DSIR importance resampling (operators/dsir.py). Features =
-- word unigrams + bigrams bucketed by the portable 60-bit hash % 2048;
-- bucket log-ratio (target = src0) as round(ln * 1e9) bigints (the
-- integer-nat contract); Gumbel noise a pure function of
-- (doc_id, seed) so the top-100 draw replays exactly.
dsf AS (
  SELECT doc_id, bucket, count(*) AS cnt FROM (
    SELECT doc_id,
           ('0x' || substring(md5(g), 1, 15))::BIGINT % 2048 AS bucket
    FROM (
      SELECT doc_id, unnest(list_concat(t,
        CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)),
             i -> list_extract(t, i) || ' ' || list_extract(t, i + 1))
        ELSE [] END)) AS g
      FROM lmtok
    )
  ) GROUP BY doc_id, bucket
),
dst AS (
  SELECT bucket, sum(cnt)::BIGINT AS n FROM dsf
  JOIN documents USING (doc_id) WHERE source = 'src0' GROUP BY bucket
),
dsr AS (
  SELECT bucket, sum(cnt)::BIGINT AS n FROM dsf
  JOIN documents USING (doc_id) WHERE source <> 'src0' GROUP BY bucket
),
dstot AS (
  SELECT (SELECT coalesce(sum(n), 0) FROM dst) AS tt,
         (SELECT coalesce(sum(n), 0) FROM dsr) AS rt
),
dslr AS (
  SELECT b.bucket,
         round(ln((coalesce(dst.n, 0) + 0.5) / (dstot.tt + 0.5 * 2048)) * 1e9)::BIGINT
       - round(ln((coalesce(dsr.n, 0) + 0.5) / (dstot.rt + 0.5 * 2048)) * 1e9)::BIGINT
           AS lr
  FROM (SELECT unnest(range(2048)) AS bucket) b
  LEFT JOIN dst USING (bucket) LEFT JOIN dsr USING (bucket) CROSS JOIN dstot
),
dsw AS (
  SELECT d.doc_id,
         coalesce(sum(dsf.cnt * dslr.lr), 0)::BIGINT AS dsir_logw_nats
  FROM documents d
  LEFT JOIN dsf ON d.doc_id = dsf.doc_id
  LEFT JOIN dslr ON dsf.bucket = dslr.bucket
  GROUP BY d.doc_id
),
dsk AS (
  SELECT doc_id, dsir_logw_nats, dsir_score,
         row_number() OVER (ORDER BY dsir_score DESC, doc_id ASC)::INT
           AS dsir_rank
  FROM (
    SELECT doc_id, dsir_logw_nats,
           round(dsir_logw_nats / 1e9
                 - ln(-ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                       || ':20260815'), 1, 15))::BIGINT + 1.0)
                     / (1152921504606846976 + 2.0))), 6) AS dsir_score
    FROM dsw
  )
)
SELECT q.doc_id, q.n_tokens, q.n_unique_tokens, q.quality_score,
       lid.actual_lang, lid.score_en, lid.score_de, lid.score_fr, lid.score_es,
       lid.predicted_lang, tri.trigram_lang,
       (('0x' || substring(md5('shard:' || CAST(q.doc_id AS VARCHAR)), 1, 15))::BIGINT
         % 16)::INT AS shard,
       bp.n_grams, bp.n_boiler_grams, bp.boilerplate_frac,
       lm.n_trans, lm.oov_trans, lm.avg_nll, lm.ppl, lm.ppl_bucket,
       lm.ppl_bucket_sketch,
       nb.nb_log_odds, nb.nb_predicted,
       dsk.dsir_logw_nats, dsk.dsir_score, dsk.dsir_rank,
       (dsk.dsir_rank <= 100)::INT AS dsir_selected
FROM q JOIN lid ON q.doc_id = lid.doc_id JOIN tri ON q.doc_id = tri.doc_id
       JOIN bp ON q.doc_id = bp.doc_id JOIN lm ON q.doc_id = lm.doc_id
       JOIN nb ON q.doc_id = nb.doc_id JOIN dsk ON q.doc_id = dsk.doc_id
"""

# WAV decode oracle: the payload is a pure function of (doc_id, text)
# (see operators.multimodal.synth_wav), so the expected decoded PCM
# statistics are computable directly from the text — integer-exact, no
# binary parsing needed on the oracle side.
ORACLE_MULTIMODAL = """
WITH base AS (
  SELECT doc_id, lang, least(length(text), 256) AS n,
    list_transform(range(0, least(length(text), 256)),
      i -> ((ascii(array_extract(string_split(text, ''), i + 1)) * 257
             + i * 7919 + doc_id * 31) % 65536) - 32768) AS s
  FROM documents
),
-- image twin: 24-bit BMP, width 15, bottom-up padded rows; pixel k < n
-- has channels (cp*3+k*11+doc_id, cp*5+k*13, cp*7+k*17) % 256, the
-- rest black. n_bytes = 54 header + (15*3 + 3 pad) * height.
img AS (
  SELECT doc_id, lang, n,
         CAST(greatest(1, ceil(n / 15.0)) AS INT) AS height,
         list_transform(range(0, n),
           k -> ascii(array_extract(string_split(text, ''), k + 1))) AS cps
  FROM (SELECT doc_id, lang, text, least(length(text), 256) AS n FROM documents)
)
SELECT doc_id, 'audio/wav' AS mime, lang,
       CAST(44 + 2 * n AS BIGINT) AS n_bytes,
       CAST(n AS INT) AS n_samples, CAST(8000 AS INT) AS sample_rate,
       CAST(coalesce(list_sum(s), 0) AS BIGINT) AS pcm_sum,
       CAST(coalesce(list_sum(list_transform(s, x -> x * x)), 0) AS BIGINT) AS pcm_sumsq,
       CAST(list_min(s) AS INT) AS pcm_min,
       CAST(list_max(s) AS INT) AS pcm_max,
       CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
       CAST(NULL AS INT) AS n_px,
       CAST(NULL AS BIGINT) AS sum_r, CAST(NULL AS BIGINT) AS sum_g,
       CAST(NULL AS BIGINT) AS sum_b, CAST(NULL AS INT) AS n_frames
FROM base
UNION ALL
SELECT doc_id, 'image/bmp' AS mime, lang,
       CAST(54 + 48 * height AS BIGINT) AS n_bytes,
       CAST(NULL AS INT) AS n_samples, CAST(NULL AS INT) AS sample_rate,
       CAST(NULL AS BIGINT) AS pcm_sum, CAST(NULL AS BIGINT) AS pcm_sumsq,
       CAST(NULL AS INT) AS pcm_min, CAST(NULL AS INT) AS pcm_max,
       CAST(15 AS INT) AS width, height,
       CAST(15 * height AS INT) AS n_px,
       CAST(coalesce(list_sum(list_transform(range(0, n),
         k -> (list_extract(cps, k + 1) * 7 + k * 17) % 256)), 0) AS BIGINT) AS sum_r,
       CAST(coalesce(list_sum(list_transform(range(0, n),
         k -> (list_extract(cps, k + 1) * 5 + k * 13) % 256)), 0) AS BIGINT) AS sum_g,
       CAST(coalesce(list_sum(list_transform(range(0, n),
         k -> (list_extract(cps, k + 1) * 3 + k * 11 + doc_id) % 256)), 0) AS BIGINT) AS sum_b,
       CAST(NULL AS INT) AS n_frames
FROM img
UNION ALL
-- video twin: 8 frames of 8x6 raw BGR (rows 24 B, no padding needed);
-- frame f pixel k uses cp = ord(text[(f+k) % len]) (97 for empty text);
-- container length is constant (fixed frame geometry)
SELECT doc_id, 'video/avi' AS mime, lang,
       CAST(1444 AS BIGINT) AS n_bytes,
       CAST(NULL AS INT) AS n_samples, CAST(NULL AS INT) AS sample_rate,
       CAST(NULL AS BIGINT) AS pcm_sum, CAST(NULL AS BIGINT) AS pcm_sumsq,
       CAST(NULL AS INT) AS pcm_min, CAST(NULL AS INT) AS pcm_max,
       CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
       CAST(NULL AS INT) AS n_px,
       CAST(list_sum(flatten(list_transform(range(0, 8), f ->
         list_transform(range(0, 48), k ->
           ((CASE WHEN length(text) > 0
                  THEN ascii(array_extract(string_split(text, ''), ((f + k) % length(text)) + 1))
                  ELSE 97 END) * 7 + k * 17 + f * 29) % 256)))) AS BIGINT) AS sum_r,
       CAST(list_sum(flatten(list_transform(range(0, 8), f ->
         list_transform(range(0, 48), k ->
           ((CASE WHEN length(text) > 0
                  THEN ascii(array_extract(string_split(text, ''), ((f + k) % length(text)) + 1))
                  ELSE 97 END) * 5 + k * 13 + f * 23) % 256)))) AS BIGINT) AS sum_g,
       CAST(list_sum(flatten(list_transform(range(0, 8), f ->
         list_transform(range(0, 48), k ->
           ((CASE WHEN length(text) > 0
                  THEN ascii(array_extract(string_split(text, ''), ((f + k) % length(text)) + 1))
                  ELSE 97 END) * 3 + k * 11 + f * 19 + doc_id) % 256)))) AS BIGINT) AS sum_b,
       CAST(8 AS INT) AS n_frames
FROM documents
"""

_SQL_COSINE = """
list_dot_product(a.v, b.v)
/ (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
"""

ORACLE_COSINE_TOPK = f"""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.label,
         round({_SQL_COSINE}, 6) AS similarity
  FROM vecs a JOIN vecs b ON a.vec_id < 20 AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, vec_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT query_id, vec_id, label, similarity, rank FROM ranked WHERE rank <= 5
"""


def _sql_sign_bucket(expr: str, bits: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_extract({expr}, {i + 1}) >= 0 THEN {2**i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"({terms})"


from mapping_timeseries_spark.operators.search import SCORE_SCALE as _BM25_SCALE

# Multi-probe twin (nprobe=2): own bucket plus the one-bit-flip neighbor
# with the smallest hyperplane margin |v[i]| — mirrors
# similarity._probe_buckets' (margin, bucket)-ascending probe order.
# r6 fold: the BM25 lexical leg rides the same (query, hit, rank) grain
# ('bm25' method tag; doc_id->vec_id, n_hit_terms->label,
# score->similarity) — the twin recomputes postings/df/dl, the
# non-negative idf ln(1+(N-df+0.5)/(df+0.5)), tf saturation with
# k1=1.2/b=0.75 and the integer micro-score accumulation from scratch.
ORACLE_ANN_TOPK = f"""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         {_sql_sign_bucket('embedding::DOUBLE[]', 6)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id, v, bucket FROM vecs WHERE vec_id < 20),
flips AS (
  SELECT q.vec_id, q.v, xor(q.bucket, (1 << (bi.i - 1))) AS pbucket,
         abs(q.v[bi.i]) AS margin
  FROM q CROSS JOIN (SELECT unnest(range(1, 7)) AS i) bi
),
probe2 AS (
  SELECT vec_id, v, pbucket AS bucket
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY margin ASC, pbucket ASC) AS pr FROM flips) f
  WHERE pr <= 1
),
probes AS (
  SELECT vec_id, v, bucket FROM q
  UNION ALL
  SELECT vec_id, v, bucket FROM probe2
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.label,
         round({_SQL_COSINE}, 6) AS similarity
  FROM probes a JOIN vecs b
    ON a.bucket = b.bucket AND a.vec_id != b.vec_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, vec_id ASC) AS INT) AS rank
  FROM pairs
),
bm_docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
  FROM documents
),
bm_words AS (
  SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS wh
  FROM (SELECT doc_id, unnest(t) AS w FROM bm_docs)
),
bm_postings AS (
  SELECT wh, doc_id, count(*)::BIGINT AS tf FROM bm_words GROUP BY wh, doc_id
),
bm_dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM bm_words GROUP BY doc_id),
bm_df AS (SELECT wh, count(*)::BIGINT AS df FROM bm_postings GROUP BY wh),
bm_tot AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS tl FROM bm_dl),
bm_q(query_id, query_text) AS (VALUES
  (1, 'table scan filter pushdown'),
  (2, 'spark shuffle join strategy'),
  (3, 'value row group statistics'),
  (4, 'window aggregate partition'),
  (5, 'hash merge broadcast small')),
bm_qt AS (
  SELECT DISTINCT query_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS wh
  FROM (SELECT query_id,
               unnest(list_filter(string_split_regex(trim(query_text), '\\s+'),
                                  t -> t != '')) AS w
        FROM bm_q)
),
bm_cand AS (
  SELECT bm_qt.query_id, p.doc_id, count(*)::BIGINT AS n_hit_terms,
         sum(round(
           ln(1.0 + (bm_tot.n - bm_df.df + 0.5) / (bm_df.df + 0.5))
           * (p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * bm_dl.dl
                                          / (bm_tot.tl * 1.0 / bm_tot.n))))
           * {_BM25_SCALE})::BIGINT) AS micro
  FROM bm_qt JOIN bm_df USING (wh) JOIN bm_postings p USING (wh)
             JOIN bm_dl ON p.doc_id = bm_dl.doc_id CROSS JOIN bm_tot
  GROUP BY bm_qt.query_id, p.doc_id
),
bm_ranked AS (
  SELECT query_id, doc_id, n_hit_terms, micro,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY micro DESC, doc_id ASC) AS INT) AS rank
  FROM bm_cand
)
SELECT 'ann' AS method, query_id, vec_id, label, similarity, rank
FROM ranked WHERE rank <= 5
UNION ALL
SELECT 'bm25' AS method, query_id, doc_id AS vec_id,
       CAST(n_hit_terms AS INT) AS label,
       round(micro / {float(_BM25_SCALE)}, 6) AS similarity, rank
FROM bm_ranked WHERE rank <= 10
"""

ORACLE_IVF_TOPK = """
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv FROM vecs ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT vecs.vec_id, vecs.label, vecs.v, cents.centroid_id,
         row_number() OVER (
           PARTITION BY vecs.vec_id
           ORDER BY round(list_dot_product(vecs.v, cents.cv)
                    / (sqrt(list_dot_product(vecs.v, vecs.v))
                       * sqrt(list_dot_product(cents.cv, cents.cv))), 6) DESC,
                    cents.centroid_id ASC) AS pr
  FROM vecs CROSS JOIN cents
),
corpus AS (SELECT centroid_id, vec_id, label, v FROM assigned WHERE pr = 1),
probes AS (
  SELECT centroid_id, vec_id AS query_id, v AS qv
  FROM assigned WHERE pr <= 3 AND vec_id < 20
),
pairs AS (
  SELECT p.query_id, c.vec_id, c.label,
         round(list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS similarity
  FROM probes p JOIN corpus c USING (centroid_id)
  WHERE p.query_id != c.vec_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY similarity DESC, vec_id ASC) AS INT) AS rank
  FROM pairs
),
final AS (
  SELECT query_id, vec_id, label, similarity, rank
  FROM ranked WHERE rank <= 5
)
-- r6 fold: the partitioned-index serving path must produce the SAME
-- rows as the assignment pass (same seeds/k/nprobe) — the oracle emits
-- one result under both path tags, so any divergence in the
-- DPP/static-pruned scan hash-fails the 'indexed' leg.
SELECT 'assign' AS path, * FROM final
UNION ALL
SELECT 'indexed' AS path, * FROM final
"""

# r6 fold legs: 'decontam' = best holdout match >= 0.35 per corpus
# vector (holdout = vec_id % 40 == 0, broadcast side; zero-norm vectors
# excluded on BOTH sides — cosine undefined); 'diversity' = per-seed-
# centroid cluster size + integer micro-sim cohesion (seeds = 16 lowest
# vec_ids, nearest centroid by 6dp cosine with centroid_id tie-break,
# mirroring ivf_assign).
ORACLE_EMB_NEARDUP = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS v,
         {_sql_sign_bucket('embedding::DOUBLE[]', 4)} AS bucket
  FROM embeddings
),
nd AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.v, b.v), 6) AS similarity
  FROM vecs a JOIN vecs b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v), 6) >= 0.4
),
unit AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[],
                               embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
live AS (SELECT vec_id, v, nrm FROM unit WHERE nrm > 0),
dc_pairs AS (
  SELECT c.vec_id, h.vec_id AS holdout_id,
         round(list_dot_product(c.v, h.v) / (c.nrm * h.nrm), 6) AS sim
  FROM live c JOIN live h
    ON c.vec_id % 40 != 0 AND h.vec_id % 40 = 0
),
dc AS (
  SELECT vec_id AS vec_a, holdout_id AS vec_b, sim AS similarity
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, holdout_id ASC) AS rn
        FROM dc_pairs WHERE sim >= 0.35)
  WHERE rn = 1
),
cents AS (
  SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
  FROM live ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT vec_id, centroid_id, sim
  FROM (SELECT live.vec_id, cents.centroid_id,
               round(list_dot_product(live.v, cents.cv)
                     / (live.nrm * cents.cnrm), 6) AS sim,
               row_number() OVER (PARTITION BY live.vec_id
                 ORDER BY round(list_dot_product(live.v, cents.cv)
                          / (live.nrm * cents.cnrm), 6) DESC,
                          cents.centroid_id ASC) AS pr
        FROM live CROSS JOIN cents)
  WHERE pr = 1
),
dv AS (
  SELECT cents.centroid_id AS vec_a,
         coalesce(g.n_vecs, 0)::BIGINT AS vec_b,
         CASE WHEN coalesce(g.n_vecs, 0) > 0
              THEN round(g.micro_sum / (1e6 * g.n_vecs), 6) END AS similarity
  FROM cents LEFT JOIN (
    SELECT centroid_id, count(*)::BIGINT AS n_vecs,
           sum(round(sim * 1e6)::BIGINT) AS micro_sum
    FROM assigned GROUP BY centroid_id
  ) g USING (centroid_id)
)
SELECT 'near_dup' AS kind, * FROM nd
UNION ALL
SELECT 'decontam' AS kind, * FROM dc
UNION ALL
SELECT 'diversity' AS kind, * FROM dv
"""



# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_corr_mapping(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "merged_series": q_merged_series,
        "corr_lag_grid": q_corr_lag_grid,
        "corr_best_lag": q_corr_best_lag,
        "corr_mapping": q_corr_mapping,
        "corr_pvalues": q_corr_pvalues,
        "dtw_summary": q_dtw_summary,
        "dtw_mapping": q_dtw_mapping,
        "qa_invariants": q_qa_invariants,
        "alignment_coverage": q_alignment_coverage,
        "profile_lineitem": q_profile_lineitem,
        "duplicate_stats": q_duplicate_stats,
        "recommendation_table": q_recommendation_table,
        "auto_mapping": q_auto_mapping,
        "production_mapping": q_production_mapping,
        "method_agreement": q_method_agreement,
        "monitoring_view": q_monitoring_view,
        "segmentation": q_segmentation,
        "topk_customers": q_topk_customers,
        "conditional_agg": q_conditional_agg,
        "distinct_counts": q_distinct_counts,
        "quantiles": q_quantiles,
        "union_by_name": q_union_by_name,
        "anti_join_customers": q_anti_join,
        "window_funcs": q_window_funcs,
        "month_arithmetic": q_month_arithmetic,
        "sql_surface": q_sql_surface,
        "incremental_scan": q_incremental_scan,
        "tumbling_window": q_tumbling_window,
        "sliding_window": q_sliding_window,
        "sessionization": q_sessionization,
        "event_dedup": q_event_dedup,
        "parse_props": q_parse_props,
        "summary_stats": q_summary_stats,
        "join_distinct_dim": q_join_distinct_dim,
        "sample_portable": q_sample_portable,
        "sample_stratified": q_sample_stratified,
        "salted_agg": q_salted_agg,
        "token_counts": q_token_counts,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_dedup": q_minhash_dedup,
        "dedup_clusters": q_dedup_clusters,
        "simhash_dedup": q_simhash_dedup,
        "text_stats": q_text_stats,
        "quality_score": q_quality_score,
        "cosine_topk": q_cosine_topk,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "multimodal_extract": q_multimodal_extract,
    }


def oracle_sql() -> dict[str, str]:
    from mapping_timeseries_spark.sources.fixtures import SQL_T1, SQL_T2

    return {
        "merged_series": ORACLE_MERGED,
        "corr_lag_grid": ORACLE_GRID,
        "corr_best_lag": ORACLE_BEST,
        "corr_mapping": ORACLE_MAPPING,
        "corr_pvalues": ORACLE_PVALUES,
        "dtw_summary": ORACLE_DTW_SUMMARY,
        "dtw_mapping": ORACLE_DTW_MAPPING,
        "recommendation_table": ORACLE_RECOMMEND,
        "auto_mapping": ORACLE_AUTO,
        "production_mapping": ORACLE_PRODUCTION.format(sql_t1=SQL_T1, sql_t2=SQL_T2),
        "method_agreement": ORACLE_AGREEMENT,
        "monitoring_view": ORACLE_MONITORING,
        "qa_invariants": ORACLE_QA,
        "alignment_coverage": ORACLE_ALIGNMENT.format(sql_t1=SQL_T1, sql_t2=SQL_T2),
        "profile_lineitem": ORACLE_PROFILE,
        "duplicate_stats": ORACLE_DUPSTATS.format(sql_t1=SQL_T1),
        "segmentation": ORACLE_SEGMENTATION,
        "topk_customers": ORACLE_TOPK,
        "conditional_agg": ORACLE_CONDITIONAL,
        "distinct_counts": ORACLE_DISTINCT,
        "quantiles": ORACLE_QUANTILES,
        "union_by_name": ORACLE_UNION,
        "anti_join_customers": ORACLE_ANTI,
        "window_funcs": ORACLE_WINDOW.format(sql_t1=SQL_T1, sql_t2=SQL_T2),
        "month_arithmetic": ORACLE_MONTH_ARITH,
        "sql_surface": SQL_SURFACE_QUERY,
        "incremental_scan": ORACLE_INCREMENTAL,
        "tumbling_window": ORACLE_TUMBLING,
        "sliding_window": ORACLE_SLIDING,
        "sessionization": ORACLE_SESSIONIZATION,
        "event_dedup": ORACLE_EVENT_DEDUP,
        "parse_props": ORACLE_PARSE_PROPS,
        "summary_stats": ORACLE_SUMMARY,
        "join_distinct_dim": ORACLE_JOIN_DIM,
        "sample_portable": ORACLE_SAMPLE_PORTABLE,
        "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
        "salted_agg": ORACLE_SALTED_AGG,
        "token_counts": ORACLE_TOKEN_COUNTS,
        "exact_dedup": ORACLE_EXACT_DEDUP,
        "ngram_jaccard": ORACLE_NGRAM_JACCARD,
        "minhash_dedup": ORACLE_MINHASH,
        "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
        "simhash_dedup": ORACLE_SIMHASH,
        "text_stats": ORACLE_TEXT_STATS,
        "quality_score": ORACLE_QUALITY,
        "cosine_topk": ORACLE_COSINE_TOPK,
        "ann_topk": ORACLE_ANN_TOPK,
        "ivf_topk": ORACLE_IVF_TOPK,
        "embedding_near_dups": ORACLE_EMB_NEARDUP,
        "multimodal_extract": ORACLE_MULTIMODAL,
    }
