"""Method comparison, recommendation model, and production routing
(SURVEY §2.3 J8, §2.2 P9/P6, §3.3).

The research flow (04_comparision.py) joins correlation and DTW summaries
per entity and derives a routing table ("the model"); the production
pipeline (05_prod_dev.py:330-451) re-loads it and routes each entity to a
method, with a lag-1 correlation fallback for entities the model has never
seen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import scoped_checkpoint
from .canonicalize import KEY

__all__ = [
    "compare_methods",
    "method_agreement",
    "recommendation_table",
    "route_entities",
    "CORRELATION_METHODS",
]

#: recommended_method values routed to the correlation path
#: (05_prod_dev.py:369-371).
CORRELATION_METHODS = (
    "Correlation",
    "Either (prefer Correlation for simplicity)",
)


def compare_methods(corr_results: DataFrame, dtw_results: DataFrame) -> DataFrame:
    """Inner-join per-entity correlation and DTW summaries
    (04_comparision.py:45-56).

    dtw_results needs (cus_code, total_cost, num_mappings); adds
    avg_distance = total_cost / num_mappings (03_dtw_mapping.py variant).
    """
    return (
        corr_results.select(KEY, "correlation", "optimal_lag")
        .join(
            dtw_results.select(
                KEY,
                "total_cost",
                "num_mappings",
                (F.col("total_cost") / F.col("num_mappings")).alias("avg_distance"),
            ),
            on=KEY,
            how="inner",
        )
    )


def _range_offsets(
    df: DataFrame,
    order: list[Column],
    weight: Column,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Range partitions of ``df`` on ``order`` and each partition's
    global offset: the two-phase skeleton of a distributed running total
    (:func:`avg_rank_distributed`, ``packing._ordered_token_offsets``).

    Returns ``(r, offsets)``. ``r`` is ``df`` range-partitioned into
    ``num_partitions`` (default: the session's shuffle partitions) and
    stamped with ``__pid``; ``offsets`` is ``(__pid, __off)``, where
    ``__off`` is the sum of the aggregate ``weight`` over every lower
    ``__pid`` (bigint, 0 for the first). Callers compute their local
    running value per ``__pid`` window over ``r`` and add ``__off``.

    ``r`` is an eager ``localCheckpoint``: it feeds both the caller's
    local branch and the offsets branch, and without materialization
    those two branches can re-execute the range exchange independently
    (exchange reuse off, AQE replan, eviction). RangePartitioner
    boundaries come from sampling, so the two evaluations could assign
    different ``__pid``s and the offsets would be added to values from
    a DIFFERENT partitioning: silently wrong totals. Checkpointing makes
    ``__pid`` a fact, not a plan. The caller's scope owns the checkpoint
    (:mod:`mapping_timeseries_spark.materialize`).

    The offsets are a triangular broadcast self-join over the
    ``num_partitions``-row totals frame (P² pairs — trivial), not a
    global window: a window would be a real single-partition WindowExec
    (a foldable ``partitionBy(lit)`` is optimized away).
    """
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    r = scoped_checkpoint(
        df.repartitionByRange(num_partitions, *order).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    totals = r.groupBy("__pid").agg(weight.alias("__n"))
    prior = totals.select(
        F.col("__pid").alias("__ppid"), F.col("__n").alias("__pn")
    )
    offsets = (
        totals.join(
            F.broadcast(prior), F.col("__ppid") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__pn"), F.lit(0)).cast("bigint").alias("__off"))
    )
    return r, offsets


def avg_rank_distributed(
    df: DataFrame, col: str, out_col: str, num_partitions: int | None = None
) -> DataFrame:
    """Average-tie (fractional) rank of ``col`` — scipy.stats.spearmanr's
    convention, min-rank + (tie_count - 1)/2 — WITHOUT the
    single-partition global window a bare ``rank().over(orderBy(col))``
    plans (WindowExec "No Partition Defined" moves every row to one
    task — a straggler/OOM at 1e10 entities).

    Classic two-phase distributed ranking as DataFrame ops:

    1. ``repartitionByRange(P, col)`` — value-ordered partitions; equal
       values land in ONE partition (range boundaries split between
       distinct keys), so tie groups never straddle partitions;
    2. rank + tie count inside each partition (window partitioned by
       ``spark_partition_id()`` — bounded by partition size);
    3. global offset = cumulative row count of the lower partitions
       (:func:`_range_offsets`), broadcast back.

    avg_rank = offset + local_min_rank + (ties-1)/2, identical values to
    the single-window formulation (engine-portable: exact half-integers).
    """
    r, offsets = _range_offsets(
        df, [F.col(col)], F.count(F.lit(1)), num_partitions
    )
    w_rank = Window.partitionBy("__pid").orderBy(col)
    w_ties = Window.partitionBy("__pid", col)
    local = r.withColumn("__lrank", F.rank().over(w_rank)).withColumn(
        "__ties", F.count(F.lit(1)).over(w_ties)
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col,
            F.col("__off")
            + F.col("__lrank")
            + (F.col("__ties") - F.lit(1)) / F.lit(2.0),
        )
        .drop("__pid", "__lrank", "__ties", "__off")
    )


def method_agreement(
    comparison: DataFrame, lattice_dp: int | None = None
) -> DataFrame:
    """One-row cross-method agreement statistics (04_comparision.py:61-88).

    The reference collects the comparison frame to pandas and runs
    scipy.stats ``pearsonr``/``spearmanr`` on the driver; here both
    coefficients are native aggregates — Pearson via ``corr``, Spearman as
    Pearson over average-tie ranks built from ``rank()``/``count()``
    windows — so the plan stays distributed and DuckDB-hash-gatable.
    (Two-sided p-values are the one driver-side scipy piece we do not
    reproduce here; the Student-t machinery lives in
    functions.stats.lag_grid_with_pvalues, D2.)

    Scale note: the ranks use :func:`avg_rank_distributed` — range
    partitioned two-phase ranking, so no single-partition WindowExec
    anywhere even at full entity count; the input is already the
    per-entity summary (one row per entity), not fact rows. The negative
    ``pearson_corr_cost`` expectation ("high correlation = low DTW cost")
    is the reference's method-agreement check.

    ``lattice_dp``: when the comparison columns are pre-rounded to
    ``lattice_dp`` decimals (the oracle-gated driver query's setup), EVERY
    statistic switches to exact-integer-moment form: means via
    correlation._lattice_mean_rounded, stddevs via _int_moments_std, and
    both Pearson coefficients via _int_pearson — the sums are exact
    integers (int64 / decimal-38), so both engines round the same integer
    to the same double and the trailing scalar IEEE sequence is identical
    token for token. Plain float aggregates otherwise (whose accumulation
    order is engine-private and run-to-run nondeterministic on a cluster).
    """
    from .correlation import (
        _int_moments_std,
        _int_pearson,
        _lattice_mean_rounded,
    )

    # `is not None`, never truthiness: lattice_dp=0 (round to whole
    # units) is a valid lattice and must take the portable path — the
    # same trap monitoring_summary already guards against
    if lattice_dp is not None:
        if lattice_dp < 0:
            raise ValueError(f"lattice_dp must be >= 0, got {lattice_dp}")
        scale = 10**lattice_dp
        k_corr = F.round(F.col("correlation") * scale).cast("bigint")
        k_cost = F.round(F.col("total_cost") * scale).cast("bigint")
        avg_corr = _lattice_mean_rounded("correlation", scale, lattice_dp)
        avg_cost = _lattice_mean_rounded("total_cost", scale, lattice_dp)
        avg_lag = _lattice_mean_rounded("optimal_lag", 1, lattice_dp)
        avg_map = _lattice_mean_rounded("num_mappings", 1, lattice_dp)
        std_corr = _int_moments_std(k_corr, scale)
        std_cost = _int_moments_std(k_cost, scale)
        pearson = _int_pearson(k_corr, k_cost)
        # avg-tie ranks are half-integers, so 2r is an exact bigint;
        # Pearson is scale-invariant, so the factor 2 divides out
        spearman = _int_pearson(
            (F.col("__r_corr") * 2).cast("bigint"),
            (F.col("__r_cost") * 2).cast("bigint"),
        )
    else:
        avg_corr = F.avg("correlation")
        avg_cost = F.avg("total_cost")
        avg_lag = F.avg("optimal_lag")
        avg_map = F.avg("num_mappings")
        std_corr = F.stddev("correlation")
        std_cost = F.stddev("total_cost")
        pearson = F.corr("correlation", "total_cost")
        spearman = F.corr("__r_corr", "__r_cost")
    # the rank passes materialize their input via avg_rank_distributed's
    # localCheckpoint (required for __pid determinism — see there), which
    # doubles as the reuse barrier here: the upstream comparison pipeline
    # (correlation + DTW mapInPandas) is computed exactly once into the
    # first checkpoint instead of re-running per plan branch (previously
    # measured 10 MapInPandas / 68 scans uncached vs 2 / 18).
    ranked = comparison.select(
        "correlation", "optimal_lag", "total_cost", "num_mappings"
    )
    ranked = avg_rank_distributed(ranked, "correlation", "__r_corr")
    ranked = avg_rank_distributed(ranked, "total_cost", "__r_cost")
    return ranked.agg(
        F.count(F.lit(1)).alias("total_customers"),
        avg_corr.alias("avg_correlation"),
        std_corr.alias("std_correlation"),
        avg_cost.alias("avg_dtw_cost"),
        std_cost.alias("std_dtw_cost"),
        avg_lag.alias("avg_lag"),
        avg_map.alias("avg_dtw_mappings"),
        pearson.alias("pearson_corr_cost"),
        spearman.alias("spearman_corr_cost"),
    )


def recommendation_table(comparison: DataFrame) -> DataFrame:
    """Per-entity routing model (04_comparision.py:243-287).

    Thresholds and strings are the reference's verbatim — they ARE the
    model contract consumed by the production pipeline.
    """
    c = F.col("correlation")
    cost = F.col("total_cost")
    return comparison.select(
        KEY,
        "correlation",
        "optimal_lag",
        "total_cost",
        F.when((c >= 0.7) & (F.col("optimal_lag") <= 2), "Correlation")
        .when((c >= 0.5) & (cost <= 10), "Either (prefer Correlation for simplicity)")
        .when(cost <= 15, "DTW")
        .otherwise("Complex - Manual Review")
        .alias("recommended_method"),
        F.when((c >= 0.8) | (cost <= 5), "High")
        .when((c >= 0.5) | (cost <= 15), "Medium")
        .otherwise("Low")
        .alias("confidence"),
        F.when(c >= 0.7, "High correlation with simple lag pattern")
        .when(cost <= 10, "Low DTW cost indicates good alignment")
        .when(
            (c < 0.3) & (cost > 20),
            "Both methods show poor fit - investigate data quality",
        )
        .otherwise("Moderate fit - consider business context")
        .alias("reason"),
    )


def route_entities(
    input_entities: DataFrame, recommendations: DataFrame
) -> DataFrame:
    """Production routing (05_prod_dev.py:358-414): left-join the model and
    assign each entity a route.

    Output: ``cus_code, route, optimal_lag`` with route one of
    ``'correlation' | 'dtw' | 'default' | 'manual_review'`` — ``default``
    is the no-recommendation fallback with lag fixed to 1
    (05_prod_dev.py:409-411); ``manual_review`` is any recommendation
    outside the known methods (e.g. 'Complex - Manual Review'), which
    the mapping stage deliberately EXCLUDES from output — callers must
    surface its count (run_pipeline reports ``stats["route_counts"]``)
    rather than let coverage dip unexplained. The reference materializes
    three filtered DataFrames + counts; we emit one routed frame (single
    pass) that callers split with cheap filters.
    """
    joined = input_entities.select(KEY).join(
        recommendations.select(KEY, "recommended_method", "optimal_lag"),
        on=KEY,
        how="left",
    )
    return joined.select(
        KEY,
        F.when(
            F.col("recommended_method").isin(*CORRELATION_METHODS), "correlation"
        )
        .when(F.col("recommended_method") == "DTW", "dtw")
        .when(F.col("recommended_method").isNull(), "default")
        .otherwise("manual_review")
        .alias("route"),
        F.when(F.col("recommended_method").isNull(), F.lit(1))
        .otherwise(F.col("optimal_lag"))
        .cast("int")
        .alias("optimal_lag"),
    )
