"""Lag join and mapping construction (SURVEY §2.3 J2/J3/J4).

Given per-entity (optimal_lag, correlation), build the mapping table by
joining table1 rows to table2 rows at ``month + optimal_lag``. The lag is a
per-row column, so this is an equi-join on a *computed* key
(``date_format(add_months(to_date(t.month), t.optimal_lag), 'yyyy-MM')``),
exactly the reference's construction (mapping_engine.py:616-644) — Catalyst
evaluates the projection and then plans a plain hash/sort-merge join; no
range-join machinery needed because the lag is exact.

Scale notes
-----------
The per-entity dimension (one row per entity: lag + correlation) is small
*relative* to the fact tables, but broadcast cost is absolute: at the
100 TB north star (~10^10 entities) forcing a broadcast would OOM the
driver. So no explicit hint here — AQE measures the actual exchange size
at runtime and converts to broadcast exactly when the dim fits under
``spark.sql.autoBroadcastJoinThreshold`` (verified in tools/audit_plans.py:
sf0.1 plan shows AQE's BroadcastHashJoin; with the threshold at -1 it
stays a sort-merge join). The reference's two hinted joins
(mapping_engine.py:617,641) are also fused into ONE join attaching both
columns, halving the passes. The t1-to-t2 join shuffles on
(cus_code, shifted_month) — co-partitioned with the scan only if inputs
are bucketed; at 100 TB this is the dominant shuffle and is skew-safe
because keys are (entity, month) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dates import shift_month
from .canonicalize import KEY, TIME, VALUE1, VALUE2

__all__ = ["build_correlation_mappings"]


def build_correlation_mappings(
    table1: DataFrame,
    table2: DataFrame,
    correlations: DataFrame,
    min_correlation: float = 0.3,
    forbid_broadcast: bool = False,
) -> DataFrame:
    """Mapping table for the correlation method.

    Parameters mirror the reference's ``_apply_correlation_mapping``
    (mapping_engine.py:593-646): canonical t1 (cus_code, month, txn_amount),
    canonical t2 (cus_code, month, revenue), and the per-entity result of
    :func:`best_lag_correlation`.

    Broadcast policy: the dim-side join strategy is left to AQE, which
    converts to broadcast at runtime exactly when the filtered dim fits
    under ``autoBroadcastJoinThreshold`` — the safe default at 10^10
    entities where a forced broadcast (the reference's explicit hint,
    mapping_engine.py:617,641) would OOM the driver.
    ``forbid_broadcast=True`` pins a sort-merge join via a query-scoped
    SHUFFLE_MERGE hint (MappingConfig.broadcast_threshold <= 0 routes
    here) so "never broadcast this dim" needs no session conf mutation.

    Output schema (README.md:165-178): ``cus_code, time1, value1, time2,
    value2, lag_offset:int, method:'correlation', correlation:double``.
    """
    # the NaN guard matters for callers feeding RAW grid output: Spark
    # orders NaN greater than every numeric, so `NaN >= threshold` is
    # TRUE and constant-series entities (corr = NaN under non-ANSI
    # conf) would emit mapping rows the threshold was meant to exclude
    # (best_lag_correlation's sanitized output never carries NaN, so
    # the engine paths are unaffected)
    valid = correlations.where(
        (F.col("correlation") >= min_correlation)
        & ~F.isnan(F.col("correlation"))
    ).select(KEY, "optimal_lag", "correlation")
    if forbid_broadcast:
        # query-scoped "threshold <= 0": the SHUFFLE_MERGE hint pins a
        # sort-merge join for THIS plan without touching the shared
        # session's autoBroadcastJoinThreshold (engine.py routes
        # MappingConfig.broadcast_threshold <= 0 here)
        valid = valid.hint("shuffle_merge")
    t1 = table1.join(valid, on=KEY, how="inner").withColumn(
        "__month2", shift_month(F.col(TIME), F.col("optimal_lag"))
    )
    t2 = table2.select(
        F.col(KEY), F.col(TIME).alias("__month2"), F.col(VALUE2)
    )
    return t1.join(t2, on=[KEY, "__month2"], how="inner").select(
        KEY,
        F.col(TIME).alias("time1"),
        F.col(VALUE1).alias("value1"),
        F.col("__month2").alias("time2"),
        F.col(VALUE2).alias("value2"),
        F.col("optimal_lag").cast("int").alias("lag_offset"),
        F.lit("correlation").alias("method"),
        F.col("correlation"),
    )
