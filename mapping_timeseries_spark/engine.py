"""Top-level engine API, mirroring the reference's public surface.

``map_tables`` / ``map_tables_simple`` correspond to
``GenericMappingEngine.map_tables`` (mapping_engine.py:458-591) and
``map_tables_simple`` (mapping_engine.py:761-805): validate -> canonicalize
-> merge -> method dispatch -> metadata stamp.

Differences from the reference, by design (SURVEY §4):

- no eager ``.count()`` progress actions — stats come from one
  materialization via ``df.observe`` when the caller wants them;
- no fixed ``repartition(200)`` before per-entity work — the groupBy/window
  shuffle partitions by entity already, AQE sizes it;
- auto mode computes the correlation grid ONCE and routes on it, instead of
  re-running the correlation UDF on the simple segment
  (reference double-compute at mapping_engine.py:711-719).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import AUTO_SIMPLE_THRESHOLD, MappingConfig
from .operators.canonicalize import KEY, VALUE1, VALUE2, canonicalize
from .operators.correlation import best_lag_correlation
from .operators.dtw import build_dtw_mappings
from .operators.lag_join import build_correlation_mappings
from .operators.merge import merge_series

__all__ = ["MappingConfig", "map_tables", "map_tables_simple"]


def map_tables(
    table1: DataFrame,
    table2: DataFrame,
    key_col: str,
    time_col: str,
    value1_col: str,
    value2_col: str,
    config: MappingConfig | None = None,
    stamp_processed_at: bool = True,
) -> DataFrame:
    """Map two long-format time-series tables; returns the mapping table.

    Output schema (README.md:165-178): ``cus_code, time1, value1, time2,
    value2, lag_offset:int?, method, correlation?|dtw_cost?,
    processed_at:timestamp``.
    """
    cfg = config or MappingConfig()
    # reference-parity knob (mapping_engine.py:78), expressed as a
    # QUERY-SCOPED join-strategy policy instead of mutating the shared
    # session conf (which would leak into every subsequent job on the
    # session — config.py's contract is that the engine never touches
    # live session conf). The realistic non-default is <= 0 ("forbid
    # broadcast" at 10^10-entity scale, where a forced broadcast of the
    # per-entity dim would OOM the driver): that maps exactly onto a
    # SHUFFLE_MERGE hint on the dim side of the lag join, which Catalyst
    # honors over the threshold for just this plan. Positive non-default
    # byte values cannot be expressed as a hint; callers who need one
    # should set autoBroadcastJoinThreshold at session-builder time
    # (mapping_timeseries_spark.session).
    forbid_broadcast = cfg.broadcast_threshold <= 0
    t1 = canonicalize(table1, key_col, time_col, value1_col, VALUE1, "table1")
    t2 = canonicalize(table2, key_col, time_col, value2_col, VALUE2, "table2")
    if cfg.method != "dtw":
        # correlation/auto consume each canonical series twice: once
        # through the merged frame feeding the correlation grid, once as
        # a side of the lag join. The reuse point is
        # ONE hash exchange on the entity key, not a persist — a cold
        # persist is materialized CONCURRENTLY by every consumer's
        # first stage (duplicate upstream scans, "Block already exists"
        # races, profiled in the qa/bm25 legs), while an exchange is
        # planned once and its shuffle files are read by all consumers;
        # downstream per-entity windows/joins/groupBys reuse the same
        # partitioning (the entity key is a subset of the merge-join
        # key, which co-partitions the join under the default subset
        # rule). Same-session interleaved A/B at sf0.1, results
        # identical: corr leg median 3.24->3.00 s, auto leg 3.76->2.88 s
        # (artifacts/r13_shape_ab_results.json); no executor memory pinned, no
        # clearCache contract for long-lived sessions.
        t1 = t1.repartition(F.col(KEY))
        t2 = t2.repartition(F.col(KEY))
    # AQE sizes the per-entity stages; the reference's fixed
    # repartition(200, key) (mapping_engine.py:530-531) right before a
    # groupBy would be a redundant extra shuffle (SURVEY §4)
    merged = merge_series(t1, t2)

    if cfg.method == "correlation":
        corr = best_lag_correlation(merged, cfg.max_lag)
        result = build_correlation_mappings(
            t1, t2, corr, cfg.min_correlation,
            forbid_broadcast=forbid_broadcast,
        )
    elif cfg.method == "dtw":
        result = build_dtw_mappings(merged, cfg.window_size, cfg.normalize)
    else:  # auto — one correlation pass, route entities on it
        # same exchange-as-reuse-point trick as t1/t2 above: merged
        # feeds the corr grid AND the DTW semi-join; one KEY exchange
        # computes the merge join exactly once. The measured winner is
        # gating merged AND corr with NO caches (shape D in
        # artifacts/r13_shape_ab_results.json: 3.76 -> 2.88 s median);
        # mixing gates with caches was the worst shape (4.62 s).
        merged = merged.repartition(F.col(KEY))
        # corr's subtree is the whole correlation-grid window stack,
        # consumed twice (simple/complex routing split) — the gate
        # dedupes it for the cost of an entity-sized exchange
        corr = best_lag_correlation(merged, cfg.max_lag).repartition(
            F.col(KEY)
        )
        # the routing split is the MAX of the auto threshold and the
        # caller's min_correlation: with min_correlation > 0.7, an
        # entity in [0.7, min_correlation) would otherwise route to the
        # correlation branch, be filtered there, and never reach DTW —
        # silently vanishing from the output with no route at all
        split = max(AUTO_SIMPLE_THRESHOLD, cfg.min_correlation)
        simple = corr.where(F.col("correlation") >= split)
        complex_keys = corr.where(
            F.col("correlation") < split
        ).select("cus_code")
        corr_part = build_correlation_mappings(
            t1, t2, simple, cfg.min_correlation,
            forbid_broadcast=forbid_broadcast,
        )
        if forbid_broadcast:
            complex_keys = complex_keys.hint("shuffle_merge")
        dtw_part = build_dtw_mappings(
            merged.join(complex_keys, on="cus_code", how="left_semi"),
            cfg.window_size,
            cfg.normalize,
        )
        result = corr_part.unionByName(dtw_part, allowMissingColumns=True)

    if stamp_processed_at:
        result = result.withColumn("processed_at", F.current_timestamp())
    return result


def map_tables_simple(
    spark,
    table1: DataFrame,
    table2: DataFrame,
    key_col: str,
    time_col: str,
    value1_col: str,
    value2_col: str,
    method: str = "auto",
    max_lag: int = 6,
) -> DataFrame:
    """Simplified interface (mapping_engine.py:761-805)."""
    del spark  # kept for signature parity with the reference
    return map_tables(
        table1,
        table2,
        key_col,
        time_col,
        value1_col,
        value2_col,
        MappingConfig(method=method, max_lag=max_lag),
    )
