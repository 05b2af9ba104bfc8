"""Production pipeline shell (SURVEY §3.2, 05_prod_dev.py:769-982).

validate -> route (saved recommendations, lag-1 fallback) -> map -> QA ->
partitioned write -> run metadata. Differences from the reference, by
design:

- single-pass validation/QA (operators/quality.py) instead of an action
  per metric;
- segment routing computed once (operators/recommend.route_entities)
  instead of three filtered frames each forced with .count();
- QA runs once, on what the close wrote (the staged snapshot or the
  sink read back), and its one collect also gives the mapping count;
- results unioned by NAME (reference uses positional union,
  05_prod_dev.py:417-421 — a silent-corruption hazard the engine rejects).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MappingConfig
from ..materialize import scoped_checkpoint
from ..operators.canonicalize import KEY, VALUE1, VALUE2, canonicalize
from ..operators.correlation import best_lag_correlation
from ..operators.dtw import build_dtw_mappings
from ..operators.lag_join import build_correlation_mappings
from ..operators.merge import merge_series
from ..operators.monitoring import Alert, check_sla
from ..operators.quality import qa_report
from ..operators.recommend import route_entities
from ..sources.writers import write_partitioned, write_run_metadata

__all__ = [
    "PipelineResult",
    "run_pipeline",
    "run_incremental",
]


@dataclass
class PipelineResult:
    mapped: DataFrame
    qa: dict[str, Any]
    stats: dict[str, Any] = field(default_factory=dict)
    alerts: list[Alert] = field(default_factory=list)


def _mappings_for_route(
    t1: DataFrame,
    t2: DataFrame,
    merged: DataFrame,
    routed: DataFrame,
    cfg: MappingConfig,
) -> DataFrame:
    """Build per-route mappings and union by name.

    Correlation-routed and fallback entities carry their (model or default)
    lag; DTW-routed entities run the aligner. The routed lag join reuses
    build_correlation_mappings by shaping routed rows as a correlations
    frame with a passing score.
    """
    forbid_broadcast = cfg.broadcast_threshold <= 0
    corr_like = routed.where(F.col("route").isin("correlation", "default")).select(
        KEY,
        "optimal_lag",
        # routed lags are applied unconditionally (the model already
        # decided); inject a sentinel score above any threshold
        F.lit(1.0).alias("correlation"),
    )
    corr_part = build_correlation_mappings(
        t1, t2, corr_like, min_correlation=0.0,
        forbid_broadcast=forbid_broadcast,
    )
    corr_part = corr_part.drop("correlation").join(
        routed.select(KEY, F.col("route")), on=KEY, how="left"
    ).select(
        KEY,
        "time1",
        "value1",
        "time2",
        "value2",
        "lag_offset",
        F.when(F.col("route") == "default", "correlation_default")
        .otherwise("correlation")
        .alias("method"),
    )

    dtw_keys = routed.where(F.col("route") == "dtw").select(KEY)
    if forbid_broadcast:
        dtw_keys = dtw_keys.hint("shuffle_merge")
    dtw_part = build_dtw_mappings(
        merged.join(dtw_keys, on=KEY, how="left_semi"),
        cfg.window_size,
        cfg.normalize,
    ).select(KEY, "time1", "value1", "time2", "value2", "lag_offset", "method")

    return corr_part.unionByName(dtw_part)


def run_pipeline(
    spark,
    table1: DataFrame,
    table2: DataFrame,
    recommendations: DataFrame | None,
    key_col: str,
    time_col: str,
    value1_col: str,
    value2_col: str,
    output_path: str | None = None,
    config: MappingConfig | None = None,
    run_id: str | None = None,
    on_alert: Any = None,
    versioned_root: str | None = None,
    model: DataFrame | None = None,
) -> PipelineResult:
    """End-to-end production run. With ``recommendations=None`` the model
    is trained inline (best-lag correlation over the merged frame), which
    is the research-flow bootstrap; passing ``model`` (a
    best_lag_correlation-shaped frame, e.g. from
    ``plans.incremental.model_from_state``) skips the inline training —
    the stateful incremental mode's hook.

    SLA gates (operators.monitoring.check_sla) run on the stats and the
    resulting alerts are returned on the result (and pushed to ``on_alert``
    if given). On ANY exception the failure path (05_prod_dev.py:963-982)
    emits a CRITICAL alert and writes ``error_{run_id}.log`` under
    ``output_path``, then re-raises — a library surfaces the error, unlike
    the reference's swallow-and-return-False.

    ``versioned_root``: two-phase QA-gated publish of the mapping table
    as a snapshot version (sources.versioned) — the reference's manual
    RESTORE runbook (05_prod_dev.py:1163-1191) as pipeline behavior,
    strengthened: the snapshot is STAGED (pointer untouched), QA runs on
    the staged data, and the pointer flips only on pass. A failing run's
    snapshot stays on disk for forensics (`stats["written_version"]`)
    while readers keep the previous version (`stats["published_version"]`
    — None if no run has ever passed), with no transient window where a
    failed table is live (publish-then-rollback had one, and left a
    FAILED FIRST run published). When ``output_path`` is ALSO set, the
    partitioned mappings sink under it is gated by the same QA pass —
    the "readers never consume a QA-failed table" guarantee covers both
    sinks, not just the version pointer; that second sink is written
    from the staged snapshot.

    QA reads what the close wrote, never a pinned copy of the mapping:
    the staged snapshot when ``versioned_root`` is set, else the
    ``output_path`` mappings sink read back with the mapping's schema
    (so an empty run still reads as zero rows), else, with no sink, the
    lazy mapping frame itself, so a sinkless run is one action.
    ``stats["total_mappings"]`` is QA's row count.

    Lineage cut: on both closes the entity-sized table the mapping
    build reads (the inline-trained model, or the routing table) is
    materialized with an eager ``localCheckpoint`` first, so the final
    mapping action does not also hold the training exchanges. A
    caller-supplied ``model`` is used as given. The caller's scope owns
    the checkpoints (:mod:`mapping_timeseries_spark.materialize`), so
    ``result.mapped`` stays consumable after this returns and there is
    no scratch directory to clean up.

    ``config.broadcast_threshold <= 0`` pins sort-merge joins against
    the entity table (the lag joins, and the routed close's DTW
    semi-join) with a query-scoped hint, as ``engine.map_tables`` does;
    the session conf is never touched.
    """
    cfg = config or MappingConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    if model is not None and recommendations is not None:
        # the model hook exists to REPLACE inline training on the
        # no-recommendations path; with recommendations given the
        # routing would silently win and the model be ignored — make
        # the ambiguity a loud error instead
        raise ValueError(
            "pass either a recommendations routing table or a "
            "pre-trained model, not both"
        )
    try:
        return _run_pipeline_body(
            table1, table2, recommendations, key_col, time_col,
            value1_col, value2_col, output_path, cfg, run_id, on_alert,
            versioned_root, model,
        )
    except Exception as exc:  # noqa: BLE001 — failure path mirrors reference
        import traceback

        alert = Alert(
            "CRITICAL",
            "pipeline_failed",
            f"Pipeline Failed - {run_id}",
            f"Error: {exc}\n\n{traceback.format_exc()}",
        )
        if on_alert is not None:
            on_alert(alert)
        if output_path:
            os.makedirs(output_path, exist_ok=True)
            with open(
                os.path.join(output_path, f"error_{run_id}.log"), "w"
            ) as fh:
                fh.write(alert.message)
        raise


def _run_pipeline_body(
    table1: DataFrame,
    table2: DataFrame,
    recommendations: DataFrame | None,
    key_col: str,
    time_col: str,
    value1_col: str,
    value2_col: str,
    output_path: str | None,
    cfg: MappingConfig,
    run_id: str,
    on_alert: Any,
    versioned_root: str | None = None,
    model: DataFrame | None = None,
) -> PipelineResult:
    t_start = time.time()

    t1 = canonicalize(table1, key_col, time_col, value1_col, VALUE1, "table1")
    t2 = canonicalize(table2, key_col, time_col, value2_col, VALUE2, "table2")
    merged = merge_series(t1, t2)

    route_counts: dict[str, int] | None = None
    entities = t1  # QA's coverage denominator
    if recommendations is None:
        # a caller-supplied model (stateful incremental: full-history
        # best lags finished from persisted moment state) replaces the
        # inline training pass — the slice is only APPLIED, never
        # trained on (training on one month's slice is the reference
        # behavior SURVEY §4 flags as meaningless)
        if model is not None:
            corr = model
        else:
            # the cut detaches the corr-grid window stack from the
            # mapping action: uncut, that one action holds the training
            # exchanges and the lag joins' at once (the routed entry
            # twin at 1000x peaked at 30-44 GB of shuffle scratch uncut,
            # 20.9 GB with its entity table cut by a parquet stage;
            # artifacts/mapping_1000x_gate.json). result.mapped reads
            # these blocks lazily, so the caller's scope owns them.
            corr = scoped_checkpoint(best_lag_correlation(merged, cfg.max_lag))
        mapped = build_correlation_mappings(
            t1, t2, corr, cfg.min_correlation,
            forbid_broadcast=cfg.broadcast_threshold <= 0,
        ).select(
            KEY, "time1", "value1", "time2", "value2", "lag_offset", "method"
        )
    else:
        # same cut as the inline close: the route counts below, the
        # three routed consumers and QA read the checkpoint instead of
        # each recomputing the routing join. It holds exactly the
        # distinct table1 entities, so QA counts them without a rescan.
        routed = scoped_checkpoint(
            route_entities(t1.select(KEY).distinct(), recommendations)
        )
        entities = routed
        # one tiny agg over the per-entity routed frame: the
        # manual_review bucket produces ZERO mapping rows by design, and
        # an unexplained coverage dip is the alternative to counting it
        route_counts = {
            r["route"]: r["n"]
            for r in routed.groupBy("route")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        mapped = _mappings_for_route(t1, t2, merged, routed, cfg)

    mapped = mapped.withColumn("pipeline_run_id", F.lit(run_id)).withColumn(
        "processed_at", F.current_timestamp()
    )

    # QA reads what the close wrote: the staged snapshot, else the
    # partitioned sink read back (the explicit schema lets an empty sink
    # be read), else the lazy mapping itself. So the mapping is computed
    # once, by the first sink, with no pin: a pin would hold a full copy
    # of the output in executor storage.
    spark = mapped.sparkSession
    sink = os.path.join(output_path, "mappings") if output_path else None
    if versioned_root:
        from ..sources.versioned import (
            publish_version,
            read_versioned,
            write_versioned,
        )

        # two-phase publish: STAGE the snapshot (pointer untouched), QA
        # the staged data, publish only on pass — readers never see a
        # QA-failed table, not even transiently, and a FIRST run that
        # fails QA leaves the table unpublished instead of live
        # (a publish-then-rollback flow has both holes)
        written_version = write_versioned(
            mapped, versioned_root, note=f"pipeline run {run_id}",
            publish=False,
        )
        staged = read_versioned(spark, versioned_root, version=written_version)
    elif sink:
        write_partitioned(mapped, sink, "time1", cluster_by=(KEY, "time2"))
        staged = spark.read.schema(mapped.schema).parquet(sink)
    else:
        staged = mapped

    qa = qa_report(staged, entities)
    total_mappings = qa["checks"]["duplicates"]["total_mappings"]
    if versioned_root and qa["passed"]:
        if sink:
            # both sinks requested: in the versioned (QA-gated) flow the
            # partitioned path that feeds read_incremental consumers is
            # gated the same way as the pointer flip — a QA-failed run
            # must not expose data through EITHER sink (the staged
            # snapshot stays on disk for forensics; the plain
            # output_path-only branch above remains ungated by design,
            # matching the reference's batch path). Written from the
            # staged snapshot, and ordered BEFORE the pointer flip: the
            # flip is the one atomic step, so it goes last — a crash
            # mid-partitioned-write leaves versioned readers on the
            # previous version instead of publishing a run whose second
            # sink is torn.
            write_partitioned(staged, sink, "time1", cluster_by=(KEY, "time2"))
        publish_version(versioned_root, written_version)
    duration = time.time() - t_start

    # SLA gates (05_prod_dev.py:703-745) via the structured monitor
    sla_met, alerts = check_sla(
        {
            "coverage_pct": qa["checks"]["coverage"]["coverage_pct"],
            "duration_seconds": duration,
            "total_mappings": total_mappings,
        }
    )
    if on_alert is not None:
        for alert in alerts:
            on_alert(alert)
    stats = {
        "pipeline_run_id": run_id,
        "total_mappings": total_mappings,
        "duration_seconds": round(duration, 3),
        "qa_passed": qa["passed"],
        "sla_met": sla_met,
        # keyed off the machine-readable Alert.code, never subject text
        "sla_coverage_ok": not any(a.code == "low_coverage" for a in alerts),
        "sla_duration_ok": not any(a.code == "long_duration" for a in alerts),
        "sla_nonempty_ok": not any(a.code == "empty_output" for a in alerts),
    }
    if route_counts is not None:
        stats["route_counts"] = route_counts
    if versioned_root:
        from ..sources.versioned import current_version

        stats["written_version"] = written_version
        stats["published_version"] = current_version(versioned_root)
    if output_path:
        write_run_metadata(
            os.path.join(output_path, f"run_{run_id}.json"),
            {"stats": stats, "qa": qa},
        )
    return PipelineResult(mapped=mapped, qa=qa, stats=stats, alerts=alerts)


def run_incremental(
    spark,
    table1_path: str,
    table2_path: str,
    recommendations: DataFrame | None,
    key_col: str,
    time_col: str,
    value1_col: str,
    value2_col: str,
    start: str,
    end: str,
    state_root: str | None = None,
    **kwargs,
) -> PipelineResult:
    """Incremental date-range run (05_prod_dev.py:1054-1101): re-run the
    batch pipeline over the [start, end] slice of table1 and the
    [start, end + max_lag] slice of table2.

    ``state_root``: stateful mode (plans/incremental.py). The persisted
    moment/tail/entity state — initialized once from full history via
    ``init_corr_state`` — is advanced with the new slice, and the
    full-history model finished from state replaces the slice-trained
    inline model. The job's history-side input is O(entities x max_lag)
    state rows instead of a full re-scan, and the model quality equals
    the batch pipeline's full-history training (the reference's
    incremental mode trains on the slice alone — a lag model with no
    lag reach). Requires an initialized state; raises otherwise.

    The range predicates land in the parquet scans (min/max row-group
    skip; partition pruning when the inputs are partitioned by the time
    column), so an incremental month touches O(selected months) of input
    — the reference's approach, minus its unused checkpoint path.

    The t2 slice reaches ``max_lag`` months PAST ``end`` because the lag
    join maps time1 -> time1 + optimal_lag: an entity with lag 2 in a
    single-month run needs t2 rows two months ahead, and slicing both
    tables to the same range would silently produce zero mappings for
    every entity whose lag exceeds (end - start) — unrecoverable by any
    later run, since the run covering those t2 months excludes the t1
    month. (Backward reach needs no widening: the model trains on full
    history; the slice only applies it.)
    """
    from ..functions.dates import month_add
    from ..sources.readers import read_incremental

    cfg = kwargs.get("config") or MappingConfig()
    t1 = read_incremental(spark, table1_path, time_col, start, end)
    t2 = read_incremental(
        spark, table2_path, time_col, start, month_add(end, cfg.max_lag)
    )
    model = None
    if state_root is not None:
        from .incremental import advance_corr_state, model_from_state

        # advance_corr_state refuses a state_root init_corr_state never
        # initialized
        c1 = canonicalize(t1, key_col, time_col, value1_col, VALUE1, "table1")
        c2 = canonicalize(t2, key_col, time_col, value2_col, VALUE2, "table2")
        advance_corr_state(spark, state_root, merge_series(c1, c2))
        # with a recommendations routing table the routed flow drives
        # the mappings (run_pipeline rejects model+recommendations as
        # ambiguous); the state still advanced above so it stays
        # current for future model-driven runs
        if recommendations is None:
            model = model_from_state(spark, state_root)
    return run_pipeline(
        spark, t1, t2, recommendations,
        key_col, time_col, value1_col, value2_col, model=model, **kwargs,
    )
