"""Stateful incremental correlation pipeline (reference §9,
05_prod_dev.py:1054-1101, upgraded).

The reference's ``run_incremental_pipeline`` re-trains the model on the
date slice alone — cheap, but a lag model trained on one month is
meaningless, and re-training on full history re-scans everything. This
module keeps the middle path the moment algebra in
``operators.correlation`` was built for: persist the per-(entity, lag)
sufficient statistics ``(n, sx, sy, sxx, syy, sxy)`` plus a
``max_lag``-row tail of the merged series, and on each month-append
advance the state from

    O(entities x max_lag  [tail] + new rows)

input rows — never the full history. The finished model (best lag +
correlation per entity over ALL history) is then applied to the new
slice only, via the same lag join the batch path uses.

State layout (each a versioned parquet table, sources.versioned)::

    state_root/
      moments/   (cus_code, lag, n, sx, sy, sxx, syy, sxy)
      tail/      last max_lag merged rows per entity
      entity/    (cus_code, num_months, sum_txn, sum_rev)
      _meta.json max_lag + months covered + the COMMITTED version of
                 each state table

Crash consistency: the three tables advance as a GROUP, so readers
resolve versions from ``_meta.json`` (one atomic ``os.replace``), never
from the per-table pointers. An advance stages all three snapshots
first and writes meta last — a crash anywhere before the meta write
leaves only orphaned staged snapshots, and the retried append (the
guard still sees the old ``through_month``) advances cleanly from the
old committed trio. Publishing the per-table pointers too (cosmetic,
for ad-hoc ``read_versioned`` browsing) would re-introduce a
torn-group window for pointer-readers, so the snapshots stay
pointer-unpublished by design.

Scale: every state table is O(entities x max_lag) rows — independent of
history length. The advance is two shuffles (delta state agg keyed
(entity, lag); tail recompute keyed entity); the model finish reuses the
moments' (entity, lag) partitioning for its window + join.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import dedup_cache_scope, scoped_pin
from ..operators.canonicalize import KEY, TIME
from ..operators.correlation import (
    corr_from_moments,
    corr_moment_state,
    corr_moments_delta,
    merge_moment_states,
)
from ..sources.index_store import write_json
from ..sources.versioned import read_versioned, write_versioned

__all__ = [
    "init_corr_state",
    "advance_corr_state",
    "model_from_state",
    "vacuum_corr_state",
]

_META = "_meta.json"


def _entity_state(merged: DataFrame) -> DataFrame:
    """Per-entity additive stats backing num_months/txn_mean/rev_mean in
    the model output (reference UDF fields, mapping_engine.py:257-264).
    Sums are additive across disjoint month sets, means are not — so the
    state carries sums and the finish divides."""
    return merged.groupBy(KEY).agg(
        F.count(F.lit(1)).alias("num_months"),
        F.sum("txn_amount").alias("sum_txn"),
        F.sum("revenue").alias("sum_rev"),
    )


def _tail(merged: DataFrame, max_lag: int) -> DataFrame:
    """Last ``max_lag`` rows per entity by month order — the only
    history rows whose lagged pairs can reach into a future append."""
    w = Window.partitionBy(KEY).orderBy(F.col(TIME).desc())
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_lag)
        .drop("__rn")
    )


def _read_meta(state_root: str) -> dict:
    path = os.path.join(state_root, _META)
    if not os.path.exists(path):
        raise ValueError(
            f"state_root {state_root!r} is not an initialized corr state — "
            "run plans.incremental.init_corr_state over full history "
            "first (the one-time backfill)"
        )
    with open(path) as fh:
        return json.load(fh)


def _write_meta(state_root: str, meta: dict) -> None:
    write_json(os.path.join(state_root, _META), meta, indent=1)


def _read_state(spark: SparkSession, state_root: str, meta: dict):
    """The committed state trio — resolved from meta's version map (the
    atomic commit point), never from per-table pointers."""
    v = meta["versions"]
    return tuple(
        read_versioned(
            spark, os.path.join(state_root, name), version=v[name]
        )
        for name in ("moments", "tail", "entity")
    )


def init_corr_state(
    merged: DataFrame, state_root: str, max_lag: int = 6
) -> dict:
    """Bootstrap the state from full history (one-time cost — the only
    full-history scan the stateful flow ever performs). Returns the
    written meta."""
    os.makedirs(state_root, exist_ok=True)
    # one pass over history feeds three aggregates; pin it so the three
    # writes don't re-scan upstream three times
    with dedup_cache_scope():
        merged = scoped_pin(merged)
        versions = {
            "moments": write_versioned(
                corr_moment_state(merged, max_lag),
                os.path.join(state_root, "moments"),
                note="bootstrap", publish=False,
            ),
            "tail": write_versioned(
                _tail(merged, max_lag),
                os.path.join(state_root, "tail"),
                note="bootstrap", publish=False,
            ),
            "entity": write_versioned(
                _entity_state(merged),
                os.path.join(state_root, "entity"),
                note="bootstrap", publish=False,
            ),
        }
        max_month = merged.agg(F.max(TIME).alias("m")).first()["m"]
    meta = {
        "max_lag": max_lag,
        "through_month": max_month,
        "versions": versions,
    }
    _write_meta(state_root, meta)
    return meta


def advance_corr_state(
    spark: SparkSession, state_root: str, new_rows: DataFrame
) -> dict:
    """Fold appended months into the state. Inputs touched: the persisted
    tail (<= entities x max_lag rows), the moment/entity states
    (O(entities x max_lag) rows), and ``new_rows`` — full history is
    never read (no path to it exists here). All new months must be
    STRICTLY AFTER the state's ``through_month``: the delta algebra is
    append-only (an out-of-order backfill needs a re-bootstrap, same as
    any watermark-late row), and the guard makes that a loud error
    instead of silent double-count.

    Crash-safe: the three new snapshots are STAGED, then the meta
    rewrite (atomic os.replace) commits them as a group — a crash at
    any earlier point leaves the previous committed trio intact and the
    retried append passes the guard and advances cleanly (the orphaned
    staged snapshots are dead weight until a vacuum, never read)."""
    meta = _read_meta(state_root)
    max_lag = meta["max_lag"]
    with dedup_cache_scope():
        new_rows = scoped_pin(new_rows)
        bounds = new_rows.agg(
            F.min(TIME).alias("lo"), F.max(TIME).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        if bounds["n"] == 0:
            return meta  # empty append is a no-op
        if meta["through_month"] is not None and bounds["lo"] <= meta["through_month"]:
            raise ValueError(
                f"append-only state: new month {bounds['lo']!r} <= "
                f"covered {meta['through_month']!r} (re-bootstrap to backfill)"
            )
        moments, tail, entity = _read_state(spark, state_root, meta)

        delta = corr_moments_delta(tail, new_rows, max_lag)
        new_moments = merge_moment_states(moments, delta)
        new_entity = (
            entity.unionByName(_entity_state(new_rows))
            .groupBy(KEY)
            .agg(
                F.sum("num_months").alias("num_months"),
                F.sum("sum_txn").alias("sum_txn"),
                F.sum("sum_rev").alias("sum_rev"),
            )
        )
        new_tail = _tail(tail.unionByName(new_rows), max_lag)

        note = f"advance through {bounds['hi']}"
        versions = {
            "moments": write_versioned(
                new_moments, os.path.join(state_root, "moments"),
                note=note, publish=False,
            ),
            "tail": write_versioned(
                new_tail, os.path.join(state_root, "tail"),
                note=note, publish=False,
            ),
            "entity": write_versioned(
                new_entity, os.path.join(state_root, "entity"),
                note=note, publish=False,
            ),
        }
    meta = {
        "max_lag": max_lag,
        "through_month": bounds["hi"],
        "versions": versions,
    }
    _write_meta(state_root, meta)
    return meta


def model_from_state(spark: SparkSession, state_root: str) -> DataFrame:
    """Finish the persisted state into the ``best_lag_correlation``
    output shape: ``cus_code, optimal_lag, correlation, num_months,
    txn_mean, rev_mean`` — the model over ALL covered history, computed
    from O(entities x max_lag) state rows. Fallback semantics match the
    one-shot path exactly (correlation.py:26-29): no valid lag ->
    (0, -1.0) for n >= 2, (0, 0.0) for n < 2."""
    moments, _, entity = _read_state(spark, state_root, _read_meta(state_root))
    grid = corr_from_moments(moments)
    valid = grid.where(
        (F.col("n_pairs") >= 2)
        & F.col("corr").isNotNull()
        & ~F.isnan(F.col("corr"))
    )
    w_best = Window.partitionBy(KEY).orderBy(
        F.col("corr").desc(), F.col("lag").asc()
    )
    best = (
        valid.withColumn("__rn", F.row_number().over(w_best))
        .where(F.col("__rn") == 1)
        .select(
            KEY,
            F.col("lag").alias("__best_lag"),
            F.col("corr").alias("__best_corr"),
        )
    )
    return entity.join(best, on=KEY, how="left").select(
        KEY,
        F.coalesce(F.col("__best_lag"), F.lit(0)).cast("int").alias("optimal_lag"),
        F.coalesce(
            F.col("__best_corr"),
            F.when(F.col("num_months") >= 2, F.lit(-1.0)).otherwise(F.lit(0.0)),
        ).alias("correlation"),
        "num_months",
        (F.col("sum_txn") / F.col("num_months")).alias("txn_mean"),
        (F.col("sum_rev") / F.col("num_months")).alias("rev_mean"),
    )


def vacuum_corr_state(state_root: str, keep_last: int = 2) -> dict[str, list[int]]:
    """Delete snapshot directories beyond the newest ``keep_last``
    versions per state table, ALWAYS keeping the meta-committed version
    (the only one readers resolve). This is the retention path for the
    orphans a crashed advance stages and never commits —
    ``sources.versioned.vacuum_versions`` cannot serve here because the
    state tables deliberately never publish a pointer (see module
    docstring). Returns {table: [removed versions]}."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta = _read_meta(state_root)
    removed: dict[str, list[int]] = {}
    for name, committed in meta["versions"].items():
        root = os.path.join(state_root, name)
        on_disk = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("v=") and os.path.isdir(os.path.join(root, d))
        )
        keep = set(on_disk[-keep_last:]) | {committed}
        removed[name] = []
        for v in on_disk:
            if v not in keep:
                shutil.rmtree(os.path.join(root, f"v={v:06d}"))
                removed[name].append(v)
    return removed
