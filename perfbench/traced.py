"""Traced run: per-layer self times, counts and Spark event-log metrics.

A separate run from the timed one. After the same set-up and warm-up, one
untraced operation gives the reference time; then the traced pass runs
the workload's layers one at a time. Each layer's input is staged to
scratch parquet outside its span, and inside the span the benchmark calls
the layer's public function and forces its output (a noop sink with an
``Observation`` for the counts, or the layer's real sink). Spans do not
nest, so a span's duration is the layer's self time. Every span runs under
its own Spark job group; after the session stops, Spark's own event log
(uncompressed) gives each span's executor time, shuffle and spill bytes
and task skew. Nothing is traced inside the package.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from harness import WARMUP_OPS, check_ops, run_ops, start_session, stop_session
from workloads import SERIES_COLS, WORKLOADS, dir_bytes

#: Spans with event-log metrics, in the order the notes list them.
SPANS = (
    "merge", "correlation", "lag_join", "recommend", "dtw", "quality",
    "versioned", "writers", "dedup.exact", "dedup.minhash", "dedup.clusters",
    "dedup.decontam", "dedup.ngram", "textstats.quality",
)
EVENT_METRICS = {"shuffle_mb": "MB", "spill_mb": "MB", "exec_s": "s", "task_skew": "ratio"}
#: Per-layer metrics besides the per-span ``.s`` and event-log ones.
COUNTS = {
    "session.start_s": "s", "gen.s": "s", "warmup.s": "s",
    "merge.rows": "count",
    "correlation.entities": "count", "correlation.pass_frac": "ratio",
    "lag_join.rows": "count",
    "recommend.dtw_frac": "ratio",
    "dtw.entities": "count", "dtw.cells": "count", "dtw.rows": "count",
    "quality.passed": "count",
    "versioned.mb": "MB", "writers.mb": "MB", "writers.files": "count",
    "dedup.minhash.candidates": "count", "dedup.minhash.verified": "count",
    "dedup.minhash.verified_frac": "ratio",
    "dedup.decontam.hits": "count",
    "dedup.ngram.candidates": "count", "dedup.ngram.pairs": "count",
    "dedup.ngram.pair_frac": "ratio",
    "trace.self_s": "s", "trace.total_s": "s", "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
}
STAGING_GROUP = "perfbench.staging"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit (BENCHMARK.json's ``per_layer``)."""
    units = {f"{s}.s": "s" for s in SPANS}
    units.update(COUNTS)
    for s in SPANS:
        units.update({f"{s}.{k}": u for k, u in EVENT_METRICS.items()})
    return units


class Tracer:
    """Holds the spans in memory; ``stage`` and ``force`` are the two
    boundaries of a layer."""

    def __init__(self, spark, stage_dir: str):
        self.spark, self.stage_dir = spark, stage_dir
        self.spans: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, part: str = ""):
        self.spark.sparkContext.setJobGroup(name, f"{part} {name}".strip())
        counts: dict = {}
        t0 = time.perf_counter()
        try:
            yield counts
        finally:
            self.spans.append(
                {"name": name, "part": part, "s": time.perf_counter() - t0, "counts": counts}
            )
            self.spark.sparkContext.setJobGroup(STAGING_GROUP, "staging")

    def stage(self, df):
        """Materialize ``df`` to scratch parquet and return a frame that
        reads it: the next layer's input, paid outside its span."""
        self._n += 1
        path = os.path.join(self.stage_dir, f"s{self._n:03d}")
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    @staticmethod
    def force(df, **aggs) -> dict:
        """Run ``df`` into the noop sink; returns its row count and the
        given aggregates, observed in that same pass."""
        obs = Observation()
        exprs = [F.count(F.lit(1)).alias("rows")] + [e.alias(k) for k, e in aggs.items()]
        df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
        return dict(obs.get)


# ---------------------------------------------------------------------------
# Layers per workload
# ---------------------------------------------------------------------------


def _canonical(tr: Tracer, inputs):
    from mapping_timeseries_spark.operators.canonicalize import VALUE1, VALUE2, canonicalize

    key, time_col, v1, v2 = SERIES_COLS
    t1 = canonicalize(tr.spark.read.parquet(inputs.paths["table1"]), key, time_col, v1, VALUE1, "table1")
    t2 = canonicalize(tr.spark.read.parquet(inputs.paths["table2"]), key, time_col, v2, VALUE2, "table2")
    return t1, t2


def _merge(tr: Tracer, t1, t2, part: str):
    from mapping_timeseries_spark.operators.merge import merge_series

    with tr.span("merge", part) as c:
        c["rows"] = tr.force(merge_series(t1, t2))["rows"]
    return tr.stage(merge_series(t1, t2)), tr.stage(t1), tr.stage(t2)


def _stamp(mapped):
    # the two per-run columns run_pipeline adds before its sinks
    return mapped.withColumn("pipeline_run_id", F.lit("traced")).withColumn(
        "processed_at", F.current_timestamp()
    )


def _sinks(tr: Tracer, mapped, t1, out_dir: str, part: str, versioned: bool):
    from mapping_timeseries_spark.operators.quality import qa_report
    from mapping_timeseries_spark.sources.versioned import write_versioned
    from mapping_timeseries_spark.sources.writers import write_partitioned

    with tr.span("quality", part) as c:
        c["passed"] = int(qa_report(mapped, t1)["passed"])
    if versioned:
        root = os.path.join(out_dir, "versioned")
        with tr.span("versioned", part) as c:
            write_versioned(mapped, root, publish=False)
        c["mb"] = dir_bytes(root) / 1e6
    path = os.path.join(out_dir, "mappings")
    with tr.span("writers", part) as c:
        write_partitioned(mapped, path, "time1")
    _count_files(c, path)


def _count_files(counts: dict, path: str) -> None:
    counts["mb"] = dir_bytes(path) / 1e6
    counts["files"] = sum(len(files) for _, _, files in os.walk(path))


def _close_corr(tr: Tracer, inputs, out_dir: str) -> None:
    from mapping_timeseries_spark.config import MappingConfig
    from mapping_timeseries_spark.operators.canonicalize import KEY
    from mapping_timeseries_spark.operators.correlation import best_lag_correlation
    from mapping_timeseries_spark.operators.lag_join import build_correlation_mappings

    part, cfg = "close_corr", MappingConfig(method="correlation")
    merged, t1, t2 = _merge(tr, *_canonical(tr, inputs), part)
    with tr.span("correlation", part) as c:
        passing = (F.col("correlation") >= cfg.min_correlation).cast("int")
        got = tr.force(best_lag_correlation(merged, cfg.max_lag), passing=F.sum(passing))
        c.update(entities=got["rows"], passing=got["passing"])
    corr = tr.stage(best_lag_correlation(merged, cfg.max_lag))

    cols = (KEY, "time1", "value1", "time2", "value2", "lag_offset", "method")
    with tr.span("lag_join", part) as c:
        c["rows"] = tr.force(build_correlation_mappings(t1, t2, corr, cfg.min_correlation))["rows"]
    mapped = tr.stage(
        _stamp(build_correlation_mappings(t1, t2, corr, cfg.min_correlation).select(*cols))
    )
    _sinks(tr, mapped, t1, out_dir, part, versioned=True)


def _routed_dtw(tr: Tracer, inputs, out_dir: str) -> None:
    from mapping_timeseries_spark.config import MappingConfig
    from mapping_timeseries_spark.operators.canonicalize import KEY
    from mapping_timeseries_spark.operators.dtw import build_dtw_mappings
    from mapping_timeseries_spark.operators.lag_join import build_correlation_mappings
    from mapping_timeseries_spark.operators.recommend import route_entities

    part, cfg = "routed_dtw", MappingConfig()
    merged, t1, t2 = _merge(tr, *_canonical(tr, inputs), part)
    rec = tr.spark.read.parquet(inputs.paths["recommendations"])
    with tr.span("recommend", part) as c:
        is_dtw = (F.col("route") == "dtw").cast("int")
        got = tr.force(route_entities(t1.select(KEY).distinct(), rec), dtw=F.sum(is_dtw))
        c.update(entities=got["rows"], dtw=got["dtw"])
    routed = tr.stage(route_entities(t1.select(KEY).distinct(), rec))

    cols = (KEY, "time1", "value1", "time2", "value2", "lag_offset", "method")
    corr_like = routed.where(F.col("route").isin("correlation", "default")).select(
        KEY, "optimal_lag", F.lit(1.0).alias("correlation")
    )
    with tr.span("lag_join", part) as c:
        c["rows"] = tr.force(build_correlation_mappings(t1, t2, corr_like, 0.0))["rows"]
    corr_part = tr.stage(build_correlation_mappings(t1, t2, corr_like, 0.0).select(*cols))

    dtw_in = tr.stage(
        merged.join(routed.where(F.col("route") == "dtw").select(KEY), KEY, "left_semi")
    )
    lengths = dtw_in.groupBy(KEY).count().agg(
        F.count(F.lit(1)).alias("entities"), F.sum(F.col("count") * F.col("count")).alias("cells")
    ).first()
    with tr.span("dtw", part) as c:
        c["rows"] = tr.force(build_dtw_mappings(dtw_in, cfg.window_size, cfg.normalize))["rows"]
        c.update(entities=lengths["entities"], cells=lengths["cells"])
    dtw_part = tr.stage(build_dtw_mappings(dtw_in, cfg.window_size, cfg.normalize).select(*cols))
    _sinks(tr, _stamp(corr_part.unionByName(dtw_part)), t1, out_dir, part, versioned=False)


def _corpus_clean(tr: Tracer, inputs, out_dir: str) -> None:
    from mapping_timeseries_spark.operators import dedup
    from mapping_timeseries_spark.operators.textstats import quality_score
    from mapping_timeseries_spark.plans.corpus_pipeline import flag_corpus
    from mapping_timeseries_spark.sources.writers import write_training_shards

    docs = tr.spark.read.parquet(inputs.paths["docs"])
    holdout = tr.spark.read.parquet(inputs.paths["holdout"])
    with dedup.dedup_cache_scope():
        with tr.span("dedup.exact"):
            tr.force(dedup.content_hash_dedup(docs))
        # same settings as the pipeline's near-dup stage (flag_corpus)
        with tr.span("dedup.minhash") as c:
            pairs = dedup.minhash_lsh_pairs(docs, "text", threshold=0.5, mode="star")
            c["verified"] = tr.force(pairs)["rows"]
        # candidate count before verification: the operator's own banding
        # and candidate helpers, counted outside the span
        sh = dedup._shingled(docs, "text", 2).where(F.col("n_shingles") > 0)
        c["candidates"] = dedup._lsh_candidates(dedup._band_frame(sh, 32, 8, False), "star").count()
        pairs = tr.stage(pairs)
        with tr.span("dedup.clusters"):
            tr.force(dedup.dedup_clusters(docs, pairs))
        with tr.span("dedup.decontam") as c:
            c["hits"] = tr.force(dedup.ngram_decontaminate(docs, holdout, "text", min_overlap=0.2))["rows"]
        with tr.span("textstats.quality"):
            tr.force(quality_score(docs, "text"))

        flagged = flag_corpus(docs, holdout, "text")
        flags = [col for col in flagged.columns if col.startswith("pass_")]
        keep = F.lit(True)
        for flag in flags:
            keep = keep & (F.col(flag) == 1)
        survivors = tr.stage(flagged.where(keep).drop(*flags))
    shards = os.path.join(out_dir, "shards")
    with tr.span("writers") as c:
        write_training_shards(survivors, shards, "doc_id", 16)
    _count_files(c, shards)

    with dedup.dedup_cache_scope():
        exported = tr.spark.read.parquet(shards)
        with tr.span("dedup.ngram") as c:
            c["pairs"] = tr.force(dedup.ngram_jaccard_pairs(exported, "text"))["rows"]
        c["candidates"] = dedup.ngram_jaccard_pairs(exported, "text", candidates_only=True).count()


def _mapping_close(tr: Tracer, inputs, out_dir: str) -> None:
    _close_corr(tr, inputs.parts["close_corr"], os.path.join(out_dir, "close_corr"))
    _routed_dtw(tr, inputs.parts["routed_dtw"], os.path.join(out_dir, "routed_dtw"))


LAYERS = {"mapping_close": _mapping_close, "corpus_clean": _corpus_clean}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _events(event_dir: str):
    """Events of the one application logged under ``event_dir``; Spark 4
    writes a rolling log, a directory of ``events_<n>_<app>`` files."""
    (app,) = os.listdir(event_dir)
    path = os.path.join(event_dir, app)
    files = [path]
    if os.path.isdir(path):
        names = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(names, key=lambda f: int(f.split("_")[1]))]
    for name in files:
        with open(name) as f:
            for line in f:
                yield json.loads(line)


def event_log_metrics(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run time, shuffle bytes written, bytes
    spilled, and the task skew (max / median executor run time) of the
    group's busiest stage."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for ev in _events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            tasks[ev["Stage ID"]].append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    out: dict[str, dict[str, float]] = {}
    by_group: dict[str, list[int]] = defaultdict(list)
    for sid, group in stage_group.items():
        if group is not None and sid in tasks:
            by_group[group].append(sid)
    for group, sids in by_group.items():
        all_tasks = [t for s in sids for t in tasks[s]]
        busiest = max(sids, key=lambda s: sum(t["run_ms"] for t in tasks[s]))
        times = [t["run_ms"] for t in tasks[busiest]]
        median = statistics.median(times)
        out[group] = {
            "exec_s": sum(t["run_ms"] for t in all_tasks) / 1000,
            "shuffle_mb": sum(t["shuffle"] for t in all_tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in all_tasks) / 1e6,
            "task_skew": max(times) / median if median > 0 else 1.0,
        }
    return out


# ---------------------------------------------------------------------------
# The traced run
# ---------------------------------------------------------------------------


def _layer_metrics(spans: list[dict], events: dict[str, dict[str, float]]) -> dict[str, float]:
    """Fold the spans into the per-layer metrics. A layer that runs once
    per part (merge, lag_join, quality, writers on mapping_close) reports
    the sum over its spans; a layer this workload never runs reports 0."""
    m: dict[str, float] = defaultdict(float)
    for sp in spans:
        m[f"{sp['name']}.s"] += sp["s"]
        for k, v in sp["counts"].items():
            m[f"{sp['name']}.{k}"] += v
    ratios = {
        "correlation.pass_frac": ("correlation.passing", "correlation.entities"),
        "recommend.dtw_frac": ("recommend.dtw", "recommend.entities"),
        "dedup.minhash.verified_frac": ("dedup.minhash.verified", "dedup.minhash.candidates"),
        "dedup.ngram.pair_frac": ("dedup.ngram.pairs", "dedup.ngram.candidates"),
    }
    for name, (num, base) in ratios.items():
        m[name] = m[num] / m[base] if m.get(base) else 0.0
    for span in SPANS:
        for k, v in events.get(span, {}).items():
            m[f"{span}.{k}"] = v
    return m


def traced_run(args, work_dir: str) -> dict:
    event_dir = os.path.join(work_dir, "eventlog")
    os.makedirs(event_dir, exist_ok=True)
    t0 = time.perf_counter()
    spark = start_session(
        work_dir,
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        },
    )
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    inputs = gen.generate(args.workload, args.seed, os.path.join(work_dir, "inputs"), args.size)
    gen_s = time.perf_counter() - t0

    workload = WORKLOADS[args.workload](spark, inputs)
    out_root = os.path.join(work_dir, "out")
    spark.sparkContext.setJobGroup(STAGING_GROUP, "untraced operations")
    t0 = time.perf_counter()
    warm = run_ops(workload, spark, out_root, 0, WARMUP_OPS)
    warmup_s = time.perf_counter() - t0
    untraced = run_ops(workload, spark, out_root, WARMUP_OPS, 1)
    failures, _ = check_ops(workload, warm + untraced, None)
    untraced_s = untraced[0][1]["op_s"] if untraced[0][1] else float("nan")

    tracer = Tracer(spark, os.path.join(work_dir, "stage"))
    t0 = time.perf_counter()
    LAYERS[args.workload](tracer, inputs, os.path.join(out_root, "traced"))
    total_s = time.perf_counter() - t0
    stop_session(spark)
    events = event_log_metrics(event_dir)

    m = _layer_metrics(tracer.spans, events)
    self_s = sum(sp["s"] for sp in tracer.spans)
    m.update(
        {
            "session.start_s": session_s,
            "gen.s": gen_s,
            "warmup.s": warmup_s,
            "trace.self_s": self_s,
            "trace.total_s": total_s,
            "trace.untraced_op_s": untraced_s,
            "trace.overhead_s": self_s - untraced_s,
        }
    )
    units = per_layer_units()
    spans = [
        {"name": sp["name"], "part": sp["part"], "s": round(sp["s"], 3), **sp["counts"]}
        for sp in tracer.spans
    ]
    return {
        "attempted": WARMUP_OPS + 1,
        "failures": failures,
        "metrics": {k: (float(m.get(k, 0.0)), u) for k, u in units.items()},
        "context": {"spans": spans},
    }
