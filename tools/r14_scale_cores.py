"""Scaling evidence at a SF where it means something (VERDICT r13 #7):
replicate the sf0.1 tables 10x (scale_stress.replicate — per-domain key
offsets, per-word replica suffix) and time the hot legs at 32 vs 8
cores in SEPARATE sessions, so per-leg parallelism claims stop resting
on sf0.1 latency noise. Also re-A/Bs the dtw Arrow batch-size knob at
10x (it is inert at sf0.1 — each partition holds less than one batch)
and records the ngram candidate-join strategy at 10x (broadcast at
sf0.1; a scale where the prefix stops broadcasting is where VERDICT
r13 #5's co-partitioning idea would start to exist).

Usage: python tools/r14_scale_cores.py [factor] [leg ...]
Writes artifacts/r14_scale_cores.json; keeps the replicated dir only
for the run. Every leg carries a /proc/stat steal stamp — this box's
host tenancy swings 0-17% steal between minutes (measured this round),
so readings without stamps are not numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402
from scale_stress import SF_DIR, replicate  # noqa: E402

from mapping_timeseries_spark.session import get_spark  # noqa: E402

HOT_LEGS = [
    "ngram_jaccard",
    "gopher_repetition",
    "text_stats",
    "qa_invariants",
    "auto_mapping",
    "dtw_summary",
    "dtw_mapping",
    "bm25_topk",
    "dsir_select",
]
REPS = 3


def _steal():
    return bench._steal_snapshot()


def _timed(spark, fn, sf_dir, reps):
    from mapping_timeseries_spark.materialize import dedup_cache_scope

    a = _steal()
    with dedup_cache_scope():
        r = bench.time_query(spark, fn, sf_dir, reps)
    b = _steal()
    steal = (
        round(100.0 * (b[0] - a[0]) / max(b[1] - a[1], 1), 2)
        if a is not None and b is not None
        else None
    )
    steady = r[1:] if len(r) > 1 else r
    return {
        "reps": [round(x, 3) for x in r],
        "median": round(statistics.median(r), 3),
        "min_steady": round(min(steady), 3),
        "steal_pct": steal,
    }


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    legs = sys.argv[2:] or HOT_LEGS
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "artifacts",
        f"r14_scale_{factor}x_data",
    )
    result: dict = {"factor": factor, "reps": REPS, "legs": {}}

    spark = get_spark(
        "r14_scale_replicate",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "16g"},
    )
    print(f"replicating {factor}x into {out_dir} ...", file=sys.stderr)
    replicate(spark, factor, out_dir)
    spark.stop()

    try:
        for cpus in (32, 8):
            spark = get_spark(
                f"r14_scale_c{cpus}",
                master=f"local[{cpus}]",
                shuffle_partitions=cpus,
                extra_conf={"spark.driver.memory": "16g"},
            )
            spark.range(1000).selectExpr("sum(id)").collect()
            qs = {**entry_mod.queries(), **bench.leg_queries()}
            for name in legs:
                rec = _timed(spark, qs[name], out_dir, REPS)
                result["legs"].setdefault(name, {})[f"c{cpus}"] = rec
                print(f"c{cpus} {name}: {rec}", file=sys.stderr)
            if cpus == 32:
                # dtw Arrow batch-size A/B at 10x (guide §4.2): inert at
                # sf0.1 (~300 series/partition < any batch size); at 10x
                # partitions hold ~3000 series, so the knob is live.
                ab = {}
                for batch in ("default", "2000", "40000"):
                    if batch != "default":
                        spark.conf.set(
                            "spark.sql.execution.arrow.maxRecordsPerBatch",
                            batch,
                        )
                    ab[batch] = {
                        leg: _timed(spark, qs[leg], out_dir, REPS)
                        for leg in ("dtw_summary", "dtw_mapping")
                        if leg in qs
                    }
                    print(f"dtw batch={batch}: {ab[batch]}", file=sys.stderr)
                spark.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
                )
                result["dtw_batch_ab_c32"] = ab
            spark.stop()
        # per-leg core ratio (c8/c32) on the min_steady estimator
        for name, rec in result["legs"].items():
            if "c8" in rec and "c32" in rec:
                rec["core_ratio_min"] = round(
                    rec["c8"]["min_steady"] / max(rec["c32"]["min_steady"], 1e-9), 2
                )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "artifacts",
        "r14_scale_cores.json",
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "legs"}))
    print("written", path, file=sys.stderr)


if __name__ == "__main__":
    main()
