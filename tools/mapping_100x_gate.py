"""100x spot-gate for the MAPPING family (VERDICT r8 #5 — the text
family got its two-decade evidence in r8; this is the twin for
merged_series / corr_mapping / dtw_mapping / auto_mapping).

Corpus: the same 100x key-offset replication the text gate uses
(tools/scale_stress.replicate into artifacts/scale_stress_100x —
regenerated when missing). Offsets shift cus_code/orderkey domains
per replica while leaving every amount/date untouched, so each
replica's per-entity monthly series is BIT-IDENTICAL to its 1x
counterpart and the whole mapping family — lag grids, Pearson
correlations, DTW alignments, auto-mode routing — computes the same
per-entity answers 100 times over under new keys. The gate is
therefore exact:

- output row count at 100x == 100 x the measured 1x count, per query
  (per-entity semantics make this an identity, not a tolerance), and
- wall grows ~linearly: per-entity series LENGTH is unchanged (months
  don't replicate), so per-row cost is flat — any super-linear jump
  exposes a hidden cross-entity term or a spill. Walls and scratch-disk
  high-water (scratch.ScratchMeter) are recorded per query at both
  scales; timing methodology is bench.py's time_query (plan built
  outside the timed region, noop sink, cache cleared between reps,
  median of REPS).

Writes artifacts/mapping_<factor>x_gate.json.
Usage: python tools/mapping_100x_gate.py [--factor N] [out.json]

Factor generalization (r10): ``--factor 1000`` extends the evidence a
THIRD decade out (sf100-equivalent: 600M lineitem rows). At that size
the corpus is built with scale_stress.replicate_range (constant-size
plan; the 1000-way union would not be) restricted to the two tables
the mapping family reads (orders+lineitem — the text tables would
triple the corpus for queries that never touch them), into its own
``scale_stress_<N>x_mapping`` dir so the SHARED full corpus dir the
text gate resumes from is never left half-populated.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_1X = "/root/testdata/sf0.1"
QUERIES = [
    "merged_series",
    "corr_mapping",
    "dtw_mapping",
    "auto_mapping",
    # r10 widening: the routing path (model -> route -> routed build)
    # and the one-pass argmax — both per-entity, so exact at xN
    "production_mapping",
    "corr_best_lag",
]
#: reps at each scale; medians via bench.time_query
REPS_1X = 3
REPS_NX = 1  # one rep at Nx: ~minutes per query, median-of-1 recorded


def main() -> int:
    argv = list(sys.argv[1:])
    factor = 100
    if "--factor" in argv:
        i = argv.index("--factor")
        factor = int(argv[i + 1])
        del argv[i : i + 2]
    out_json = (
        argv[0]
        if argv
        else os.path.join(REPO, "artifacts", f"mapping_{factor}x_gate.json")
    )
    # factor 100 shares the FULL corpus dir with the text gate (resume
    # compatibility); other factors build a mapping-only corpus in their
    # own dir so the shared one is never left partially populated.
    if factor == 100:
        corpus_dir = os.path.join(REPO, "artifacts", "scale_stress_100x")
    else:
        corpus_dir = os.path.join(
            REPO, "artifacts", f"scale_stress_{factor}x_mapping"
        )
    import __spark_entry__ as entry_mod
    from bench import box_calibration, time_query
    from mapping_timeseries_spark.scratch import ScratchMeter
    from mapping_timeseries_spark.session import get_spark

    spark = get_spark(
        "mapping-scale-gate",
        master="local[32]",
        # 64 shuffle partitions carry ~60M-row exchanges at 100x; at
        # 1000x each would hold ~1 GB — quadruple so sort/join buffers
        # stay in memory (AQE coalesces the ones that end up small)
        shuffle_partitions=64 if factor <= 100 else 256,
        extra_conf={
            "spark.driver.memory": "24g" if factor <= 100 else "56g",
            "spark.io.compression.codec": "zstd",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    if not os.path.isdir(corpus_dir):
        print(f"{corpus_dir} missing — replicating {factor}x (one-time)")
        sys.path.insert(0, os.path.join(REPO, "tools"))
        import scale_stress

        t0 = time.monotonic()
        if factor == 100:
            scale_stress.replicate(spark, factor, corpus_dir)
        else:
            scale_stress.replicate_range(
                spark, factor, corpus_dir, tables=("orders", "lineitem")
            )
        print(f"replicated in {time.monotonic() - t0:.0f}s")

    qs = dict(entry_mod.queries())

    def _release():
        """Between-query scratch release (same law as the text gate):
        shuffle files outlive their action until GC lets ContextCleaner
        delete them, and the deletion is asynchronous — so GC, then
        DRAIN until the dirs settle, or the next query's meter starts
        on a dying-residue base (deflated delta) and back-to-back 100x
        actions can stack dead shuffle into the disk limit."""
        import gc

        from mapping_timeseries_spark.scratch import drain, spark_local_dirs

        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        drain(spark_local_dirs(spark))

    pre = box_calibration()
    res = {}
    if os.path.exists(out_json):
        with open(out_json) as f:
            prior_doc = json.load(f)
        # resume only a SAME-FACTOR artifact (ADVICE r10 #4 twin): rows
        # cached under another factor would silently mix scales
        if prior_doc.get("factor") == factor:
            prior = prior_doc.get("queries", {})
            res = {k: v for k, v in prior.items() if v.get("count_ok")}
    for name in QUERIES:
        if name in res:
            print(name, "cached:", json.dumps(res[name]), flush=True)
            continue
        n1 = qs[name](spark, SF_1X).count()
        wall1 = statistics.median(
            time_query(spark, qs[name], SF_1X, REPS_1X)
        )
        _release()
        m = ScratchMeter(spark).start()
        nN = qs[name](spark, corpus_dir).count()
        spark.catalog.clearCache()
        wallN = statistics.median(
            time_query(spark, qs[name], corpus_dir, REPS_NX)
        )
        scratchN = m.stop()
        res[name] = {
            "rows_1x": n1,
            f"rows_{factor}x": nN,
            f"expected_{factor}x": n1 * factor,
            "count_ok": nN == n1 * factor,
            "wall_1x_sec": round(wall1, 2),
            f"wall_{factor}x_sec": round(wallN, 1),
            "wall_ratio": round(wallN / max(wall1, 1e-9), 1),
            f"peak_scratch_bytes_{factor}x": scratchN,
            f"base_scratch_bytes_{factor}x": m.base_bytes,
        }
        _release()
        print(name, json.dumps(res[name]), flush=True)
        with open(out_json, "w") as f:
            json.dump({"factor": factor, "queries": res}, f, indent=1)
    out = {
        "factor": factor,
        "corpus": corpus_dir,
        "queries": res,
        "all_green": all(v["count_ok"] for v in res.values()),
        # linear-wall claim: per-entity series length is scale-invariant
        # here, so wall ratio near FACTOR (or below — fixed costs
        # amortize) is the pass; a multiple of FACTOR is the red flag
        "max_wall_ratio": max(v["wall_ratio"] for v in res.values()),
        "box_calibration": {"pre": pre, "post": box_calibration()},
    }
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "queries"}))
    print(f"wrote {out_json} all_green={out['all_green']}")
    spark.stop()
    return 0 if out["all_green"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
