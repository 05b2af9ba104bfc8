"""FOURTH decade for the near-dup pipeline's dominant stage (r11): the
per-stage breakdowns (dedup_1000x_gate, neardup_composed_gate) proved
that ~77-84% of the x1000 wall is the per-doc shingle+MinHash signature
map — so the stage whose linearity decides the 100 TB wall gets one
more decade: x10000 = 50M documents.

Scope is deliberately the two corpus-sized stages only:

- STAGE A (exact): shingle + 32-hash MinHash signature + 8-band split.
  Pure projection — zero shuffle (the x1000 composed gate measured
  peak scratch 0 for this stage), so band_rows = 8 x docs-with-shingles
  is an identity: 400,000,000 expected.
- STAGE B candidates (banded ±10%): the LSH band self-join pair volume.
  Stochastic per replica (renamed shingles re-roll the S-curve); exact
  band-value buckets keep cross-replica collisions to real band
  agreements, so volume concentrates at factor x the 1x draw.

Exact-Jaccard verification and CC are NOT re-run here: both are
candidate-sized (three-decade evidence at x1000, wall 20 s + 12 s of a
192 s total) and the pinned-shingle verify working set at 50M docs
exceeds a single box's storage budget — at 100 TB that stage is
precisely what a cluster shards by doc_id; the box limit is the
honest boundary, not a gap.

The x10000 corpus (~8 GB parquet) is built one-time with
replicate_range and DELETED after the gate unless KEEP_STRESS_DATA=1.

Writes artifacts/map_stage_10000x_gate.json.
Usage: python tools/map_stage_10000x_gate.py [--factor N] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # tools/ for lsh_stages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_1X = "/root/testdata/sf0.1"
BAND = 0.10


def main() -> int:
    argv = list(sys.argv[1:])
    factor = 10000
    if "--factor" in argv:
        i = argv.index("--factor")
        factor = int(argv[i + 1])
        del argv[i : i + 2]
    out_json = (
        argv[0]
        if argv
        else os.path.join(REPO, "artifacts", "map_stage_10000x_gate.json")
    )
    corpus_dir = os.path.join(
        REPO, "artifacts", f"scale_stress_{factor}x_mapstage"
    )

    from pyspark.sql import functions as F

    from bench import box_calibration
    from mapping_timeseries_spark import materialize as M
    from mapping_timeseries_spark.scratch import (
        ScratchMeter,
        drain,
        spark_local_dirs,
    )
    from mapping_timeseries_spark.session import ensure_runtime_conf, get_spark
    from mapping_timeseries_spark.sources.readers import read_table

    spark = get_spark(
        "map-stage-4th-decade",
        master="local[32]",
        shuffle_partitions=256,
        extra_conf={
            "spark.driver.memory": "56g",
            "spark.io.compression.codec": "zstd",
        },
    )
    ensure_runtime_conf(spark)
    spark.range(1000).selectExpr("sum(id)").collect()

    replicate_wall = None
    if not os.path.isdir(corpus_dir):
        print(f"{corpus_dir} missing — replicating {factor}x (one-time)")
        sys.path.insert(0, os.path.join(REPO, "tools"))
        import scale_stress

        t0 = time.monotonic()
        scale_stress.replicate_range(
            spark, factor, corpus_dir, tables=("documents",), partitions=256
        )
        replicate_wall = round(time.monotonic() - t0, 0)
        print(f"replicated in {replicate_wall:.0f}s")

    def _release():
        import gc

        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        drain(spark_local_dirs(spark))

    pre = box_calibration()

    def run(sf_dir, label):
        import lsh_stages

        docs = read_table(spark, sf_dir, "documents")
        out = {}
        with M.dedup_cache_scope():
            m = ScratchMeter(spark).start()
            t0 = time.monotonic()
            # pin_sets=False: this gate never runs the verifier, and
            # 50M docs' sets are a large cache for a frame read once
            # (see lsh_stages.staged_frames)
            _sets, banded = lsh_stages.staged_frames(docs, pin_sets=False)
            out["band_rows"] = banded.count()
            out["stage_a_wall_sec"] = round(time.monotonic() - t0, 1)
            out["stage_a_peak_scratch_bytes"] = m.stop()

            m = ScratchMeter(spark).start()
            t0 = time.monotonic()
            out["candidate_pairs"] = lsh_stages.candidates(
                banded, "pairs"
            ).count()
            out["stage_b_wall_sec"] = round(time.monotonic() - t0, 1)
            out["stage_b_peak_scratch_bytes"] = m.stop()
        _release()
        print(label, json.dumps(out), flush=True)
        return out

    one = run(SF_1X, "1x")
    big = run(corpus_dir, f"{factor}x")

    exp_bands = one["band_rows"] * factor
    exp_cand = one["candidate_pairs"] * factor
    checks = {
        "band_rows_exact": big["band_rows"] == exp_bands,
        "candidates_band": abs(big["candidate_pairs"] - exp_cand)
        <= BAND * exp_cand,
    }
    out = {
        "factor": factor,
        "corpus": corpus_dir,
        "replicate_wall_sec": replicate_wall,
        "one_x": one,
        f"{factor}x": big,
        f"expected_band_rows_{factor}x": exp_bands,
        f"expected_candidates_{factor}x": exp_cand,
        "stage_a_wall_ratio": round(
            big["stage_a_wall_sec"] / max(one["stage_a_wall_sec"], 1e-9), 1
        ),
        "checks": checks,
        "all_green": all(checks.values()),
        "box_calibration": {"pre": pre, "post": box_calibration()},
    }
    os.makedirs(os.path.dirname(out_json), exist_ok=True)
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    print(f"wrote {out_json} all_green={out['all_green']}")
    spark.stop()
    if not os.environ.get("KEEP_STRESS_DATA"):
        shutil.rmtree(corpus_dir, ignore_errors=True)
        print(f"removed {corpus_dir}")
    return 0 if out["all_green"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
