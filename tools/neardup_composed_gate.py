"""End-to-end composed near-dup gate (r11, VERDICT r10 #4): the exact
pipeline SCALE.md prescribes for a 100 TB corpus — MinHash-LSH star
candidates -> exact-Jaccard verification (the PPJoin-style verifier run
per-candidate, never all-pairs) -> large-star/small-star connected
components — executed as ONE composition over the replicated corpus,
with per-stage walls and scratch. Until this gate the three stages were
gated separately (dedup_1000x_gate: LSH pair volume; text_100x_gate:
exact PPJoin; hot_clique_gate: star candidates); this proves the
composition itself.

Corpus: scale_stress.replicate_range(tables=("documents",)) — same as
dedup_1000x_gate (shared dir at the same factor, resume-compatible).
Every replica r>0 gets the per-word `·rN` suffix, so cross-replica
shingle sets are DISJOINT: a cross-replica candidate (band-bucket hash
collision) can never pass exact-Jaccard verification. Replica 0's text
is bit-identical to 1x, and the whole signature->band->verify->CC
pipeline is deterministic given text, so two checks are EXACT and two
are banded:

- ``replica0_exact``  — the Nx clustering restricted to replica-0 doc
  ids equals the 1x clustering bit-for-bit (identical text -> identical
  signatures -> identical verified edges -> identical components;
  cross-replica candidates are verification-killed). EXACT.
- ``purity_exact``    — zero non-singleton clusters span replicas
  (verified edges require Jaccard >= threshold > 0 = the cross-replica
  maximum). EXACT.
- ``edges_band``      — verified star-edge count within ±BAND of
  factor x the 1x count (per-replica LSH recall is a fresh stochastic
  draw for r>0: renamed shingles re-roll the band S-curve).
- ``clusters_band``   — non-singleton cluster count within ±BAND of
  factor x 1x (same stochastic source).

Per-stage walls at the Nx scale (1x recorded for ratio): stage A
builds shingles+bands (the map-heavy half), stage B generates star
candidates and verifies exact Jaccard (the join-heavy half), stage C
runs star CC to a fixed point (the iterative half, timed build-inside
because CC runs its convergence probes during construction). Scratch
high-water per stage via ScratchMeter; stages share ONE cache scope
(draining mid-scope would delete live pinned blocks), so each stage's
base_scratch_bytes — recorded beside the peak — carries the prior
stages' residue and makes any deflated delta visible in the artifact
(SCALE.md dying-base semantics); the full drain runs between the 1x
and Nx runs.

Writes artifacts/neardup_composed_gate.json.
Usage: python tools/neardup_composed_gate.py [--factor N] [--narrow]
       [--rm-corpus] [out.json]

r12 flags (VERDICT r11 #4 — the x10000 run): ``--narrow`` switches the
verify stage to the participant-narrowed form (row-identical, pytest:
test_narrowed_verify_row_identical; recorded as "narrowed_verify" in
the artifact) so the corpus-wide hash-set pin is never built;
``--rm-corpus`` deletes the replicated corpus afterwards (the x10000
corpus is ~8 GB the box cannot keep between rounds).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # tools/ for lsh_stages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_1X = "/root/testdata/sf0.1"
BAND = 0.10
THRESHOLD = 0.5


def _pipeline_frames(docs, threshold=THRESHOLD, narrow=False):
    """The composed pipeline's stage frames via the SHARED stage module
    (tools/lsh_stages — one definition for all three scale gates):
    returns (sets, banded, star_edges_fn) where star_edges_fn
    closes over the pinned upstreams; CC runs on its result via
    dedup_clusters at the call site.

    ``narrow=True`` (the x10000 run): the hash-set
    frame is NOT pinned corpus-wide; the verifier gets the
    participant-narrowed pinned frame instead (lsh_stages.
    narrowed_verify — broadcast semi-join, row-identical by pytest).
    Pinning 50M docs' sets for a verifier that touches ~1% of them was
    the fourth decade's memory wall (measured on string shingle sets,
    before the hash-set form); at 100 TB the same
    narrowing is how the verify stage avoids shuffling the corpus."""
    import lsh_stages

    sh, banded = lsh_stages.staged_frames(docs, pin_sets=not narrow)

    def star_edges():
        cand = lsh_stages.candidates(banded, "star")
        if narrow:
            edges, _narrowed = lsh_stages.narrowed_verify(
                cand, sh, threshold
            )
            return edges
        return lsh_stages.verify(cand, sh, threshold)

    return sh, banded, star_edges


def evaluate_checks(
    rep0_rows,
    ref_rows,
    max_replicas_per_cluster: int,
    n_edges: int,
    n_edges_1x: int,
    n_clusters: int,
    n_clusters_1x: int,
    factor: int,
    band: float = BAND,
) -> dict:
    """The gate's pass/fail arithmetic, separated from the live run so
    pytest can pin it (same contract as the soak gates' evaluate_checks
    and bench.py's gate helpers). ``rep0_rows``/``ref_rows`` are the
    sorted (doc_id, cluster_id, is_keeper) tuples of the Nx run's
    replica-0 restriction and the independent 1x run."""
    return {
        "replica0_exact": rep0_rows == ref_rows,
        "purity_exact": max_replicas_per_cluster == 1,
        "edges_band": abs(n_edges - factor * n_edges_1x)
        <= band * factor * n_edges_1x,
        "clusters_band": abs(n_clusters - factor * n_clusters_1x)
        <= band * factor * n_clusters_1x,
    }


def main() -> int:
    argv = list(sys.argv[1:])
    factor = 100
    if "--factor" in argv:
        i = argv.index("--factor")
        factor = int(argv[i + 1])
        del argv[i : i + 2]
    narrow = "--narrow" in argv
    if narrow:
        argv.remove("--narrow")
    # the x10000 corpus is ~8 GB the box cannot keep between rounds
    rm_corpus = "--rm-corpus" in argv
    if rm_corpus:
        argv.remove("--rm-corpus")
    out_json = (
        argv[0]
        if argv
        else os.path.join(REPO, "artifacts", "neardup_composed_gate.json")
    )
    corpus_dir = os.path.join(
        REPO, "artifacts", f"scale_stress_{factor}x_dedup"
    )

    from pyspark.sql import functions as F

    from bench import box_calibration
    from mapping_timeseries_spark import materialize as M
    from mapping_timeseries_spark.operators import dedup as D
    from mapping_timeseries_spark.scratch import (
        ScratchMeter,
        drain,
        spark_local_dirs,
    )
    from mapping_timeseries_spark.session import ensure_runtime_conf, get_spark
    from mapping_timeseries_spark.sources.readers import read_table

    spark = get_spark(
        "neardup-composed-gate",
        master="local[32]",
        shuffle_partitions=64 if factor <= 100 else 256,
        extra_conf={
            "spark.driver.memory": "24g" if factor <= 100 else "56g",
            "spark.io.compression.codec": "zstd",
        },
    )
    ensure_runtime_conf(spark)
    spark.range(1000).selectExpr("sum(id)").collect()

    if not os.path.isdir(corpus_dir):
        print(f"{corpus_dir} missing — replicating {factor}x (one-time)")
        sys.path.insert(0, os.path.join(REPO, "tools"))
        import scale_stress

        t0 = time.monotonic()
        scale_stress.replicate_range(
            spark, factor, corpus_dir, tables=("documents",)
        )
        print(f"replicated in {time.monotonic() - t0:.0f}s")

    def _release():
        import gc

        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        drain(spark_local_dirs(spark))

    pre = box_calibration()
    docs_1x = read_table(spark, SF_1X, "documents")
    offset = docs_1x.agg(F.max("doc_id")).first()[0] + 1

    # ---- 1x reference run (composed, single scope) -----------------------
    with M.dedup_cache_scope():
        sh1, banded1, star1 = _pipeline_frames(docs_1x, narrow=narrow)
        edges_1x = star1()
        n_edges_1x = edges_1x.count()
        clusters_1x = D.dedup_clusters(docs_1x, edges_1x)
        ref_rows = sorted(
            (r["doc_id"], r["cluster_id"], r["is_keeper"])
            for r in clusters_1x.collect()
        )
    # non-singleton cluster count, computed plainly from the tiny 1x rows
    from collections import Counter

    sizes = Counter(c for _, c, _ in ref_rows)
    n_clusters_1x = sum(1 for c, n in sizes.items() if n >= 2)
    _release()

    # ---- Nx composed run with per-stage walls/scratch ---------------------
    docs_nx = read_table(spark, corpus_dir, "documents")
    stages = {}
    with M.dedup_cache_scope():
        m = ScratchMeter(spark).start()
        t0 = time.monotonic()
        sh, banded, star = _pipeline_frames(docs_nx, narrow=narrow)
        # materialize the pinned stage-A frames (shingle+band signatures)
        n_banded = banded.count()
        stages["A_shingle_band"] = {
            "wall_sec": round(time.monotonic() - t0, 1),
            "band_rows": n_banded,
            "peak_scratch_bytes": m.stop(),
            "base_scratch_bytes": m.base_bytes,
        }

        m = ScratchMeter(spark).start()
        t0 = time.monotonic()
        edges = M.scoped_pin(star())
        n_edges = edges.count()
        stages["B_candidates_verify"] = {
            "wall_sec": round(time.monotonic() - t0, 1),
            "verified_star_edges": n_edges,
            "peak_scratch_bytes": m.stop(),
            "base_scratch_bytes": m.base_bytes,
        }

        m = ScratchMeter(spark).start()
        t0 = time.monotonic()
        clusters = D.dedup_clusters(docs_nx, edges)
        cstats = clusters.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(
                (F.col("doc_id") / offset).cast("long")
            ).alias("n_replicas"),
        ).where(F.col("n") >= 2)
        agg = cstats.agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.max("n_replicas").alias("max_replicas_per_cluster"),
        ).first()
        n_clusters_nx = agg["n_clusters"]
        max_repl = agg["max_replicas_per_cluster"] or 1
        # replica-0 restriction must equal the 1x clustering bit-for-bit
        rep0 = sorted(
            (r["doc_id"], r["cluster_id"], r["is_keeper"])
            for r in clusters.where(F.col("doc_id") < offset).collect()
        )
        stages["C_star_cc"] = {
            "wall_sec": round(time.monotonic() - t0, 1),
            "nonsingleton_clusters": n_clusters_nx,
            "peak_scratch_bytes": m.stop(),
            "base_scratch_bytes": m.base_bytes,
        }
    _release()

    checks = evaluate_checks(
        rep0,
        ref_rows,
        max_repl,
        n_edges,
        n_edges_1x,
        n_clusters_nx,
        n_clusters_1x,
        factor,
    )
    out = {
        "factor": factor,
        "corpus": corpus_dir,
        "narrowed_verify": narrow,
        "threshold": THRESHOLD,
        "band": BAND,
        "docs_1x": docs_1x.count(),
        "edges_1x": n_edges_1x,
        "nonsingleton_clusters_1x": n_clusters_1x,
        f"edges_{factor}x": n_edges,
        f"expected_edges_{factor}x": factor * n_edges_1x,
        f"nonsingleton_clusters_{factor}x": n_clusters_nx,
        f"expected_clusters_{factor}x": factor * n_clusters_1x,
        "stages": stages,
        "total_wall_sec": round(
            sum(s["wall_sec"] for s in stages.values()), 1
        ),
        "checks": checks,
        "all_green": all(checks.values()),
        "box_calibration": {"pre": pre, "post": box_calibration()},
    }
    os.makedirs(os.path.dirname(out_json), exist_ok=True)
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "stages"}))
    print(json.dumps(stages, indent=1))
    print(f"wrote {out_json} all_green={out['all_green']}")
    spark.stop()
    if rm_corpus and not os.environ.get("KEEP_STRESS_DATA"):
        import shutil

        shutil.rmtree(corpus_dir, ignore_errors=True)
        print(f"removed {corpus_dir}")
    return 0 if out["all_green"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
