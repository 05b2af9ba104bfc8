"""1000x spot-gate for the DEDUP/TEXT family core (r10 — the third
decade for the corpus operators; the text family's 100x evidence is
tools/text_100x_gate.py at 500k docs, this takes the linear-by-design
legs to 5M docs on a documents-only corpus).

Corpus: scale_stress.replicate_range(tables=("documents",)) — the
constant-plan broadcast-crossJoin replicator; every replica's text gets
the per-word replica suffix, so cross-replica Jaccard is exactly 0 and
the true dup/near-dup pair graph of the Nx corpus is N disjoint copies
of the 1x graph.

Gate semantics differ per query and are recorded per entry:

- ``exact_dedup`` / ``text_stats_core`` — EXACT: output grain is
  per-distinct-text / per-doc and the algorithms are deterministic and
  rename-invariant, so rows_Nx == N * rows_1x is an identity.
- ``minhash_pairs_scale`` (minhash_lsh_pairs at its defaults) —
  BAND (±10%): LSH recall is
  per-pair stochastic (catch prob 1-(1-J^r)^b), and each replica's
  renamed shingles are a fresh draw, so replica 0's realized catch
  (== the 1x count) is itself one sample of the per-replica
  distribution. N=1000 replicas concentrate the TOTAL tightly around
  N * E[catch], but E[catch] can sit a few percent from the replica-0
  sample — hence a band, not an identity. Every emitted pair is still
  exact-Jaccard verified, so false positives are impossible; the band
  covers recall sampling noise only. The gopher/ngram legs are NOT
  here: gopher's per-gram volume at 5M docs is ~2 hours of honest
  compute, and exact PPJoin's 100x wall (364 s, 18 GB scratch/bucket)
  puts its 1000x run past this box's disk — both already have
  two-decade evidence.

Wall + scratch high-water recorded per query at both scales (bench.py
time_query methodology). Writes artifacts/dedup_1000x_gate.json.
Usage: python tools/dedup_1000x_gate.py [--factor N] [out.json]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # tools/ for lsh_stages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_1X = "/root/testdata/sf0.1"
REPS_1X = 3
REPS_NX = 1
BAND = 0.10  # relative tolerance for the stochastic-recall legs


def _queries():
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.operators.dedup import minhash_lsh_pairs
    from mapping_timeseries_spark.session import ensure_runtime_conf
    from mapping_timeseries_spark.sources.readers import read_table

    def q_minhash_scale(spark, sf_dir):
        ensure_runtime_conf(spark)
        docs = read_table(spark, sf_dir, "documents")
        return minhash_lsh_pairs(docs, threshold=0.5).select(
            "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
        )

    def q_clusters_scale(spark, sf_dir):
        # the clustering CONSUMER at scale (VERDICT r10 #5): star
        # candidates (linear on hot cliques) -> exact-Jaccard verify ->
        # large-star/small-star CC. Output grain is one row per doc, so
        # rows_Nx == N * rows_1x is an IDENTITY even though the edge set
        # is stochastic — the gate proves convergence + linear cost at
        # 5M docs; membership/purity checks live in
        # tools/neardup_composed_gate.py.
        from mapping_timeseries_spark.operators.dedup import dedup_clusters

        ensure_runtime_conf(spark)
        docs = read_table(spark, sf_dir, "documents")
        pairs = minhash_lsh_pairs(docs, threshold=0.5, mode="star")
        return dedup_clusters(docs, pairs)

    # (fn, gate kind, build_timed): CC runs its convergence probes while
    # BUILDING, so its leg times construction inside the timed region
    # (the bench's build_timed contract)
    return {
        "exact_dedup": (entry_mod.q_exact_dedup, "exact", False),
        "text_stats_core": (entry_mod.q_text_stats_core, "exact", False),
        "minhash_pairs_scale": (q_minhash_scale, "band", False),
        "dedup_clusters_scale": (q_clusters_scale, "exact", True),
    }


def main() -> int:
    argv = list(sys.argv[1:])
    factor = 1000
    if "--factor" in argv:
        i = argv.index("--factor")
        factor = int(argv[i + 1])
        del argv[i : i + 2]
    out_json = (
        argv[0]
        if argv
        else os.path.join(REPO, "artifacts", f"dedup_{factor}x_gate.json")
    )
    corpus_dir = os.path.join(
        REPO, "artifacts", f"scale_stress_{factor}x_dedup"
    )
    from bench import box_calibration, time_query
    from mapping_timeseries_spark.scratch import ScratchMeter
    from mapping_timeseries_spark.session import get_spark

    spark = get_spark(
        "dedup-scale-gate",
        master="local[32]",
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
        scale_stress.replicate_range(
            spark, factor, corpus_dir, tables=("documents",)
        )
        print(f"replicated in {time.monotonic() - t0:.0f}s")

    def _release():
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
        # resume only a SAME-FACTOR artifact (ADVICE r10 #4): reusing
        # count_ok rows recorded at a different factor would silently
        # mix scales in all_green
        if prior_doc.get("factor") == factor:
            prior = prior_doc.get("queries", {})
            res = {k: v for k, v in prior.items() if v.get("count_ok")}
    for name, (fn, kind, build_timed) in _queries().items():
        if name in res:
            print(name, "cached:", json.dumps(res[name]), flush=True)
            continue
        n1 = fn(spark, SF_1X).count()
        wall1 = statistics.median(
            time_query(spark, fn, SF_1X, REPS_1X, build_timed=build_timed)
        )
        _release()
        m = ScratchMeter(spark).start()
        nN = fn(spark, corpus_dir).count()
        spark.catalog.clearCache()
        wallN = statistics.median(
            time_query(
                spark, fn, corpus_dir, REPS_NX, build_timed=build_timed
            )
        )
        scratchN = m.stop()
        expected = n1 * factor
        if kind == "exact":
            ok = nN == expected
        else:
            ok = abs(nN - expected) <= BAND * expected
        res[name] = {
            "gate_kind": kind,
            "rows_1x": n1,
            f"rows_{factor}x": nN,
            f"expected_{factor}x": expected,
            "count_ok": ok,
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

    # VERDICT r10 #6: per-stage breakdown of the minhash leg at Nx — the
    # 392x observed wall ratio at the x1000 step needs attributing (band
    # join vs verify) before a hypothetical fourth decade makes it
    # ambiguous. Each stage's upstream is pinned, so a stage wall times
    # that stage's work only.
    stage_key = f"stages_{factor}x"
    if "minhash_pairs_scale" in res and stage_key not in res[
        "minhash_pairs_scale"
    ]:
        import lsh_stages

        from mapping_timeseries_spark import materialize as M
        from mapping_timeseries_spark.sources.readers import read_table

        docs_nx = read_table(spark, corpus_dir, "documents")
        stages = {}
        with M.dedup_cache_scope():
            t0 = time.monotonic()
            sh, banded = lsh_stages.staged_frames(docs_nx)
            n_banded = banded.count()
            stages["shingle_band"] = {
                "wall_sec": round(time.monotonic() - t0, 1),
                "band_rows": n_banded,
            }
            t0 = time.monotonic()
            cand = M.scoped_pin(lsh_stages.candidates(banded, "pairs"))
            n_cand = cand.count()
            stages["band_join_candidates"] = {
                "wall_sec": round(time.monotonic() - t0, 1),
                "candidate_pairs": n_cand,
            }
            t0 = time.monotonic()
            n_ver = lsh_stages.verify(cand, sh).count()
            stages["exact_jaccard_verify"] = {
                "wall_sec": round(time.monotonic() - t0, 1),
                "verified_pairs": n_ver,
            }
        res["minhash_pairs_scale"][stage_key] = stages
        _release()
        print("minhash stage breakdown:", json.dumps(stages), flush=True)
        with open(out_json, "w") as f:
            json.dump({"factor": factor, "queries": res}, f, indent=1)
    out = {
        "factor": factor,
        "corpus": corpus_dir,
        "band": BAND,
        "queries": res,
        "all_green": all(v["count_ok"] for v in res.values()),
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
