"""Measure PPJoin candidate growth: 1x (sf0.1) vs 10x (scale_stress_10x).

ngram_jaccard is the one headline query whose cost is inherently
superlinear in shared vocabulary; its scale story rests on the PPJoin
filter stack (prefix + length + positional) keeping the candidate set —
the rows that reach exact verification — SUB-quadratic in corpus size.
This script counts, at both corpora and the registry settings
(word bigrams, J >= 0.5):

- n_docs and total shingle occurrences (the corpus size axes),
- naive inverted-index candidates (pairs sharing ANY shingle — the
  quadratic counterfactual a plain inverted join would verify),
- PPJoin candidates (``ngram_jaccard_pairs(..., candidates_only=True)``),
- true result pairs,

and writes one JSON artifact. The stress corpus renames every shingle
per replica (tools/scale_stress.py: cross-replica Jaccard is exactly 0
by design), so the TRUE pair graph is 10 disjoint copies of 1x and the
correct candidate growth is exactly 10x — the measurement pins that the
join machinery adds no super-linear term of its own (shared-vocabulary
blowup lives WITHIN each replica, where the filter stack's collapse
ratio — naive 36.5M -> PPJoin 1.5M -> 256 true at 1x — is the
evidence). Wall-clock growth of the full query is the spill check (the
r5 verdict asked for exactly this measurement).

Usage: python tools/ppjoin_growth.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mapping_timeseries_spark.materialize import scoped_pin  # noqa: E402
from mapping_timeseries_spark.operators.dedup import (  # noqa: E402
    _shingled,
    ngram_jaccard_pairs,
)
from mapping_timeseries_spark.session import get_spark  # noqa: E402
from mapping_timeseries_spark.sources.readers import read_table  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPORA = {
    "1x": "/root/testdata/sf0.1",
    "10x": os.path.join(REPO, "artifacts", "scale_stress_10x"),
}


def measure(spark, sf_dir: str) -> dict:
    docs = read_table(spark, sf_dir, "documents")
    sh = scoped_pin(_shingled(docs, "text", 2))
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    n_docs = docs.count()
    n_occ = inv.count()
    # naive counterfactual: sum over shingles of C(df, 2) — the distinct
    # pair count a plain inverted-index join would generate before any
    # filter (cheap to compute exactly from the df histogram; counting
    # the distinct pairs themselves at 10x IS the quadratic blowup)
    naive = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("n"))
        .collect()[0]["n"]
    )
    # bench.py timing discipline (r7): one untimed warm run (JIT/codegen
    # compile, page cache) then MEDIAN of 3 timed runs with the plan
    # caches cleared between each, so BOTH scales are measured
    # steady-state cold-cache — previously the 1x numbers carried the
    # session's cold-start and the full query reused the candidate
    # run's pins, making the growth ratio incomparable across stages;
    # the median absorbs one noisy rep (this box is multi-tenant)
    import statistics

    spark = docs.sparkSession

    def timed(fn):
        spark.catalog.clearCache()
        out = fn()
        reps = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            out = fn()
            reps.append(time.monotonic() - t0)
        return out, statistics.median(reps)

    ppjoin, t_cand = timed(
        lambda: ngram_jaccard_pairs(
            docs, threshold=0.5, candidates_only=True
        ).count()
    )
    true_pairs, t_full = timed(
        lambda: ngram_jaccard_pairs(docs, threshold=0.5).count()
    )
    return {
        "n_docs": n_docs,
        "n_shingle_occurrences": n_occ,
        "naive_inverted_candidates": int(naive),
        "ppjoin_candidates": ppjoin,
        "true_pairs": true_pairs,
        "candidate_count_sec": round(t_cand, 2),
        "full_query_sec": round(t_full, 2),
    }


def main() -> int:
    out_path = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, "artifacts", "ppjoin_growth.json")
    )
    spark = get_spark(
        "ppjoin-growth",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={"spark.driver.memory": "16g"},
    )
    res = {}
    for tag, sf_dir in CORPORA.items():
        if not os.path.isdir(sf_dir):
            print(f"skipping {tag}: {sf_dir} missing")
            continue
        res[tag] = measure(spark, sf_dir)
        print(tag, json.dumps(res[tag]))
    if "1x" in res and "10x" in res:
        res["growth"] = {
            k: round(res["10x"][k] / max(res["1x"][k], 1), 2)
            for k in (
                "n_docs",
                "naive_inverted_candidates",
                "ppjoin_candidates",
                "true_pairs",
            )
        }
        print("growth", json.dumps(res["growth"]))
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
