"""Hot-clique gate (VERDICT r8 #1): measure LSH candidate growth on the
adversarial input shape for near-dup dedup — a planted clique of k
near-identical template documents (a fixed ~40-word boilerplate body
plus a per-doc counter token, so every body is byte-distinct and
SURVIVES exact dedup while pairwise bigram Jaccard stays ~0.9).

What is pinned, per k on a grid up to 10k:

- ``cand_pairs``: all-pairs within-bucket candidates (the
  ``minhash_lsh_pairs(mode='pairs')`` generator) — grows ~k²/2·p with
  p ≈ 1-(1-J^r)^b ≈ 1 at J≈0.9, i.e. ~5·10⁷ at k=10⁴ and a dead job at
  the k=10⁶ boilerplate cliques real web corpora contain.
- ``cand_star``: star candidates (``mode='star'``, the corpus
  pipeline's clustering default) — bounded by docs × bands, exactly
  linear regardless of bucket skew.
- ``pairs_join_volume``: the analytic all-pairs join output (sum of
  sz·(sz-1)/2 over (band, bucket) groups — one cheap aggregation, no
  join) — ~4·10⁸ rows at k=10⁴ because every band's single hot bucket
  holds the whole clique.
- star END-TO-END at every k (candidates -> exact-Jaccard verify ->
  connected components): wall seconds plus the cluster invariant (all
  k clique members in ONE cluster with one keeper — proving the star
  edge set spans the clique, not just that it is small).
- pairs end-to-end only at k <= PAIRS_E2E_MAX; the all-pairs CANDIDATE
  COUNT alone is attempted at every k — in a SUBPROCESS, because at
  k=10⁴ it dies with an executor OutOfMemoryError that takes the whole
  local JVM down with it (each band's bucket self-join lands its
  ~5·10⁷ output rows on ONE task; measured — the first in-process run
  of this gate lost the py4j gateway and could not even restart the
  session). The gate RECORDS that death as the measured counterfactual
  the star mode exists to prevent.

Writes artifacts/hot_clique_gate.json.

Usage: python tools/hot_clique_gate.py [out.json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mapping_timeseries_spark.operators.dedup import (  # noqa: E402
    _band_frame,
    _lsh_candidates,
    _shingled,
    dedup_clusters,
    dedup_cache_scope,
    minhash_lsh_pairs,
)
from mapping_timeseries_spark.materialize import scoped_pin  # noqa: E402
from mapping_timeseries_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

K_GRID = [500, 1000, 2000, 10_000]
PAIRS_E2E_MAX = 2000
N_NOISE = 200
THRESHOLD = 0.5

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "amber", "basalt",
    "cobalt", "dune", "ember", "fjord", "garnet", "harbor", "isle",
    "jade", "krill", "lagoon", "mesa", "nadir",
]


def clique_corpus(spark, k: int):
    rng = np.random.default_rng(41)
    base = " ".join(rng.choice(WORDS, 40))
    rows = [(i, f"{base} snapshot {i}") for i in range(k)]
    for j in range(N_NOISE):
        rows.append((10_000_000 + j, " ".join(rng.choice(WORDS, 40))))
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(32)


def run_e2e(docs, mode: str) -> tuple[float, dict]:
    """minhash_lsh_pairs -> dedup_clusters, timed; returns cluster shape."""
    t0 = time.time()
    with dedup_cache_scope():
        pairs = minhash_lsh_pairs(docs, threshold=THRESHOLD, mode=mode)
        cl = dedup_clusters(docs, pairs)
        agg = (
            cl.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("sz"), F.sum("is_keeper").alias("nk"))
            .agg(
                F.max("sz").alias("max_cluster"),
                F.count(F.lit(1)).alias("n_clusters"),
                F.sum("nk").alias("n_keepers"),
            )
            .first()
            .asDict()
        )
    return round(time.time() - t0, 2), agg


def main(out_path: str) -> None:
    spark = get_spark()
    results = []
    for k in K_GRID:
        with dedup_cache_scope():
            docs = scoped_pin(clique_corpus(spark, k))
            n_docs = docs.count()
            with dedup_cache_scope():
                sh = scoped_pin(
                    _shingled(docs, "text", 2).where(F.col("n_shingles") > 0)
                )
                banded = scoped_pin(_band_frame(sh, 32, 8))
                n_banded = banded.count()
                # analytic all-pairs join output: one aggregation, no join
                join_volume = int(
                    banded.groupBy("band", "bucket")
                    .agg(F.count(F.lit(1)).alias("sz"))
                    .agg(F.sum(F.col("sz") * (F.col("sz") - 1) / 2))
                    .first()[0]
                )
                t0 = time.time()
                cand_star = _lsh_candidates(banded, "star").count()
                t_star_cand = round(time.time() - t0, 2)
            # all-pairs candidate count in a SUBPROCESS: its OOM at k=10⁴
            # must not take this gate's JVM down (module docstring)
            t0 = time.time()
            cand_pairs = pairs_cand_died = None
            try:
                proc = subprocess.run(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--pairs-count",
                        str(k),
                    ],
                    capture_output=True,
                    text=True,
                    timeout=900,
                )
            except subprocess.TimeoutExpired:
                # a thrashing (rather than promptly-OOMing) all-pairs job must
                # be RECORDED as a death, not crash the gate and lose every
                # per-k result gathered so far (ADVICE r9 #2)
                proc = None
                pairs_cand_died = "timeout"
            t_pairs_cand = round(time.time() - t0, 2)
            if proc is not None:
                for ln in proc.stdout.splitlines():
                    if ln.startswith("PAIRS_COUNT="):
                        cand_pairs = int(ln.split("=", 1)[1])
                if cand_pairs is None:
                    tail = (proc.stdout + proc.stderr)[-4000:]
                    for marker in ("OutOfMemoryError", "SparkException"):
                        if marker in tail:
                            pairs_cand_died = marker
                            break
                    else:
                        pairs_cand_died = f"subprocess rc={proc.returncode}"

            wall_star, shape_star = run_e2e(docs, "star")
            row = {
                "k": k,
                "n_docs": n_docs,
                "n_banded": n_banded,
                "pairs_join_volume": join_volume,
                "cand_star": cand_star,
                "cand_pairs": cand_pairs,
                "pairs_cand_died": pairs_cand_died,
                "t_cand_star_s": t_star_cand,
                "t_cand_pairs_s": t_pairs_cand,
                "wall_star_e2e_s": wall_star,
                # the spanning proof: the whole clique lands in ONE cluster
                # with ONE keeper (max_cluster == k), noise docs singleton
                "star_max_cluster": shape_star["max_cluster"],
                "star_n_keepers": shape_star["n_keepers"],
                "star_clique_spanned": shape_star["max_cluster"] == k,
            }
            if k <= PAIRS_E2E_MAX:
                wall_pairs, shape_pairs = run_e2e(docs, "pairs")
                row["wall_pairs_e2e_s"] = wall_pairs
                row["pairs_max_cluster"] = shape_pairs["max_cluster"]
                row["clusters_equal"] = (
                    shape_pairs["max_cluster"] == shape_star["max_cluster"]
                    and shape_pairs["n_keepers"] == shape_star["n_keepers"]
                )
            results.append(row)
            print(json.dumps(row), flush=True)

    # linearity pin: star candidates per doc are flat across the grid;
    # the all-pairs join volume per doc grows ~linearly with k (total
    # ~k²), and its candidate count either measures quadratic or DIES
    star_per_doc = [r["cand_star"] / r["n_docs"] for r in results]
    measured = [r for r in results if r["cand_pairs"] is not None]
    pairs_growth = (
        measured[-1]["cand_pairs"] / measured[0]["cand_pairs"]
        if len(measured) > 1
        else None
    )
    k_growth = (
        measured[-1]["k"] / measured[0]["k"] if len(measured) > 1 else None
    )
    vol_growth = results[-1]["pairs_join_volume"] / results[0][
        "pairs_join_volume"
    ]
    summary = {
        "k_grid": K_GRID,
        "star_cand_per_doc": [round(x, 2) for x in star_per_doc],
        "star_linear": max(star_per_doc) <= 1.5 * min(star_per_doc),
        "pairs_total_growth_measured": (
            round(pairs_growth, 1) if pairs_growth else None
        ),
        "pairs_quadratic": (
            pairs_growth >= 0.5 * k_growth**2 if pairs_growth else None
        ),
        "pairs_volume_growth": round(vol_growth, 1),
        "pairs_died_at": [
            r["k"] for r in results if r["pairs_cand_died"] is not None
        ],
        "rows": results,
    }
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print(f"wrote {out_path}")
    spark.stop()


def pairs_count(k: int) -> None:
    """Subprocess entry: all-pairs candidate count for clique size k.
    Prints PAIRS_COUNT=n on success; dies with the OOM otherwise."""
    spark = get_spark()
    docs = clique_corpus(spark, k)
    sh = _shingled(docs, "text", 2).where(F.col("n_shingles") > 0)
    with dedup_cache_scope():
        banded = scoped_pin(_band_frame(sh, 32, 8))
        print(f"PAIRS_COUNT={_lsh_candidates(banded, 'pairs').count()}")
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--pairs-count":
        pairs_count(int(sys.argv[2]))
        raise SystemExit(0)
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "artifacts", "hot_clique_gate.json"
    )
    main(out)
