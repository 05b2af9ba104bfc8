"""Gate the COMPOSED corpus pipeline at 10x (VERDICT r7 #1).

Every pipeline leg is individually 10x-stress-gated, but
``plans.corpus_pipeline.run_corpus_pipeline`` — the artifact a user
actually runs — had only small-corpus pytest coverage. This script runs
the pipeline WITH EVERY VERDICT-LISTED STAGE ON (canonicalize NFC,
corpus line-dedup, PII redaction, exact + MinHash near-dup dedup,
benchmark decontamination, Gopher repetition, bigram-LM perplexity, NB
classifier, DSIR selection, shard export + manifest) against sf0.1 and against the 10x replicated corpus
(tools/scale_stress.replicate — per-word-renamed replicas, so the true
dup/near-dup/contam graph of 10x is exactly 10 disjoint copies of 1x),
and records into artifacts/corpus_pipeline_stress.json:

- the composed WALL at both scales (one timed run_corpus_pipeline call
  each, after an untimed 1x warm-up run absorbs JVM/codegen startup;
  the call includes model training and the export write — the whole
  thing a user pays),
- per-stage survival counts from the pipeline's single Observation,
- per-stage 10x/1x count ratios,
- shard-manifest verification + row-count identity at both scales.

What "exactly 10x" can and cannot mean here (measured r8, recorded in
the gates — the per-WORD replica renaming that zeroes cross-replica
Jaccard also perturbs content statistics, so three stage classes exist):

- RENAME-INSENSITIVE corpus totals — input count, near-dup (exact-
  Jaccard-verified pairs; within-replica shingle sets are renamed
  consistently), decontamination (within-replica containment) — must
  be EXACTLY 10x as corpus totals. Exact dedup is 10x up to REWRITE
  COLLAPSE: docs whose text canonicalizes/line-dedups to the same
  string (e.g. emptied docs) collide ACROSS replicas — one keeper
  corpus-wide instead of one per replica (measured: 49,921 vs 49,930,
  a 0.018% dip matching one cross-replica collapse group) — gated to
  within 0.1%.
- RENAME-SENSITIVE per-doc stages — quality (the ·rI suffix defeats
  the stopword-bonus match in replicas 1-9), Gopher (suffixes lengthen
  every gram's char coverage) — their corpus totals legitimately
  deviate from 10x ON THIS STRESS CORPUS. The rigorous gate is the
  REPLICA-0 SLICE of the 10x run (replica 0 keeps the original text):
  its per-stage counts must EQUAL the 1x counts bit-for-bit, which
  pins that scaling the corpus 10x does not change any unrenamed
  document's flags. Applied to exact/neardup/clean/quality/gopher.
- CORPUS-GLOBAL model stages — bigram-LM perplexity (smoothing
  denominator carries the 10x vocabulary), NB classifier (class totals
  and vocab are corpus totals), DSIR (log-ratios over corpus bucket
  distributions; Gumbel noise keyed by doc_id, so each replica draws
  differently) — are NOT replica-decomposable BY DESIGN: a corpus-
  level model trained on 10x data IS a different model, even for
  replica-0 docs. Reported, not ratio-gated; DSIR's pass count equals
  its k at each scale by construction, and n_retained (which inherits
  the model-stage drift) is reported with the manifest/row-count
  identity as its gate.

Usage: python tools/corpus_pipeline_stress.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_1X = "/root/testdata/sf0.1"
DIR_10X = os.path.join(REPO, "artifacts", "scale_stress_10x")

#: Stage thresholds chosen from the 1x sf0.1 distributions so every
#: stage is NON-VACUOUS (rejects some docs, keeps some): ppl p10..p95 is
#: 30.2..31.5 (max_ppl 30.8 rejects ~20%), NB log-odds p10..p80 is
#: -3.50..-2.72 (cut at -3.1 keeps ~60%; 0.0 would reject everything —
#: src0 is 5% of the corpus so the prior dominates), quality p10..p90 is
#: 0.69..0.80 (0.7 rejects ~40%).
MAX_PPL = 30.8
MIN_NB_LOG_ODDS = -3.1
MIN_QUALITY = 0.7
DSIR_KEEP_1X = 100

#: Composed-wall growth bound at 10x data: sub-linear is the claim
#: (fixed costs amortize; nothing in the stack is super-linear).
MAX_WALL_RATIO = 8.0

#: corpus totals that must be exactly 10x (rename-insensitive)
EXACT_TOTAL_STAGES = ("n_input", "n_pass_neardup", "n_pass_clean")
#: per-doc stages gated via the replica-0 slice (see module doc)
REPLICA0_STAGES = (
    "n_pass_exact",
    "n_pass_neardup",
    "n_pass_clean",
    "n_pass_quality",
    "n_pass_gopher",
)


def _pipeline_kwargs(docs, scale: int, nb_model: dict) -> dict:
    """One source of truth for the stage config, shared by the timed
    run (run_corpus_pipeline) and the replica-0 gate (flag_corpus)."""
    return dict(
        min_quality=MIN_QUALITY,
        lm_ref=docs.where(F.col("source") != "src0"),
        max_ppl=MAX_PPL,
        nb_model=nb_model,
        min_nb_log_odds=MIN_NB_LOG_ODDS,
        canonicalize="NFC",
        line_dedup_mode="keep_first",
        redact=True,
        gopher_filter=True,
        dsir_target=docs.where(F.col("source") == "src0"),
        dsir_keep=DSIR_KEEP_1X * scale,
    )


def _nb(docs) -> dict:
    from mapping_timeseries_spark.operators.textmodels import nb_train

    return nb_train(
        docs.withColumn("__y", (F.col("source") == "src0").cast("int")),
        "__y",
    )


def run_once(spark, sf_dir: str, scale: int, out_path: str) -> dict:
    from mapping_timeseries_spark.materialize import dedup_cache_scope
    from mapping_timeseries_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )
    from mapping_timeseries_spark.sources.writers import verify_shard_manifest

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    holdout = docs.where(F.col("source") == "src0").select("doc_id", "text")
    with dedup_cache_scope():
        t0 = time.monotonic()
        res = run_corpus_pipeline(
            docs,
            holdout,
            out_path,
            n_shards=16,
            **_pipeline_kwargs(docs, scale, _nb(docs)),
        )
        wall = time.monotonic() - t0
    spark.catalog.clearCache()
    manifest = verify_shard_manifest(spark, out_path)
    n_written = spark.read.parquet(out_path).count()
    stats = {k: int(v) for k, v in res.stats.items()}
    assert n_written == stats["n_retained"], (n_written, stats)
    return {
        "wall_sec": round(wall, 2),
        "stats": stats,
        "manifest_shards": len(manifest.get("shards", {})),
        "manifest_rows": sum(
            v["n_rows"] for v in manifest.get("shards", {}).values()
        ),
        "rows_written": n_written,
    }


def replica0_counts(spark, sf_dir: str, scale: int, offset: int) -> dict:
    """Per-stage pass counts of the 10x run RESTRICTED to replica 0
    (doc_id < offset — the replica whose text is unrenamed): must equal
    the 1x counts exactly for every per-doc stage. Untimed (the gate
    re-evaluates the flag plan once; the wall measurement above is the
    user-facing number)."""
    from mapping_timeseries_spark.materialize import dedup_cache_scope
    from mapping_timeseries_spark.plans.corpus_pipeline import flag_corpus

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    holdout = docs.where(F.col("source") == "src0").select("doc_id", "text")
    with dedup_cache_scope():
        flagged = flag_corpus(
            docs, holdout, **_pipeline_kwargs(docs, scale, _nb(docs))
        )
        row = (
            flagged.where(F.col("doc_id") < offset)
            .agg(
                F.count(F.lit(1)).alias("n_input"),
                *[
                    F.sum(c).alias(f"n_{c}")
                    for c in flagged.columns
                    if c.startswith("pass_")
                ],
            )
            .first()
            .asDict()
        )
    spark.catalog.clearCache()
    return {k: int(v) for k, v in row.items()}


def main() -> int:
    out_json = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, "artifacts", "corpus_pipeline_stress.json")
    )
    from bench import box_calibration
    from mapping_timeseries_spark.session import get_spark

    if not os.path.isdir(DIR_10X):
        print(f"{DIR_10X} missing — generating via scale_stress.replicate")
        sys.path.insert(0, os.path.join(REPO, "tools"))
        import scale_stress

        spark = get_spark(
            "replicate10x",
            master="local[32]",
            extra_conf={"spark.driver.memory": "16g"},
        )
        scale_stress.replicate(spark, 10, DIR_10X)
        spark.stop()

    pre = box_calibration()
    spark = get_spark(
        "corpus-pipeline-stress",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    import tempfile

    # replica offset: scale_stress uses 1 + max(doc_id at 1x)
    max_id = (
        spark.read.parquet(os.path.join(SF_1X, "documents.parquet"))
        .agg(F.max("doc_id"))
        .first()[0]
    )
    offset = int(max_id) + 1

    with tempfile.TemporaryDirectory() as tmp:
        # untimed warm-up absorbs JVM/codegen compilation
        run_once(spark, SF_1X, 1, os.path.join(tmp, "warm"))
        r1 = run_once(spark, SF_1X, 1, os.path.join(tmp, "s1"))
        r10 = run_once(spark, DIR_10X, 10, os.path.join(tmp, "s10"))
    rep0 = replica0_counts(spark, DIR_10X, 10, offset)
    post = box_calibration()

    ratios = {
        k: round(r10["stats"][k] / max(r1["stats"][k], 1), 4)
        for k in r1["stats"]
    }
    wall_ratio = round(r10["wall_sec"] / max(r1["wall_sec"], 1e-9), 2)
    rep0_match = {
        k: (rep0.get(k), r1["stats"].get(k), rep0.get(k) == r1["stats"].get(k))
        for k in ("n_input",) + REPLICA0_STAGES
    }
    gates = {
        "wall_ratio_sublinear": wall_ratio <= MAX_WALL_RATIO,
        "rename_insensitive_totals_exactly_10x": all(
            ratios[k] == 10.0 for k in EXACT_TOTAL_STAGES
        ),
        "exact_dedup_within_rewrite_collapse_band": abs(
            ratios["n_pass_exact"] - 10.0
        )
        <= 0.01,
        "replica0_slice_equals_1x": all(v[2] for v in rep0_match.values()),
        "dsir_pass_equals_k": (
            r1["stats"].get("n_pass_dsir") == DSIR_KEEP_1X
            and r10["stats"].get("n_pass_dsir") == DSIR_KEEP_1X * 10
        ),
        "manifest_verified_rows_match": (
            r1["manifest_rows"] == r1["stats"]["n_retained"]
            and r10["manifest_rows"] == r10["stats"]["n_retained"]
        ),
    }
    out = {
        "config": {
            "min_quality": MIN_QUALITY,
            "max_ppl": MAX_PPL,
            "min_nb_log_odds": MIN_NB_LOG_ODDS,
            "dsir_keep_1x": DSIR_KEEP_1X,
            "stages": "canonicalize=NFC, line_dedup=keep_first, redact, "
            "exact, minhash+CC, decontam, quality, gopher, "
            "lm_ppl, nb, dsir, shard export(16)+manifest",
        },
        "1x": r1,
        "10x": r10,
        "stage_count_ratios_10x_over_1x": ratios,
        "replica0_slice_vs_1x": {
            k: {"replica0_at_10x": v[0], "at_1x": v[1], "equal": v[2]}
            for k, v in rep0_match.items()
        },
        "model_stage_note": (
            "ppl/classifier/retained are corpus-global model stages — a "
            "10x-trained model IS a different model, so their counts are "
            "reported, not ratio-gated (module docstring)"
        ),
        "wall_ratio": wall_ratio,
        "gates": gates,
        "box_calibration": {"pre": pre, "post": post},
    }
    print(json.dumps(out, indent=1))
    ok = all(gates.values())
    if ok:
        with open(out_json, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {out_json}")
    else:
        print("GATES FAILED — artifact not written")
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
