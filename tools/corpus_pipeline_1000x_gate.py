"""Gate the FULL composed corpus pipeline at x1000 = 5M docs (r12,
VERDICT r11 #3): every stage of ``run_corpus_pipeline`` ON
(canonicalize NFC, corpus line-dedup, PII redaction, exact dedup,
MinHash star+CC near-dup, n-gram benchmark decontamination, quality,
Gopher repetition, bigram-LM perplexity, NB classifier, DSIR selection,
shard export + manifest), run ONCE as the single composition a 100 TB
user actually executes. The component stages were individually gated
at 5M docs across r10-r11; the composition itself was gated only at 10x
(corpus_pipeline_stress.json, 50k docs).

Corpus: the shared ``scale_stress_1000x_dedup`` dir (replicate_range,
documents only), SHARED-VOCAB variant since r13 (VERDICT r12 #4):
replicas r>0 permute the corpus' FIXED vocabulary via a per-replica
bijection instead of the old per-word ``·rN`` rename; replica 0 stays
bit-identical to 1x. The rename variant made every scaled doc OOV to
the fixed LM reference and holdout, so the ppl/NB stages filtered at
scale on a vocabulary pathology no real crawl has (r12 VERDICT
missing #2) — under shared vocab the fixed models score replicas over
the exact table they were trained on and n_pass_ppl scales ~linearly
(checked by ``ppl_linear_band``).

Design deltas vs the 10x stress gate, both scale-honest:

- HOLDOUT IS FIXED at the 1x corpus' src0 docs for BOTH scales. A
  benchmark holdout does not grow with the training corpus (that is
  the real-world shape), and a 1000x holdout would put ~250k docs
  behind the decontamination broadcast. Consequence (shared-vocab
  corpus): replica-0 fails reproduce the 1x fails exactly (the
  replica-0 identity check), and docs beyond replica 0 add holdout
  collisions at the measured chance rate of the permutation ensemble —
  ``clean_fails_band`` gates the per-replicated-doc rate against the
  two-sided CLEAN_FAIL_REPLICA_SPAN (constants note).
- The bigram-LM reference is FIXED at 1x too (threshold note below:
  a per-scale lm_ref made n_pass_ppl collapse to 0.16% at x1000), so
  ppl becomes per-doc deterministic and joins the replica-0 identity
  stages. NB and DSIR remain corpus-global BY DESIGN (a model trained
  on 1000x data IS a different model — the 10x gate's documented
  discipline): reported and k-gated (DSIR pass == dsir_keep at each
  scale), never replica-0-gated. The trainers are safe at 1000x
  vocabulary because their models are lazy vocab frames / dense
  4096-bucket tables — nothing corpus-sized hits the driver
  (textmodels module contract).
- The replica-0 slice of every PER-DOC stage (exact, neardup, clean,
  quality, gopher) must equal the 1x counts EXACTLY — including
  neardup: replica 0 holds the globally smallest doc_ids, so star
  hubs of mixed buckets stay replica-0 docs, cross-replica edges are
  verification-killed (disjoint shingles), and the replica-0 verified
  edge set is bit-identical to 1x (the argument the composed gate
  proved bit-for-bit at this factor).
- Composition linearity: the x1000 wall must not exceed factor x the
  1x wall (fixed costs amortize; nothing in the stack is super-linear
  — the per-stage gates measured ratios 11.8-392 at this factor).
  Scratch high-water per timed run via ScratchMeter.

The stats come from the pipeline's single Observation (no per-stage
re-runs); the replica-0 slice is ONE extra evaluation of the flag plan
(untimed), same shape as the 10x gate.

Writes artifacts/corpus_pipeline_1000x_gate.json.
Usage: python tools/corpus_pipeline_1000x_gate.py [--factor N] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_1X = "/root/testdata/sf0.1"

# Thresholds: quality stays at the 10x gate's 0.7 (per-doc stage,
# replica-0-gated); ppl 31.5 ~ the 1x p95, NB -3.5 ~ the 1x p10
# (looser than the 10x gate's cuts). DSIR keeps 10% (500 x scale).
# Measured reasons, two failed x1000 runs deep: (1) with the 10x
# cuts the all-stage intersection came out EMPTY (n_retained 0) — an
# empty export exercises neither the shard writer nor the manifest;
# (2) with a PER-SCALE lm_ref the x1000-trained LM's vocabulary is
# 1000x (every replica renames every word), the smoothing mass
# collapses and n_pass_ppl fell to 8,000 of 5M — no absolute cut is
# scale-invariant under a corpus-global model on this corpus. The
# published CCNet pattern trains the quality LM on a TRUSTED
# REFERENCE corpus (Wikipedia) that does not grow with the crawl, so
# lm_ref is FIXED at the 1x non-src0 docs for both scales — which
# also makes ppl per-doc deterministic, so it joins the replica-0
# identity stages below. Every check is threshold-independent;
# non-vacuity is a check of its own.
MAX_PPL = 31.5
MIN_NB_LOG_ODDS = -3.5
MIN_QUALITY = 0.7
DSIR_KEEP_1X = 500

#: banded stages: exact dedup keeps one keeper per cross-replica
#: rewrite-collapse group (measured 0.018% at 10x — gate 0.1%);
#: neardup keepers ride per-replica LSH draws whose per-pair recall at
#: the corpus' J-distribution is ~0.9998, so a handful of the 999 fresh
#: replicas may each drift by a keeper — 1% is generous, 10% would hide
#: a bucket-key-class bug
EXACT_BAND = 0.001
NEARDUP_BAND = 0.01

#: r13 (VERDICT r12 #4) — the corpus is now the SHARED-VOCAB variant
#: (scale_stress.text_mode='shared_vocab': replicas permute the fixed
#: 31-word vocabulary instead of renaming every word), so the fixed 1x
#: LM/holdout see in-vocabulary replicas. Two consequences the checks
#: must band instead of assuming away:
#: Replica r's permutation depends only on r, never on the factor, so
#: every replica's per-doc flags are FACTOR-INDEPENDENT: rates measured
#: on replicas 1-9 at factor 10 transfer exactly to the same replicas
#: at factor 1000, and replicas 10..999 are fresh draws from the same
#: deterministic ensemble. Both checks therefore gate the PER-REPLICA
#: rate (count beyond replica 0, divided by docs beyond replica 0)
#: against a two-sided span measured at factor 10 (r13 calibration run
#: + a per-replica breakdown, artifacts/corpus_pipeline_10x_sharedvocab.json):
#:
#: - decontamination: permuted replicas share chance-level bigrams with
#:   the fixed holdout — and on this corpus (31-word vocab, ~54-token
#:   docs, so each doc covers ~6% of the 961 possible bigrams and the
#:   holdout union covers most of them) chance containment >= 0.2 vs
#:   SOME holdout doc is the COMMON case: measured per-replica
#:   clean-fail rate 0.668-0.702 (mean 0.6834, 9 replicas). Span =
#:   mean +-10% — generous vs the measured +-2.5% replica spread.
#: - ppl: replicas score over the SAME transition table the reference
#:   was trained on (the whole point of the shared-vocab fix — the r12
#:   disjoint-vocab corpus collapsed the at-scale pass rate to 0.25%),
#:   but the ensemble is HEAVY-TAILED: 8 of 9 measured replicas pass
#:   at 0.218-0.233 while replica 5 passes at 0.946 (its permutation
#:   happens to map hot transitions onto hot transitions; no simple
#:   rank structure — measured). With 999 draws the mean concentrates,
#:   but 9 samples bound the high-mode probability only loosely, so
#:   the span is [low mode x ~0.9, mix up to ~45% high mode]. Still
#:   ~2 orders of magnitude above the r12 collapse it exists to catch.
CLEAN_FAIL_REPLICA_SPAN = (0.615, 0.752)
PPL_REPLICA_RATE_SPAN = (0.20, 0.60)

REPLICA0_STAGES = (
    "n_pass_exact",
    "n_pass_neardup",
    "n_pass_clean",
    "n_pass_quality",
    "n_pass_gopher",
    # fixed 1x lm_ref (module docstring) => the LM is identical at both
    # scales and ppl is per-doc deterministic
    "n_pass_ppl",
)


def evaluate_checks(
    s1: dict,
    sN: dict,
    rep0: dict,
    factor: int,
    wall_1x: float,
    wall_nx: float,
    manifest_rows_1x: int,
    manifest_rows_nx: int,
) -> dict:
    """Pass/fail arithmetic, pure for pytest. ``s1``/``sN`` are the
    pipeline Observation stats at 1x / Nx; ``rep0`` the Nx flag counts
    restricted to replica 0."""
    fails_clean_1 = s1["n_input"] - s1["n_pass_clean"]
    fails_clean_n = sN["n_input"] - sN["n_pass_clean"]
    extra_clean_fails = fails_clean_n - fails_clean_1
    n_replicated = sN["n_input"] - s1["n_input"]  # docs beyond replica 0
    return {
        "input_exact": sN["n_input"] == factor * s1["n_input"],
        "exact_dedup_band": abs(sN["n_pass_exact"] - factor * s1["n_pass_exact"])
        <= EXACT_BAND * factor * s1["n_pass_exact"],
        "neardup_band": abs(
            sN["n_pass_neardup"] - factor * s1["n_pass_neardup"]
        )
        <= NEARDUP_BAND * factor * s1["n_pass_neardup"],
        # shared-vocab corpus (r13): replica-0 fails reproduce the 1x
        # fails exactly (identity check below covers the slice); docs
        # beyond replica 0 fail at the measured chance rate of the
        # permutation ensemble (two-sided — module constants)
        "clean_fails_band": n_replicated > 0
        and CLEAN_FAIL_REPLICA_SPAN[0]
        <= extra_clean_fails / n_replicated
        <= CLEAN_FAIL_REPLICA_SPAN[1],
        # the whole point of the shared-vocab fix: replicas must pass
        # ppl at the measured ensemble rate (factor-independent per
        # replica), i.e. n_pass_ppl scales ~linearly in the replica
        # count instead of collapsing the way the disjoint-vocab
        # corpus did (0.25% at x1000, r12)
        "ppl_linear_band": n_replicated > 0
        and PPL_REPLICA_RATE_SPAN[0]
        <= (sN["n_pass_ppl"] - s1["n_pass_ppl"]) / n_replicated
        <= PPL_REPLICA_RATE_SPAN[1],
        "replica0_slice_equals_1x": all(
            rep0.get(k) == s1.get(k) for k in ("n_input",) + REPLICA0_STAGES
        ),
        "dsir_pass_equals_k": (
            s1.get("n_pass_dsir") == DSIR_KEEP_1X
            and sN.get("n_pass_dsir") == DSIR_KEEP_1X * factor
        ),
        "manifest_rows_match": (
            manifest_rows_1x == s1["n_retained"]
            and manifest_rows_nx == sN["n_retained"]
        ),
        "wall_linear": wall_nx <= factor * wall_1x,
        # the export path must actually be exercised at scale (the
        # first x1000 run produced an empty intersection — see the
        # threshold note above)
        "export_nonempty_at_scale": sN["n_retained"] > 0
        and s1["n_retained"] > 0,
    }


def _pipeline_kwargs(docs, lm_ref_1x, scale: int, nb_model: dict) -> dict:
    return dict(
        min_quality=MIN_QUALITY,
        lm_ref=lm_ref_1x,
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
        else os.path.join(REPO, "artifacts", "corpus_pipeline_1000x_gate.json")
    )
    corpus_dir = os.path.join(REPO, "artifacts", f"scale_stress_{factor}x_dedup")

    from bench import box_calibration
    from mapping_timeseries_spark.materialize import dedup_cache_scope
    from mapping_timeseries_spark.operators.textmodels import nb_train
    from mapping_timeseries_spark.plans.corpus_pipeline import (
        flag_corpus,
        run_corpus_pipeline,
    )
    from mapping_timeseries_spark.scratch import (
        ScratchMeter,
        drain,
        spark_local_dirs,
    )
    from mapping_timeseries_spark.session import ensure_runtime_conf, get_spark
    from mapping_timeseries_spark.sources.writers import verify_shard_manifest

    spark = get_spark(
        "corpus-pipeline-1000x",
        master="local[32]",
        shuffle_partitions=256,
        extra_conf={
            "spark.driver.memory": "48g",
            "spark.io.compression.codec": "zstd",
        },
    )
    ensure_runtime_conf(spark)
    spark.range(1000).selectExpr("sum(id)").collect()

    # this gate REQUIRES the shared-vocab text variant (module
    # docstring): a dir replicated under the old disjoint mode makes
    # every replica OOV to the fixed LM/holdout — regenerate it
    marker = os.path.join(corpus_dir, "_corpus_variant.json")
    want_mode = "shared_vocab"
    have_mode = None
    if os.path.isfile(marker):
        with open(marker) as f:
            have_mode = json.load(f).get("text_mode")
    if not os.path.isdir(corpus_dir) or have_mode != want_mode:
        why = "missing" if not os.path.isdir(corpus_dir) else (
            f"text variant {have_mode!r} != {want_mode!r}"
        )
        print(f"{corpus_dir} {why} — replicating {factor}x (one-time)")
        import shutil

        import scale_stress

        shutil.rmtree(corpus_dir, ignore_errors=True)
        t0 = time.monotonic()
        scale_stress.replicate_range(
            spark, factor, corpus_dir, tables=("documents",),
            text_mode=want_mode,
        )
        print(f"replicated in {time.monotonic() - t0:.0f}s")

    def _release():
        import gc

        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        drain(spark_local_dirs(spark))

    pre = box_calibration()
    docs_1x = spark.read.parquet(os.path.join(SF_1X, "documents.parquet"))
    offset = docs_1x.agg(F.max("doc_id")).first()[0] + 1
    # FIXED holdout and FIXED LM reference (module docstring): the 1x
    # src0 docs / 1x non-src0 docs at both scales
    holdout = docs_1x.where(F.col("source") == "src0").select("doc_id", "text")
    lm_ref_1x = docs_1x.where(F.col("source") != "src0")

    # NB model handling (r12 review): nb_train is a full-corpus
    # aggregation pass and deterministic. Every TIMED run trains fresh
    # (the wall must include model training symmetrically at both
    # scales — the measured thing is what a user pays); the untimed
    # replica-0 slice REUSES the model its corpus' timed run trained,
    # instead of re-paying a 5M-doc pass for an identical model.
    _nb_cache: dict = {}

    def _nb(docs, key, fresh):
        if fresh or key not in _nb_cache:
            _nb_cache[key] = nb_train(
                docs.withColumn(
                    "__y", (F.col("source") == "src0").cast("int")
                ),
                "__y",
            )
        return _nb_cache[key]

    def run_once(sf_dir: str, scale: int, out_path: str) -> dict:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        m = ScratchMeter(spark).start()
        with dedup_cache_scope():
            t0 = time.monotonic()
            res = run_corpus_pipeline(
                docs,
                holdout,
                out_path,
                n_shards=16,
                **_pipeline_kwargs(
                    docs, lm_ref_1x, scale, _nb(docs, sf_dir, fresh=True)
                ),
            )
            wall = time.monotonic() - t0
        peak = m.stop()
        manifest = verify_shard_manifest(spark, out_path)
        try:
            n_written = spark.read.parquet(out_path).count()
        except Exception:
            # an all-rejected corpus writes no parquet files at all —
            # record 0 and let export_nonempty_at_scale fail the gate
            n_written = 0
        _release()
        stats = {k: int(v) for k, v in res.stats.items()}
        assert n_written == stats["n_retained"], (n_written, stats)
        return {
            "wall_sec": round(wall, 1),
            "peak_scratch_bytes": peak,
            "stats": stats,
            "manifest_rows": sum(
                v["n_rows"] for v in manifest.get("shards", {}).values()
            ),
            "rows_written": n_written,
        }

    def replica0_counts(sf_dir: str, scale: int) -> dict:
        """Nx flag counts restricted to replica 0 (one extra untimed
        evaluation of the flag plan — the 10x gate's shape)."""
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        with dedup_cache_scope():
            flagged = flag_corpus(
                docs,
                holdout,
                **_pipeline_kwargs(
                    docs, lm_ref_1x, scale, _nb(docs, sf_dir, fresh=False)
                ),
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
        _release()
        return {k: int(v) for k, v in row.items()}

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        # untimed 1x warm-up absorbs JVM/codegen compilation
        run_once(SF_1X, 1, os.path.join(tmp, "warm"))
        r1 = run_once(SF_1X, 1, os.path.join(tmp, "s1"))
        print("1x:", json.dumps(r1), flush=True)
        rN = run_once(corpus_dir, factor, os.path.join(tmp, "sN"))
        print(f"{factor}x:", json.dumps(rN), flush=True)
        rep0 = replica0_counts(corpus_dir, factor)
        print("replica0:", json.dumps(rep0), flush=True)

    checks = evaluate_checks(
        r1["stats"],
        rN["stats"],
        rep0,
        factor,
        r1["wall_sec"],
        rN["wall_sec"],
        r1["manifest_rows"],
        rN["manifest_rows"],
    )
    out = {
        "factor": factor,
        "corpus": corpus_dir,
        "config": {
            "min_quality": MIN_QUALITY,
            "max_ppl": MAX_PPL,
            "min_nb_log_odds": MIN_NB_LOG_ODDS,
            "dsir_keep_1x": DSIR_KEEP_1X,
            "corpus_variant": "shared_vocab (replicas permute the fixed "
            "vocabulary; replica 0 bit-identical to 1x)",
            "clean_fail_replica_span": CLEAN_FAIL_REPLICA_SPAN,
            "ppl_replica_rate_span": PPL_REPLICA_RATE_SPAN,
            "holdout": "FIXED 1x src0 (benchmarks do not scale with the corpus)",
            "lm_ref": "FIXED 1x non-src0 (CCNet trains on a trusted "
            "reference corpus that does not scale with the crawl)",
            "stages": "canonicalize=NFC, line_dedup=keep_first, redact, "
            "exact, minhash(star)+CC, decontam, quality, gopher, "
            "lm_ppl, nb, dsir, shard export(16)+manifest",
        },
        "1x": r1,
        f"{factor}x": rN,
        "replica0_slice": rep0,
        "stage_count_ratios": {
            k: round(rN["stats"][k] / max(r1["stats"][k], 1), 4)
            for k in r1["stats"]
        },
        "wall_ratio": round(rN["wall_sec"] / max(r1["wall_sec"], 1e-9), 1),
        "checks": checks,
        "all_green": all(checks.values()),
        "box_calibration": {"pre": pre, "post": box_calibration()},
    }
    os.makedirs(os.path.dirname(out_json), exist_ok=True)
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k not in ("1x", f"{factor}x")}))
    print(f"wrote {out_json} all_green={out['all_green']}")
    spark.stop()
    return 0 if out["all_green"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
