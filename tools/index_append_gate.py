"""Persisted-index APPEND paths at scale (r12, VERDICT r11 #5): the
append==rebuild invariant for `append_minhash_index` and
`ivf_index_append` was pytest-pinned only at fixture scale (hundreds of
rows) — this gate runs the operators' whole value claim at the decade
the rest of the dedup family is gated at:

- MinHash LSH index at 5M docs (factor 1000 documents corpus, the
  shared scale_stress_1000x_dedup dir): build on the 90% base (replicas
  0-899), append the 10% batch (replicas 900-999), and independently
  REBUILD from the full corpus. The appended index must equal the
  rebuilt one EXACTLY — row counts and an order-free decimal hash-sum
  over both stored frames (bands: xxhash64(doc_id, band, bucket);
  hash sets: xxhash64(doc_id, n_shingles, __hset); the committed
  artifact predates the hash-set index and hashed the string shingles
  under the same "minhash_shingles" key) —
  and the append wall must beat the rebuild wall (the operator exists
  so a 10% ingest does not pay a 100% re-index).
- IVF index at 2M vectors (factor 1000 embeddings corpus, its own dir:
  replicate_range passthrough-copies unlisted tables at 1x, so sharing
  the documents dir would clobber the 5M-doc corpus): same
  base/batch/rebuild protocol against the FROZEN base-seeded centroids
  (the documented frozen-quantizer contract — appending never
  re-quantizes), equality = per-row hash-sum + count over
  (vec_id, centroid_id) plus the committed meta row counts.

Banding is the engine's one MinHash family; the index-meta guard is
exercised implicitly (build commits the family, the append loads it).

Expectations are EXACT (not banded): assignment and banding are
deterministic given the inputs, and append vs rebuild see identical
inputs — any drift is a bug, the linear-expectation discipline that
caught the r11 bucket-key saturation applied to the index lifecycle.

Index dirs are deleted after the gate (only the JSON artifact stays).
Writes artifacts/index_append_gate.json.
Usage: python tools/index_append_gate.py [--factor N] [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_1X = "/root/testdata/sf0.1"
BASE_FRACTION = 0.9  # replicas [0, 0.9*factor) are the standing index


def evaluate_checks(
    mh_bands: tuple[int, str],
    mh_bands_rebuild: tuple[int, str],
    mh_shingles: tuple[int, str],
    mh_shingles_rebuild: tuple[int, str],
    ivf_lists: tuple[int, str],
    ivf_lists_rebuild: tuple[int, str],
    mh_append_wall: float,
    mh_rebuild_wall: float,
    ivf_append_wall: float,
    ivf_rebuild_wall: float,
    bm25_postings: tuple[int, str] | None = None,
    bm25_postings_rebuild: tuple[int, str] | None = None,
    bm25_dl: tuple[int, str] | None = None,
    bm25_dl_rebuild: tuple[int, str] | None = None,
    bm25_append_wall: float | None = None,
    bm25_rebuild_wall: float | None = None,
) -> dict:
    """Pass/fail arithmetic, pure for pytest (the soak-gate pattern).
    Each frame is summarized as (row_count, decimal_hash_sum_str); the
    append path must equal the rebuild path exactly, and each append
    wall must undercut its rebuild wall. The BM25 leg (r13, VERDICT
    r12 #5 — the last append path that had only fixture-scale pins) is
    optional-None for the r12-artifact shape but REQUIRED whenever any
    bm25 argument is given."""
    checks = {
        "minhash_bands_equal": mh_bands == mh_bands_rebuild,
        "minhash_shingles_equal": mh_shingles == mh_shingles_rebuild,
        "ivf_lists_equal": ivf_lists == ivf_lists_rebuild,
        "minhash_append_cheaper": mh_append_wall < mh_rebuild_wall,
        "ivf_append_cheaper": ivf_append_wall < ivf_rebuild_wall,
    }
    bm25_args = (
        bm25_postings, bm25_postings_rebuild, bm25_dl, bm25_dl_rebuild,
        bm25_append_wall, bm25_rebuild_wall,
    )
    if any(a is not None for a in bm25_args):
        assert all(a is not None for a in bm25_args), "partial bm25 leg"
        checks["bm25_postings_equal"] = bm25_postings == bm25_postings_rebuild
        checks["bm25_dl_equal"] = bm25_dl == bm25_dl_rebuild
        checks["bm25_append_cheaper"] = bm25_append_wall < bm25_rebuild_wall
    return checks


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
        else os.path.join(REPO, "artifacts", "index_append_gate.json")
    )
    docs_dir = os.path.join(REPO, "artifacts", f"scale_stress_{factor}x_dedup")
    emb_dir = os.path.join(REPO, "artifacts", f"scale_stress_{factor}x_embed")
    work = os.path.join(REPO, "artifacts", "index_append_work")

    from pyspark.sql import functions as F

    from bench import box_calibration
    from mapping_timeseries_spark.materialize import scoped_pin
    from mapping_timeseries_spark.operators import dedup as D
    from mapping_timeseries_spark.operators import similarity as S
    from mapping_timeseries_spark.scratch import drain, spark_local_dirs
    from mapping_timeseries_spark.session import ensure_runtime_conf, get_spark
    from mapping_timeseries_spark.sources.readers import read_table

    spark = get_spark(
        "index-append-gate",
        master="local[32]",
        shuffle_partitions=128,
        extra_conf={
            "spark.driver.memory": "40g",
            "spark.io.compression.codec": "zstd",
        },
    )
    ensure_runtime_conf(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import scale_stress

    for d, tables in ((docs_dir, ("documents",)), (emb_dir, ("embeddings",))):
        if not os.path.isdir(d):
            print(f"{d} missing — replicating {factor}x (one-time)")
            t0 = time.monotonic()
            scale_stress.replicate_range(spark, factor, d, tables=tables)
            print(f"replicated {tables} in {time.monotonic() - t0:.0f}s")

    def _release():
        import gc

        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        drain(spark_local_dirs(spark))

    pre = box_calibration()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out: dict = {"factor": factor, "base_fraction": BASE_FRACTION}

    def dec_sum(df, expr):
        """Order-free exact checksum: decimal sum of a per-row xxhash64.
        Returned as a string (JSON-safe at 38 digits)."""
        v = df.agg(F.sum(expr.cast("decimal(38,0)")).alias("s")).first()["s"]
        return str(v)

    # ---- MinHash leg at 5M docs ------------------------------------------
    docs_1x = read_table(spark, SF_1X, "documents")
    doc_off = docs_1x.agg(F.max("doc_id")).first()[0] + 1
    cut = int(factor * BASE_FRACTION) * doc_off
    docs = read_table(spark, docs_dir, "documents")
    base = docs.where(F.col("doc_id") < cut)
    batch = docs.where(F.col("doc_id") >= cut)
    out["minhash_docs_base"] = base.count()
    out["minhash_docs_batch"] = batch.count()

    mh_app = os.path.join(work, "mh_append")
    mh_reb = os.path.join(work, "mh_rebuild")
    t0 = time.monotonic()
    D.build_minhash_index(base, mh_app)
    out["minhash_build_base_wall_sec"] = round(time.monotonic() - t0, 1)
    _release()
    t0 = time.monotonic()
    D.append_minhash_index(batch, mh_app)
    out["minhash_append_wall_sec"] = round(time.monotonic() - t0, 1)
    _release()
    t0 = time.monotonic()
    D.build_minhash_index(docs, mh_reb)
    out["minhash_rebuild_wall_sec"] = round(time.monotonic() - t0, 1)
    _release()

    def mh_summary(path):
        bands, sh, _meta = D.load_minhash_index(spark, path)
        b = (
            bands.count(),
            dec_sum(bands, F.xxhash64("doc_id", "band", "bucket")),
        )
        s = (
            sh.count(),
            dec_sum(
                sh,
                F.xxhash64("doc_id", "n_shingles", "__hset"),
            ),
        )
        return b, s

    mh_bands_a, mh_sh_a = mh_summary(mh_app)
    mh_bands_r, mh_sh_r = mh_summary(mh_reb)
    out["minhash_bands"] = {"append": mh_bands_a, "rebuild": mh_bands_r}
    out["minhash_shingles"] = {"append": mh_sh_a, "rebuild": mh_sh_r}
    out["minhash_wall_ratio_rebuild_over_append"] = round(
        out["minhash_rebuild_wall_sec"]
        / max(out["minhash_append_wall_sec"], 1e-9),
        1,
    )
    print("minhash leg:", json.dumps({k: v for k, v in out.items() if k.startswith("minhash")}), flush=True)
    shutil.rmtree(mh_app, ignore_errors=True)
    shutil.rmtree(mh_reb, ignore_errors=True)
    _release()

    # ---- BM25 leg at 5M docs (r13, VERDICT r12 #5) -----------------------
    # the last incremental-index path that carried only fixture-scale
    # append==rebuild pins — the exact class where the MinHash O(index)
    # append re-scan hid until r12's value-claim gate. Same protocol:
    # build on the 90% base, append the 10% batch, independently rebuild
    # from the full corpus; stored frames must be EXACTLY equal
    # (count + order-free decimal hash-sum) and append wall < rebuild.
    from mapping_timeseries_spark.operators import search as SE

    bm_app = os.path.join(work, "bm25_append")
    bm_reb = os.path.join(work, "bm25_rebuild")
    t0 = time.monotonic()
    SE.bm25_index_write(base, bm_app)
    out["bm25_build_base_wall_sec"] = round(time.monotonic() - t0, 1)
    _release()
    t0 = time.monotonic()
    SE.bm25_index_append(batch, bm_app)
    out["bm25_append_wall_sec"] = round(time.monotonic() - t0, 1)
    _release()
    t0 = time.monotonic()
    SE.bm25_index_write(docs, bm_reb)
    out["bm25_rebuild_wall_sec"] = round(time.monotonic() - t0, 1)
    _release()

    def bm_summary(path):
        idx = SE.bm25_index_load(spark, path)  # validates meta counts
        p = (
            idx["postings"].count(),
            dec_sum(idx["postings"], F.xxhash64("wh", "doc_id", "tf")),
        )
        d = (
            idx["dl"].count(),
            dec_sum(idx["dl"], F.xxhash64("doc_id", "dl")),
        )
        return p, d

    bm_post_a, bm_dl_a = bm_summary(bm_app)
    bm_post_r, bm_dl_r = bm_summary(bm_reb)
    out["bm25_postings"] = {"append": bm_post_a, "rebuild": bm_post_r}
    out["bm25_dl"] = {"append": bm_dl_a, "rebuild": bm_dl_r}
    out["bm25_wall_ratio_rebuild_over_append"] = round(
        out["bm25_rebuild_wall_sec"]
        / max(out["bm25_append_wall_sec"], 1e-9),
        1,
    )
    print("bm25 leg:", json.dumps({k: v for k, v in out.items() if k.startswith("bm25")}), flush=True)
    shutil.rmtree(bm_app, ignore_errors=True)
    shutil.rmtree(bm_reb, ignore_errors=True)
    _release()

    # ---- IVF leg at 2M vectors -------------------------------------------
    emb_1x = read_table(spark, SF_1X, "embeddings")
    vec_off = emb_1x.agg(F.max("vec_id")).first()[0] + 1
    vcut = int(factor * BASE_FRACTION) * vec_off
    emb = read_table(spark, emb_dir, "embeddings")
    ebase = emb.where(F.col("vec_id") < vcut)
    ebatch = emb.where(F.col("vec_id") >= vcut)
    out["ivf_vecs_base"] = ebase.count()
    out["ivf_vecs_batch"] = ebatch.count()

    # frozen quantizer: seeded from the BASE (what a standing index has);
    # the rebuild uses the SAME centroids — re-quantizing is a rebuild
    # decision, not an append (ivf_index_append refuses a drifted fp)
    ivf_app = os.path.join(work, "ivf_append")
    ivf_reb = os.path.join(work, "ivf_rebuild")
    with D.dedup_cache_scope():
        centroids = scoped_pin(S.ivf_seed_centroids(ebase, nlist=64))
        centroids.count()
        t0 = time.monotonic()
        S.ivf_build_index(ebase, centroids, ivf_app)
        out["ivf_build_base_wall_sec"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        S.ivf_index_append(ebatch, centroids, ivf_app)
        out["ivf_append_wall_sec"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        S.ivf_build_index(emb, centroids, ivf_reb)
        out["ivf_rebuild_wall_sec"] = round(time.monotonic() - t0, 1)
    _release()

    def ivf_summary(path):
        lists = S.ivf_index_load(spark, path)
        return (
            lists.count(),
            dec_sum(lists, F.xxhash64("vec_id", "centroid_id")),
        )

    ivf_a = ivf_summary(ivf_app)
    ivf_r = ivf_summary(ivf_reb)
    out["ivf_lists"] = {"append": ivf_a, "rebuild": ivf_r}
    out["ivf_wall_ratio_rebuild_over_append"] = round(
        out["ivf_rebuild_wall_sec"] / max(out["ivf_append_wall_sec"], 1e-9), 1
    )
    print("ivf leg:", json.dumps({k: v for k, v in out.items() if k.startswith("ivf")}), flush=True)

    checks = evaluate_checks(
        mh_bands_a,
        mh_bands_r,
        mh_sh_a,
        mh_sh_r,
        ivf_a,
        ivf_r,
        out["minhash_append_wall_sec"],
        out["minhash_rebuild_wall_sec"],
        out["ivf_append_wall_sec"],
        out["ivf_rebuild_wall_sec"],
        bm25_postings=bm_post_a,
        bm25_postings_rebuild=bm_post_r,
        bm25_dl=bm_dl_a,
        bm25_dl_rebuild=bm_dl_r,
        bm25_append_wall=out["bm25_append_wall_sec"],
        bm25_rebuild_wall=out["bm25_rebuild_wall_sec"],
    )
    out["checks"] = checks
    out["all_green"] = all(checks.values())
    post = box_calibration()
    out["box_calibration"] = {"pre": pre, "post": post}
    # r13 (VERDICT r12 #6): the r12 artifact's anomalous IVF base-build
    # wall (324.8 s on 90% vs 145.5 s full rebuild) was taken in a
    # loadavg 22-27 bracket and carried no note — a reader comparing
    # build vs rebuild walls would conclude the build path regressed.
    # Stamp the bracket mechanically so contended-run walls can't be
    # misread as code behavior.
    # PRE reading only: the POST loadavg is dominated by the gate's own
    # 32-thread Spark work (measured ~25 on an otherwise-idle box), so
    # keying the note on it would stamp every run as "contended"
    pre_load = pre.get("loadavg_1m", 0.0)
    if pre_load > 8:
        out["contention_note"] = (
            f"loadavg_1m read {pre_load} BEFORE this gate started — "
            "wall clocks are upper bounds under external contention; "
            "the EQUALITY checks are load-independent, the "
            "append-cheaper checks compare walls taken under the same "
            "bracket, but absolute walls (esp. base-build vs rebuild) "
            "must not be compared across runs without this note"
        )
    os.makedirs(os.path.dirname(out_json), exist_ok=True)
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    print(f"wrote {out_json} all_green={out['all_green']}")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if not os.environ.get("KEEP_STRESS_DATA"):
        # the embeddings corpus is gate-private; the documents corpus is
        # the shared dedup-family dir other gates resume from — keep it
        shutil.rmtree(emb_dir, ignore_errors=True)
    return 0 if out["all_green"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
