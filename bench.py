"""Benchmark harness: runs the bench legs over the parquet fixtures in
$SPARK_GRAFT_SF_DIR (default: the sf0.1 set) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line: {"metric": "headline_total", "value": N,
"unit": "sec", "queries": {...}, "sf": ...}.

- OUTPUT: stdout carries exactly ONE compact JSON line (headline totals,
  per-leg medians at 2dp, box probes) sized to fit a 2000-char tail
  window — if the per-leg maps push it past 1800 chars they are dropped
  from the line. The full detail (rep lists, controls, per-leg box
  stamps, scratch meter, gate config) goes to
  artifacts/BENCH_detail_last.json.
- LOAD GATE: invalidation is per boot and per run. The first run on a
  kernel boot_id self-pins a py_loop baseline (two probes 5 s apart
  must agree within 10% — a contended box can't do that) into the
  committed artifacts/box_baseline.json; later same-boot runs gate
  against that pin (+/-15%, sleep-retries first). After the run,
  pre/post probe instability > 25% also stamps the run invalid (the
  medians mixed two box states). loadavg_1m is a warning only: the
  kernel load average stays inflated for minutes after a finished Spark
  run while the CPUs are idle (SCALE.md).

Each leg is fully materialized through the noop sink (executes the whole
plan distributed, no driver collect). Every leg runs its table's reps
(4, or 8 for the noisy corr family) and the MEDIAN is recorded, with the
steady-state rep spread and min alongside: the first rep's one-off
JVM/codegen compilation and page-cache warmup is excluded from the
median by construction, and a median of 4 is robust to one noisy rep.
Spark's cache is cleared between reps, so each rep recomputes the full
plan — only JIT/page-cache warmth carries over.

Control legs (anti-pattern counterfactuals) are reported under
"controls" but excluded from the headline total: the engine's production
path uses the salted/histogram variants, and summing a deliberately-slow
counterfactual into the total would make totals incomparable. Both
trees of a paired run (tools/paired_bench.py) time the same controls, so
their delta is the pair's noise floor.

Run this ALONE: concurrent Spark sessions on the same box skew
individual legs by 2-5x with small within-run spread (measured —
medians are robust to a noisy rep, not to a busy machine).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_REPS = 4


class Leg(NamedTuple):
    """One timed bench leg. ``fn`` names the query builder in
    ``__spark_entry__``; ``build_timed`` legs run their Spark jobs while
    the builder runs (iterative tokenizer training), so construction is
    inside the timed region; ``control`` legs are excluded from the
    headline total."""

    name: str
    fn: str
    reps: int = N_REPS
    build_timed: bool = False
    control: bool = False


#: The bench legs, in run order. Five legs keep a registry name but time
#: a narrower builder than the registry entry of that name, whose
#: queries() twin folds several legs into one correctness check:
#: ann_topk, ivf_topk, text_stats, minhash_dedup, embedding_near_dups.
LEGS = (
    Leg("merged_series", "q_merged_series"),
    # the corr family's median settles only with extra reps (spreads up
    # to 1.55 measured at 4)
    Leg("corr_best_lag", "q_corr_best_lag", reps=8),
    Leg("corr_mapping", "q_corr_mapping", reps=8),
    Leg("dtw_summary", "q_dtw_summary"),
    Leg("dtw_mapping", "q_dtw_mapping"),
    Leg("auto_mapping", "q_auto_mapping"),
    Leg("qa_invariants", "q_qa_invariants"),
    Leg("sessionization", "q_sessionization"),
    Leg("tumbling_window", "q_tumbling_window"),
    Leg("exact_dedup", "q_exact_dedup"),
    Leg("minhash_dedup", "q_minhash_full"),
    Leg("minhash_incr", "q_minhash_incr"),
    # heaviest at scale: the PPJoin filter stack
    Leg("ngram_jaccard", "q_ngram_jaccard"),
    Leg("text_stats", "q_text_stats_core"),
    Leg("cosine_topk", "q_cosine_topk"),
    Leg("ann_topk", "q_ann_lsh"),
    Leg("ivf_topk", "q_ivf_assign"),
    # partitioned-index twin of ivf_topk: the partition-pruning win as a
    # wall-clock pair
    Leg("ivf_topk_indexed", "q_ivf_topk_indexed"),
    # cold cost: the cache clear between reps forces index recompute
    Leg("bm25_topk", "q_bm25_topk"),
    Leg("embedding_near_dups", "q_emb_neardup_pairs"),
    Leg("semantic_decontam", "q_semantic_decontam"),
    Leg("diversity_profile", "q_diversity_profile"),
    Leg("normalize_text", "q_normalize_fingerprint"),
    Leg("gopher_repetition", "q_gopher_repetition"),
    Leg("dsir_select", "q_dsir_select"),
    # hot-key skew pair: the same 3-key lineitem aggregation plain vs
    # salted (the registry's salted_agg hash-gates correctness)
    Leg("skew_agg_plain", "q_skew_agg_plain", control=True),
    Leg("salted_agg", "q_salted_agg"),
    # partial-agg-resistant pair: buffered percentile vs the skew-robust
    # histogram formulation
    Leg("skew_median_buffered", "q_skew_median_buffered", control=True),
    Leg("skew_median_hist", "q_skew_median_hist"),
    # sequence-packing export paths at a 2048-token budget
    Leg("pack_export", "q_pack_export"),
    Leg("pack_ffd", "q_pack_ffd"),
    # tokenizer training at fixed budgets (BPE 200 merges / unigram 512
    # pieces); the driver loop runs its Spark jobs at construction time
    Leg("bpe_train", "q_bpe_train", build_timed=True),
    Leg("unigram_train", "q_unigram_train", build_timed=True),
)


def leg_queries() -> dict:
    """Leg name -> query builder from ``__spark_entry__``, in table
    order."""
    import __spark_entry__ as entry_mod

    return {leg.name: getattr(entry_mod, leg.fn) for leg in LEGS}


#: Historical quiet-box single-core probe (sec). Not a gate by itself:
#: quiet boots measured 0.092-0.130, wider than any defensible absolute
#: band. It anchors the self-pin guard (PIN_VS_HISTORICAL_BAND) and
#: scales QUIET_PY_SPAN. SPARK_GRAFT_QUIET_PY_LOOP overrides it on a
#: hardware change.
_QUIET_PY_DEFAULT = 0.115
QUIET_PY_LOOP = float(
    os.environ.get("SPARK_GRAFT_QUIET_PY_LOOP", str(_QUIET_PY_DEFAULT))
)
#: Measured quiet-boot py_loop span, against _QUIET_PY_DEFAULT. It
#: bounds the upward re-pin in gate_decision and scales by (effective
#: pin / _QUIET_PY_DEFAULT) when the pin is overridden.
QUIET_PY_SPAN = (0.092, 0.145)
MAX_LOAD1 = 2.0
#: Sleep-retries (30 s apart) of an invalid pre-run gate before the run
#: proceeds stamped invalid.
GATE_RETRIES = 10

#: Per-boot baseline store (committed): {boot_id: {"py_loop": s,
#: "pinned_at": epoch, "runs": n}}. The first bench run on a boot pins
#: its own quiet value (guarded by a two-probe stability check — a
#: contended box cannot produce two agreeing GIL-bound probes 5 s apart,
#: measured spread under load is 2-5x); later runs on the same boot are
#: gated against that pin.
BOX_BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "artifacts",
    "box_baseline.json",
)
#: Same-boot deviation bands. SELF_PIN: two fresh probes 5 s apart must
#: agree this tightly to pin a new boot's baseline (quiet-box repeat
#: spread measured <= 7%). BASELINE: later same-boot pre-probes must sit
#: within this of the boot's pin. STABILITY: pre vs post bracketing the
#: run — historical valid runs max at 17.7%, so 25% invalidates only a
#: genuinely state-changed box while 15% warns.
SELF_PIN_BAND = 0.10
BASELINE_BAND = 0.15
STABILITY_WARN_BAND = 0.15
STABILITY_INVALID_BAND = 0.25
#: Sanity range for a fresh self-pin: a probe outside this is not "a new
#: boot class", it is a different hardware class or a pathological box —
#: needs eyes, not a silent re-pin.
PY_LOOP_SANITY = (0.04, 0.40)
#: Self-pin guard vs STEADY load: two probes 5 s apart agree under a
#: constant background job just as well as on a quiet box — the
#: stability check only defeats BURSTY contention. A fresh pin must also
#: sit within this relative band of the historical quiet constant (45%
#: rejects a 0.19 steady-load reading while leaving room for a genuinely
#: faster/slower container class).
PIN_VS_HISTORICAL_BAND = 0.45


def _boot_id() -> str:
    """Kernel boot id — the key that makes a py_loop pin comparable:
    same boot = same JIT/huge-page/memory-bandwidth class."""
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def load_boot_baselines(path: str = BOX_BASELINE_PATH) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


#: Retained boot entries: on ephemeral containers every run is a fresh
#: boot_id, so without a cap the committed file grows one dead entry
#: per boot forever. Pruning drops the oldest by pinned_at.
MAX_BOOT_BASELINES = 12


def save_boot_baselines(baselines: dict, path: str = BOX_BASELINE_PATH):
    if len(baselines) > MAX_BOOT_BASELINES:
        keep = sorted(
            baselines, key=lambda b: baselines[b].get("pinned_at", 0.0)
        )[-MAX_BOOT_BASELINES:]
        baselines = {b: baselines[b] for b in keep}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(baselines, f, indent=1, sort_keys=True)


def rel_dev(a: float, b: float) -> float:
    """Relative deviation of a from b (guarded)."""
    return abs(a - b) / max(abs(b), 1e-9)


def gate_decision(
    probe1: float,
    probe2: float | None,
    boot_baseline: float | None,
    quiet_pin: float = None,
) -> tuple[list, list, float | None]:
    """Pure gate arithmetic (pytest-covered): given the pre-run probe
    (and, when no baseline exists for this boot or probe1 deviates from
    it, a second probe taken 5 s later), decide (invalid_reasons,
    warnings, new_pin_or_None).

    - baseline exists  -> invalid iff probe1 is SLOWER than the boot's
      own pin by > BASELINE_BAND (same-boot contention is real
      contention) — UNLESS a stable confirming pair medians inside the
      measured quiet span, in which case the pin itself was a
      transient-fast reading and is re-pinned UPWARD with a warning. A
      probe significantly FASTER than the pin is NOT contention —
      contention only ever slows a GIL-bound loop — it means the pin
      was taken on a mildly loaded first run: iff a second probe agrees
      within SELF_PIN_BAND (and the sanity/historical guards pass), the
      baseline is updated DOWNWARD with a warning; an unstable fast
      pair still invalidates.
    - no baseline      -> self-pin median(probe1, probe2) iff the two
      agree within SELF_PIN_BAND and the pin is inside PY_LOOP_SANITY
      and near the historical quiet class; otherwise invalid (an
      unstable box cannot pin)."""
    pin = QUIET_PY_LOOP if quiet_pin is None else quiet_pin
    invalid, warnings = [], []
    new_pin = None
    # the quiet span scales with an overridden pin (by the SHIPPED
    # default the span was measured against), so a hardware override
    # moves the upward re-pin bound with it
    _scale = pin / _QUIET_PY_DEFAULT
    _span_lo, _span_hi = QUIET_PY_SPAN[0] * _scale, QUIET_PY_SPAN[1] * _scale
    if boot_baseline is not None:
        if rel_dev(probe1, boot_baseline) > BASELINE_BAND:
            if probe1 >= boot_baseline:
                # a transient fast probe pair (CPU boost, scheduler
                # luck) would otherwise lower the pin for the boot's
                # lifetime and stamp every genuinely quiet later reading
                # invalid. BOUNDED upward re-pin: a STABLE pair whose
                # median is itself inside the measured quiet-boot span
                # is by definition a quiet reading — re-pin up to it. A
                # candidate outside the span is real contention and
                # stays invalid.
                candidate = (
                    round(statistics.median([probe1, probe2]), 4)
                    if probe2 is not None
                    else None
                )
                if (
                    candidate is not None
                    and rel_dev(probe1, probe2) <= SELF_PIN_BAND
                    and _span_lo <= candidate <= _span_hi
                ):
                    new_pin = candidate
                    warnings.append(
                        f"py_loop {probe1} slower than this boot's pin "
                        f"{boot_baseline} but a stable confirming pair "
                        f"medians to {new_pin}, inside the measured "
                        f"quiet span [{_span_lo:.3f}, {_span_hi:.3f}]: "
                        "baseline re-pinned UPWARD (the original pin "
                        "was a transient-fast reading)"
                    )
                else:
                    invalid.append(
                        f"py_loop {probe1} slower than this boot's pinned "
                        f"baseline {boot_baseline} by > {BASELINE_BAND:.0%}"
                        + (
                            ""
                            if candidate is None
                            else (
                                f" and the confirming pair (median "
                                f"{candidate}) is unstable or outside "
                                f"the quiet span [{_span_lo:.3f}, "
                                f"{_span_hi:.3f}]: contention, not a "
                                "mis-pin"
                            )
                        )
                    )
            elif probe2 is None or rel_dev(probe1, probe2) > SELF_PIN_BAND:
                invalid.append(
                    f"py_loop {probe1} faster than this boot's pin "
                    f"{boot_baseline} by > {BASELINE_BAND:.0%} but a "
                    f"confirming probe ({probe2}) did not agree within "
                    f"{SELF_PIN_BAND:.0%}: cannot re-pin on an unstable "
                    "box"
                )
            else:
                candidate = round(statistics.median([probe1, probe2]), 4)
                if not (
                    PY_LOOP_SANITY[0] <= candidate <= PY_LOOP_SANITY[1]
                ) or rel_dev(candidate, pin) > PIN_VS_HISTORICAL_BAND:
                    invalid.append(
                        f"py_loop re-pin candidate {candidate} outside "
                        f"sanity {PY_LOOP_SANITY} or "
                        f">{PIN_VS_HISTORICAL_BAND:.0%} from the "
                        f"historical quiet class {pin}"
                    )
                else:
                    new_pin = candidate
                    warnings.append(
                        f"py_loop {probe1} significantly FASTER than "
                        f"this boot's pin {boot_baseline}: baseline "
                        f"re-pinned downward to {new_pin} (the original "
                        "pin was taken on a loaded first run)"
                    )
    else:
        assert probe2 is not None, "self-pin path needs a second probe"
        if rel_dev(probe1, probe2) > SELF_PIN_BAND:
            invalid.append(
                f"py_loop unstable ({probe1} vs {probe2} 5s apart, "
                f"> {SELF_PIN_BAND:.0%}): cannot pin a baseline for a "
                "new boot on a non-quiet box"
            )
        else:
            new_pin = round(statistics.median([probe1, probe2]), 4)
            if not (PY_LOOP_SANITY[0] <= new_pin <= PY_LOOP_SANITY[1]):
                invalid.append(
                    f"py_loop self-pin {new_pin} outside sanity range "
                    f"{PY_LOOP_SANITY}: hardware class changed, re-pin "
                    "QUIET_PY_LOOP/SANITY by hand"
                )
                new_pin = None
            elif rel_dev(new_pin, pin) > PIN_VS_HISTORICAL_BAND:
                # steady (non-bursty) load defeats the two-probe
                # agreement check — refuse to commit a pin far from the
                # historical quiet class (a bad pin would make every
                # later QUIET run on this boot stamp invalid)
                invalid.append(
                    f"py_loop self-pin candidate {new_pin} is "
                    f">{PIN_VS_HISTORICAL_BAND:.0%} from the historical "
                    f"quiet class {pin}: steady background load, or a "
                    "hardware change (override SPARK_GRAFT_QUIET_PY_LOOP)"
                )
                new_pin = None
    return invalid, warnings, new_pin


def stability_decision(pre: float, post: float) -> tuple[list, list]:
    """Pure pre/post bracketing check (pytest-covered): the box must be
    in the same state after the run as before it, else per-leg medians
    mixed two box states and the total is not a number."""
    dev = rel_dev(post, pre)
    if dev > STABILITY_INVALID_BAND:
        return (
            [
                f"box changed state mid-run: post py_loop {post} vs pre "
                f"{pre} ({dev:.0%} > {STABILITY_INVALID_BAND:.0%})"
            ],
            [],
        )
    if dev > STABILITY_WARN_BAND:
        return [], [f"pre/post py_loop drift {dev:.0%} (warning band)"]
    return [], []


#: Per-leg disk-scratch ceilings (bytes). Pins are ~3x the highest quiet
#: measurement for the legs whose scratch is materially above the noise
#: floor; every other leg measured <17 MB, so a shared 64 MB default
#: ceiling (sampled lower-bound meter — generous headroom over sampling
#: jitter) catches a new shuffle materializing where none existed. A
#: violation is a WARNING key in the artifact (like box_warnings), not
#: an invalid stamp: scratch regressions need a code-diff look, not an
#: artifact discard.
SCRATCH_CEILING_BYTES = {
    "ngram_jaccard": 750_000_000,       # 237 MB (two-leg union)
    "gopher_repetition": 350_000_000,   # 111 MB (9-n explode pass)
    "skew_median_hist": 128_000_000,    # 36 MB
    # the mapping family's shared intermediates live in shuffle files
    # (exchange reuse points, OPTIMIZATION_r13.md), so their sampled
    # scratch is boot-variable on unchanged code: auto_mapping read 0,
    # 86 and 62 MB across three runs of one tree
    "corr_mapping": 256_000_000,        # 33-73 MB across boots
    "auto_mapping": 256_000_000,        # 0-86 MB across boots
    "corr_best_lag": 128_000_000,       # 12-28 MB
    "merged_series": 128_000_000,       # 23 MB (exchange set)
    "qa_invariants": 128_000_000,       # 17-37 MB across boots
}
SCRATCH_CEILING_DEFAULT = 64_000_000


def _steal_snapshot() -> tuple[int, int] | None:
    """(steal_jiffies, total_jiffies) from /proc/stat — the hypervisor's
    own host-contention counter. Deltas across a leg attribute a slow
    rep to the host mechanically (a code regression cannot raise steal).
    None where unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        if len(vals) < 8:
            return None
        return vals[7], sum(vals[:8])
    except (OSError, ValueError):
        return None


def _py_loop_once() -> float:
    """One rep of the GIL-bound interpreter probe (the box_calibration
    workload without the median-of-5) — cheap enough (~0.1 s) to stamp
    the box state before every leg."""
    t0 = time.time()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    assert acc > 0
    return round(time.time() - t0, 4)


def scratch_violations(
    scratch: dict,
    ceilings: dict | None = None,
    default: int = SCRATCH_CEILING_DEFAULT,
) -> list:
    """Compare per-leg peak scratch bytes against the pinned ceilings;
    return one human-readable violation string per exceeding leg
    (pytest-covered in tests/test_bench_gates.py)."""
    caps = SCRATCH_CEILING_BYTES if ceilings is None else ceilings
    out = []
    for name in sorted(scratch):
        cap = caps.get(name, default)
        if scratch[name] > cap:
            out.append(
                f"{name} peak_scratch_bytes {scratch[name]} > pinned "
                f"ceiling {cap}"
            )
    return out


def time_query(
    spark, fn, sf_dir: str, n_reps: int, build_timed: bool = False
) -> list[float]:
    """Shared rep-timing harness (bench.py and the tools/ gates): the
    DataFrame/plan is BUILT OUTSIDE the timed region (footer reads and
    plan construction are driver constants, not query work), the timed
    action is a noop-sink write (full materialization, no driver
    collect), and the cache is cleared between reps so each rep
    recomputes the whole plan. ``build_timed=True`` (iterative tokenizer
    training) moves construction INSIDE the timed region, because those
    legs run their Spark jobs while building."""
    reps = []
    for _rep in range(n_reps):
        if build_timed:
            t0 = time.time()
            df = fn(spark, sf_dir)
        else:
            df = fn(spark, sf_dir)
            t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        reps.append(time.time() - t0)
        spark.catalog.clearCache()
    return reps


def box_calibration() -> dict:
    """Fixed pure-CPU probe + load averages, so a reader can tell box
    contention from a code regression inside the JSON itself. Measured
    need: an otherwise-identical full bench run read 66 s on a busy box
    vs ~45 s quiet — every leg inflated uniformly, INCLUDING the frozen
    controls. The probe is a pure-Python integer loop (median of 5),
    deliberately NOT numpy: a BLAS matmul probe measured 3x faster
    post-run than pre-run (thread-pool/warmup effects), while the
    interpreter loop is GIL-bound single-threaded with nothing to warm,
    so its time moves only with CPU availability."""
    reps = []
    for _ in range(5):
        t0 = time.time()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        assert acc > 0
        reps.append(time.time() - t0)
    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:  # platform without getloadavg
        load1 = load5 = load15 = -1.0
    return {
        "py_loop_sec": round(statistics.median(reps), 4),
        "loadavg_1m": round(load1, 2),
        "loadavg_5m": round(load5, 2),
    }


def _box_gate() -> tuple[dict, list, list, int, float | None]:
    """Pre-run load gate, compared like with like:

    - First run on a boot: SELF-PIN a baseline from two probes 5 s apart
      and persist it to the committed artifacts/box_baseline.json keyed
      by kernel boot_id.
    - Later runs on the same boot: pre-probe within BASELINE_BAND of
      the boot's own pin, else sleep-retry then invalid (same-boot
      deviation IS contention; cross-boot drift does not invalidate).
    - loadavg is a warning only (it lags idle CPUs after a finished
      run — SCALE.md).
    - main() adds the pre/post STABILITY check after the run.

    Returns (calibration, invalid_reasons, warnings, retries, pin) where
    pin is the boot baseline in force (fresh or stored)."""

    def _load_warnings(c: dict) -> list:
        if c["loadavg_1m"] > MAX_LOAD1:
            return [
                f"loadavg_1m {c['loadavg_1m']} > {MAX_LOAD1} (warning "
                "only: loadavg lags idle CPUs after a finished run — "
                "py_loop is the authoritative quietness signal)"
            ]
        return []

    boot = _boot_id()
    baselines = load_boot_baselines()
    stored = baselines.get(boot, {}).get("py_loop")
    retries = 0
    while True:
        calib = box_calibration()
        probe2 = None
        p1 = calib["py_loop_sec"]
        # the second probe feeds the self-pin path (new boot) OR either
        # re-pin path (faster or slower than the stored pin)
        if stored is None or rel_dev(p1, stored) > BASELINE_BAND:
            time.sleep(5)
            probe2 = box_calibration()["py_loop_sec"]
        invalid, warnings, new_pin = gate_decision(p1, probe2, stored)
        if not invalid or retries >= GATE_RETRIES:
            break
        time.sleep(30)
        retries += 1
    pin = new_pin if new_pin is not None else stored
    if new_pin is not None:
        entry = baselines.setdefault(boot, {})
        entry["py_loop"] = new_pin
        entry["pinned_at"] = round(time.time(), 0)
        entry["runs"] = entry.get("runs", 0) + 1
        try:
            save_boot_baselines(baselines)
        except OSError:
            warnings.append("could not persist boot baseline (read-only?)")
    calib["boot_id"] = boot
    calib["boot_baseline_py_loop"] = pin
    return calib, invalid, warnings + _load_warnings(calib), retries, pin


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    calib, invalid_reasons, box_warnings, gate_retries, boot_pin = _box_gate()

    from mapping_timeseries_spark.scratch import ScratchMeter
    from mapping_timeseries_spark.session import get_spark

    qs = leg_queries()
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": "16g"},
    )
    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = -1.0

    # warmup: absorb JVM/codegen startup and the JIT of the
    # exchange/join/aggregate path before the first timed leg (without
    # the join passes, merged_series read ~0.2 s slower at sf0.01)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    keys = spark.range(100_003).selectExpr("id AS k")
    for _ in range(5):
        spark.range(4_000_000).selectExpr("pmod(hash(id), 100003) AS k").join(
            keys.hint("shuffle_hash"), "k"
        ).selectExpr("pmod(k, 64) AS g").groupBy("g").count().collect()

    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    mins: dict[str, float] = {}
    rep_lists: dict[str, list] = {}
    leg_box: dict[str, dict] = {}
    scratch: dict[str, int] = {}
    scratch_base: dict[str, int] = {}
    for leg in LEGS:
        name = leg.name
        # per-leg box stamp: bursty host tenancy can hit one leg inside
        # a run whose run-level probes read quiet. One interpreter-probe
        # rep + loadavg before the leg, and the /proc/stat steal delta
        # across it. Outside every timed region (~0.1 s between legs).
        try:
            _load1 = round(os.getloadavg()[0], 2)
        except OSError:
            _load1 = -1.0
        stamp = {"py1": _py_loop_once(), "load1": _load1}
        steal_a = _steal_snapshot()
        # disk-residency meter: per-leg peak scratch bytes over the
        # leg's reps (sampled lower bound; semantics in
        # mapping_timeseries_spark/scratch.py)
        meter = ScratchMeter(spark).start()
        reps = time_query(
            spark, qs[name], sf_dir, leg.reps, build_timed=leg.build_timed
        )
        scratch[name] = meter.stop()
        steal_b = _steal_snapshot()
        if steal_a is not None and steal_b is not None:
            d_total = max(steal_b[1] - steal_a[1], 1)
            stamp["steal_pct"] = round(
                100.0 * (steal_b[0] - steal_a[0]) / d_total, 2
            )
        leg_box[name] = stamp
        # the base travels with the peak: a large dying-residue base
        # deflates the delta, and recording it makes that visible
        scratch_base[name] = meter.base_bytes
        med = statistics.median(reps)
        times[name] = round(med, 3)
        # spread and min over the STEADY-STATE reps only (the first rep
        # carries JVM/codegen warmup the median already excludes). On a
        # fixed workload all noise is additive, so the min estimates the
        # box's uncontended capability for the leg — the burst-robust
        # number to prefer when the spread is wide.
        steady = reps[1:] if len(reps) > 1 else reps
        spreads[name] = round(
            (max(steady) - min(steady)) / max(med, 1e-9), 3
        )
        mins[name] = round(min(steady), 3)
        rep_lists[name] = [round(r, 3) for r in reps]

    control_names = [leg.name for leg in LEGS if leg.control]
    controls = {k: times.pop(k) for k in control_names}
    controls_min = {k: mins.pop(k) for k in control_names}
    controls_reps = {k: rep_lists.pop(k) for k in control_names}
    total = round(sum(times.values()), 3)
    min_total = round(sum(mins.values()), 3)
    post = box_calibration()
    # pre/post stability is an INVALIDATION signal: a box that changed
    # state mid-run mixed two box states into the medians
    stab_invalid, stab_warn = stability_decision(
        calib["py_loop_sec"], post["py_loop_sec"]
    )
    invalid_reasons = invalid_reasons + stab_invalid
    box_warnings = box_warnings + stab_warn
    detail = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "stat": "median",
        "queries": times,
        "controls": controls,
        "rep_spread": spreads,
        "queries_min": mins,
        "controls_min": controls_min,
        "min_total": min_total,
        "queries_reps": rep_lists,
        "controls_reps": controls_reps,
        "leg_box": leg_box,
        "peak_scratch_bytes": scratch,
        "base_scratch_bytes": scratch_base,
        "scratch_warnings": scratch_violations(scratch),
        "n": N_REPS,
        "rep_override": {
            leg.name: leg.reps for leg in LEGS if leg.reps != N_REPS
        },
        # measured before the Spark session starts AND after the last
        # leg, bracketing the run; the PRE probe is gated (_box_gate)
        "box_calibration": {"pre": calib, "post": post},
        "invalid_box": bool(invalid_reasons),
        "invalid_reasons": invalid_reasons,
        "box_warnings": box_warnings,
        "gate": {
            "boot_id": calib.get("boot_id"),
            "boot_baseline_py_loop": boot_pin,
            "baseline_band": BASELINE_BAND,
            "stability_bands": [STABILITY_WARN_BAND, STABILITY_INVALID_BAND],
            "historical_quiet_py_loop": QUIET_PY_LOOP,
            "max_load1": MAX_LOAD1,
            "sleep_retries": gate_retries,
            "scratch_ceilings": SCRATCH_CEILING_BYTES,
            "scratch_ceiling_default": SCRATCH_CEILING_DEFAULT,
        },
        "sf": sf,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "artifacts",
        "BENCH_detail_last.json",
    )
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # stdout: exactly ONE compact line, sized for a 2000-char tail capture
    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "stat": "median",
        "sf": sf,
        "n": N_REPS,
        "invalid_box": bool(invalid_reasons),
        # the REASON travels with the stamp, not only in the detail file
        "invalid_reasons": invalid_reasons,
        "box_warned": bool(box_warnings),
        "scratch_warned": bool(scratch_violations(scratch)),
        "min_total": min_total,
        "box": {
            "pre_py_loop": calib["py_loop_sec"],
            "post_py_loop": post["py_loop_sec"],
            "loadavg_1m": calib["loadavg_1m"],
            "boot_pin": boot_pin,
        },
        "queries": {k: round(v, 2) for k, v in times.items()},
        "queries_min": {k: round(v, 2) for k, v in mins.items()},
        "detail": "artifacts/BENCH_detail_last.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    # size fallback chain: the per-leg min map is dropped FIRST so the
    # per-leg medians survive longest
    for drop in ("queries_min", "queries"):
        if len(line) > 1800:
            compact.pop(drop)
            line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
