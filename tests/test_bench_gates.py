"""Pure-python gate logic in bench.py (no SparkSession needed).

VERDICT r9 #7: peak_scratch_bytes was recorded since r9 but nothing
failed when it doubled — bench.py now pins per-leg ceilings the way
QUIET_PY_LOOP is pinned and emits violations under scratch_warnings.
These tests cover the comparison logic itself; the wiring (keys present
in the artifact) is asserted on the committed artifact when it exists.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_scratch_violations_empty_when_under_ceilings():
    scratch = {"ngram_jaccard": 100, "corr_mapping": 0}
    assert bench.scratch_violations(scratch) == []


def test_scratch_violations_pinned_leg_uses_its_own_ceiling():
    cap = bench.SCRATCH_CEILING_BYTES["ngram_jaccard"]
    # over the DEFAULT but under its own pin -> no violation
    assert bench.scratch_violations({"ngram_jaccard": cap - 1}) == []
    out = bench.scratch_violations({"ngram_jaccard": cap + 1})
    assert len(out) == 1
    assert "ngram_jaccard" in out[0] and str(cap) in out[0]


def test_scratch_violations_unpinned_leg_uses_default():
    d = bench.SCRATCH_CEILING_DEFAULT
    assert bench.scratch_violations({"new_leg": d}) == []
    out = bench.scratch_violations({"new_leg": d + 1})
    assert len(out) == 1 and "new_leg" in out[0]


def test_scratch_violations_sorted_and_multiple():
    d = bench.SCRATCH_CEILING_DEFAULT
    out = bench.scratch_violations({"zz": d + 1, "aa": d + 1, "mm": 0})
    assert [v.split()[0] for v in out] == ["aa", "zz"]


def test_scratch_violations_custom_ceilings_override_pins():
    out = bench.scratch_violations({"x": 11}, ceilings={"x": 10})
    assert len(out) == 1
    assert bench.scratch_violations({"x": 10}, ceilings={"x": 10}) == []


def test_r9_quiet_measurements_fit_pins():
    """The pins must be generous vs the last committed quiet artifact:
    a pin tighter than an already-measured quiet value would warn on
    every run (the gate would cry wolf from day one)."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "artifacts",
        "BENCH_detail_last.json",
    )
    if not os.path.exists(path):
        return
    with open(path) as f:
        detail = json.load(f)
    scratch = detail.get("peak_scratch_bytes", {})
    # every recorded leg sits under its ceiling with >=2x headroom
    for name, b in scratch.items():
        cap = bench.SCRATCH_CEILING_BYTES.get(
            name, bench.SCRATCH_CEILING_DEFAULT
        )
        assert b * 2 <= cap, (name, b, cap)


def test_artifact_carries_gate_keys():
    """The committed detail artifact (when present and post-r10) carries
    the scratch pins and the violation list, so the number and its gate
    travel together."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "artifacts",
        "BENCH_detail_last.json",
    )
    if not os.path.exists(path):
        return
    with open(path) as f:
        detail = json.load(f)
    if "scratch_warnings" not in detail:
        return  # pre-r10 artifact still committed; refreshed this round
    assert isinstance(detail["scratch_warnings"], list)
    # pins may be ADDED between bench runs (the artifact predates them);
    # a pin the artifact ran with must still exist with the same value —
    # silently loosening or dropping one would orphan the recorded gate
    for leg, cap in detail["gate"]["scratch_ceilings"].items():
        assert bench.SCRATCH_CEILING_BYTES.get(leg) == cap, (leg, cap)
    assert (
        detail["gate"]["scratch_ceiling_default"]
        == bench.SCRATCH_CEILING_DEFAULT
    )


def _soak_series(n=30, trigger_ms=1200, state=4000, removed=400, inp=250000):
    return [
        {
            "trigger_ms": trigger_ms,
            "state_rows": state,
            "state_removed": removed,
            "input_rows": inp,
        }
        for _ in range(n)
    ]


def test_streaming_soak_checks_green_on_healthy_series():
    """The soak gate's pass arithmetic (tools/streaming_soak_gate.py
    evaluate_checks — same separated-logic contract as the bench gate
    helpers above): a healthy plateaued series passes all five."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from streaming_soak_gate import evaluate_checks

    checks, metrics = evaluate_checks(
        _soak_series(), emitted=10_000, exception=None
    )
    assert all(checks.values()), checks
    assert metrics["state_rows_last_third_max"] == 4000


def test_streaming_soak_checks_catch_failures():
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from streaming_soak_gate import evaluate_checks

    # state leak: last third grows past tol * middle third
    leak = _soak_series()
    for i, s in enumerate(leak):
        s["state_rows"] = 4000 + (i * 400 if i >= 20 else 0)
    checks, _ = evaluate_checks(leak, emitted=10_000, exception=None)
    assert not checks["state_plateau"]

    # backlog: trigger wall exceeds the interval
    checks, _ = evaluate_checks(
        _soak_series(trigger_ms=9000), emitted=10_000, exception=None
    )
    assert not checks["keepup"]

    # absolute ceiling backstop even when flat
    checks, _ = evaluate_checks(
        _soak_series(state=50_000), emitted=10_000, exception=None
    )
    assert not checks["state_plateau"]

    # no emissions / dirty run
    checks, _ = evaluate_checks(_soak_series(), emitted=0, exception=None)
    assert not checks["emits"]
    checks, _ = evaluate_checks(_soak_series(), emitted=10_000, exception="boom")
    assert not checks["clean"]

    # removals key present but eviction count implausibly low
    checks, _ = evaluate_checks(
        _soak_series(removed=0), emitted=10_000, exception=None
    )
    assert not checks["evicts"]
    # removals key absent entirely -> eviction proven by plateau+emits
    checks, _ = evaluate_checks(
        _soak_series(removed=None), emitted=10_000, exception=None
    )
    assert checks["evicts"]


# ---- r11 per-boot calibration gate (VERDICT r10 #1) ----------------------


def test_gate_decision_same_boot_quiet_passes():
    inv, warn, pin = bench.gate_decision(0.101, None, boot_baseline=0.100)
    assert inv == [] and pin is None


def test_gate_decision_same_boot_contention_invalidates():
    inv, _, _ = bench.gate_decision(0.130, None, boot_baseline=0.100)
    assert len(inv) == 1 and "boot's pinned baseline" in inv[0]


def test_gate_decision_fresh_boot_self_pins_median():
    inv, _, pin = bench.gate_decision(0.092, 0.096, boot_baseline=None)
    assert inv == []
    assert pin == round((0.092 + 0.096) / 2, 4)


def test_gate_decision_fresh_boot_unstable_cannot_pin():
    """A contended box (probe spread 2-5x measured) must not pin a
    baseline — the r10 failure mode inverted (pinning a noisy value
    would make every later quiet run on this boot stamp invalid)."""
    inv, _, pin = bench.gate_decision(0.10, 0.25, boot_baseline=None)
    assert pin is None
    assert len(inv) == 1 and "unstable" in inv[0]


def test_gate_decision_sanity_range_guards_hardware_swap():
    inv, _, pin = bench.gate_decision(0.9, 0.91, boot_baseline=None)
    assert pin is None and "sanity range" in inv[0]


def test_gate_decision_absolute_pin_is_warning_only():
    """The exact r10 false-invalid scenario: a quiet fast boot
    (0.0919/0.0984 measured) far from the 0.115 constant must PASS —
    and since r12, with NO drift warning either: 0.095 is inside the
    measured quiet-boot span [0.092, 0.145], and a warning that fires
    inside the span its own message documents as quiet mislabels a
    quiet box (the r12 anchor run's only box_warning was this)."""
    inv, warn, pin = bench.gate_decision(0.0919, 0.0984, boot_baseline=None)
    assert inv == []
    assert pin is not None
    assert warn == []


def test_stability_decision_bands():
    assert bench.stability_decision(0.10, 0.105) == ([], [])
    inv, warn = bench.stability_decision(0.10, 0.118)  # 18% -> warn
    assert inv == [] and len(warn) == 1
    inv, warn = bench.stability_decision(0.10, 0.14)  # 40% -> invalid
    assert len(inv) == 1 and "changed state mid-run" in inv[0]
    # historical valid max (a1814cb: 0.1201 -> 0.1413, 17.7%) stays valid
    inv, _ = bench.stability_decision(0.1201, 0.1413)
    assert inv == []


def test_boot_baseline_roundtrip(tmp_path):
    p = str(tmp_path / "box_baseline.json")
    assert bench.load_boot_baselines(p) == {}
    bench.save_boot_baselines({"boot-x": {"py_loop": 0.1}}, p)
    assert bench.load_boot_baselines(p) == {"boot-x": {"py_loop": 0.1}}


def test_streaming_soak_degenerate_run_fails_without_crashing():
    """ADVICE r10 #1: a dead stream (no progress entries, or all-None
    trigger_ms) must return all-False checks with a note, not raise
    StatisticsError/ValueError and skip the artifact."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from streaming_soak_gate import evaluate_checks

    checks, metrics = evaluate_checks([], emitted=0, exception=None)
    assert not any(checks.values())
    assert "no progress recorded" in metrics["note"]

    dead = _soak_series(n=6)
    for s in dead:
        s["trigger_ms"] = None
    checks, metrics = evaluate_checks(dead, emitted=0, exception="died")
    assert not any(checks.values())
    assert metrics["exception"] == "died"


def test_versioned_soak_checks_arithmetic():
    """The versioned-refresh soak gate's pass/fail logic (pure, no
    stream): healthy run passes; each failure mode flips its check."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from versioned_refresh_soak_gate import evaluate_checks as ev

    healthy = dict(
        observed={1, 2, 3, 5},
        gated={4, 6},
        read_errors=[],
        violations=[],
        phase1_exc="StreamingQueryException: injected",
        max_pub_at_crash=3,
        max_version=5,
        orphans_on_disk=[4, 6],
    )
    assert all(ev(**healthy).values())

    # a reader observed a QA-vetoed version -> two-phase publish broken
    assert not ev(**{**healthy, "observed": {1, 2, 4}})["qa_gated"]
    # torn read
    assert not ev(**{**healthy, "read_errors": ["boom"]})["clean_reads"]
    # snapshot mutated / pointer regressed / counts shrank
    assert not ev(**{**healthy, "violations": ["v3 mutated"]})["no_partial"]
    # crash never happened, or restart published nothing new
    assert not ev(**{**healthy, "phase1_exc": None})["resumed_after_crash"]
    assert not ev(**{**healthy, "max_version": 3})["resumed_after_crash"]
    # a gated snapshot was vacuumed/lost -> forensics incomplete
    assert not ev(**{**healthy, "orphans_on_disk": [4]})["forensic_orphans"]


def test_neardup_composed_checks_arithmetic():
    """The composed near-dup gate's pass/fail logic (pure): exactness
    and band checks flip independently."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from neardup_composed_gate import evaluate_checks as ev

    rows = [(1, 1, 1), (2, 1, 0)]
    healthy = dict(
        rep0_rows=rows,
        ref_rows=rows,
        max_replicas_per_cluster=1,
        n_edges=990,
        n_edges_1x=1,
        n_clusters=1010,
        n_clusters_1x=1,
        factor=1000,
    )
    assert all(ev(**healthy).values())
    assert not ev(**{**healthy, "rep0_rows": rows[:1]})["replica0_exact"]
    assert not ev(**{**healthy, "max_replicas_per_cluster": 2})["purity_exact"]
    assert not ev(**{**healthy, "n_edges": 880})["edges_band"]  # >10% off
    assert not ev(**{**healthy, "n_clusters": 1200})["clusters_band"]
    # band is inclusive at the edge
    assert ev(**{**healthy, "n_edges": 900})["edges_band"]


def test_gate_decision_steady_load_cannot_self_pin():
    """r11 review: two probes agreeing under STEADY background load
    defeat the stability heuristic — the pin must also sit near the
    historical quiet class or be refused."""
    inv, _, pin = bench.gate_decision(0.19, 0.192, boot_baseline=None)
    assert pin is None
    assert len(inv) == 1 and "steady background load" in inv[0]
    # a genuinely faster container class within the band still pins
    inv, _, pin = bench.gate_decision(0.085, 0.088, boot_baseline=None)
    assert inv == [] and pin is not None


def test_boot_baseline_pruned_to_cap(tmp_path):
    """Ephemeral containers mint a fresh boot_id per run; the committed
    file must not grow unboundedly."""
    p = str(tmp_path / "b.json")
    many = {
        f"boot-{i}": {"py_loop": 0.1, "pinned_at": float(i)}
        for i in range(bench.MAX_BOOT_BASELINES + 9)
    }
    bench.save_boot_baselines(many, p)
    kept = bench.load_boot_baselines(p)
    assert len(kept) == bench.MAX_BOOT_BASELINES
    # newest survive
    assert f"boot-{bench.MAX_BOOT_BASELINES + 8}" in kept
    assert "boot-0" not in kept


def test_versioned_soak_requires_injected_crash():
    """r11 review: an unrelated phase-1 death (exception present, but
    the QA sabotage never fired) must NOT satisfy resumed_after_crash."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from versioned_refresh_soak_gate import evaluate_checks as ev

    base = dict(
        observed={1, 2},
        gated=set(),
        read_errors=[],
        violations=[],
        phase1_exc="Py4JError: port clash at batch 2",
        max_pub_at_crash=1,
        max_version=5,
        orphans_on_disk=[],
    )
    assert not ev(**base, crash_injected=False)["resumed_after_crash"]
    assert ev(**base, crash_injected=True)["resumed_after_crash"]


# ---- r12: faster-than-pin re-pin (ADVICE r11) ----------------------------


def test_gate_decision_faster_than_pin_repins_with_agreement():
    """ADVICE r11: a pin taken on a mildly loaded first run must not
    stamp every genuinely quiet (faster) later run invalid for the
    boot's lifetime. Two agreeing fast probes re-pin DOWNWARD with a
    warning, not an invalid."""
    inv, warn, pin = bench.gate_decision(0.095, 0.097, boot_baseline=0.120)
    assert inv == []
    assert pin == round((0.095 + 0.097) / 2, 4)
    assert any("re-pinned downward" in w for w in warn)


def test_gate_decision_faster_than_pin_unstable_still_invalid():
    """A single fast fluke (second probe disagrees > SELF_PIN_BAND)
    cannot re-pin — the box is unstable, same rule as a fresh boot."""
    inv, _, pin = bench.gate_decision(0.080, 0.115, boot_baseline=0.120)
    assert pin is None
    assert len(inv) == 1 and "cannot re-pin" in inv[0]


def test_gate_decision_faster_without_second_probe_invalid():
    """The re-pin path needs the confirming probe; without it the
    deviation stays an invalid (the caller supplies probe2 whenever the
    first probe reads fast-side outside the band)."""
    inv, _, pin = bench.gate_decision(0.080, None, boot_baseline=0.120)
    assert pin is None and len(inv) == 1


def test_gate_decision_slower_than_pin_still_invalidates():
    """Slower-side deviation whose stable pair medians OUTSIDE the
    measured quiet span is real contention (contention only ever SLOWS
    a GIL-bound loop) — invalid even with an agreeing second probe."""
    inv, _, pin = bench.gate_decision(0.150, 0.152, boot_baseline=0.120)
    assert pin is None
    assert len(inv) == 1 and "slower than this boot's pinned" in inv[0]
    assert "outside the quiet span" in inv[0]


def test_gate_decision_slower_than_pin_repins_upward_inside_span():
    """ADVICE r12 #4: a transient fast pair must not lower the pin for
    the boot's lifetime — a later STABLE pair that medians inside the
    measured quiet span re-pins UPWARD with a warning instead of
    stamping every genuinely quiet reading invalid."""
    # pin 0.095 (transient-fast); quiet readings back at ~0.115
    inv, warn, pin = bench.gate_decision(0.114, 0.116, boot_baseline=0.095)
    assert inv == []
    assert pin == round((0.114 + 0.116) / 2, 4)
    assert any("re-pinned UPWARD" in w for w in warn)


def test_gate_decision_slower_than_pin_unstable_still_invalid():
    """An unstable slower pair cannot re-pin upward — same stability
    rule as every other pin path."""
    inv, _, pin = bench.gate_decision(0.114, 0.140, boot_baseline=0.095)
    assert pin is None and len(inv) == 1


def test_gate_decision_slower_without_second_probe_invalid():
    """The upward re-pin needs the confirming probe (the caller takes
    one whenever the first probe deviates either side of the band)."""
    inv, _, pin = bench.gate_decision(0.114, None, boot_baseline=0.095)
    assert pin is None and len(inv) == 1
    assert "slower than this boot's pinned" in inv[0]


def test_gate_decision_repin_candidate_sanity_guarded():
    """A fast pair outside PY_LOOP_SANITY (hardware-class swap) or too
    far from the historical quiet class must not re-pin."""
    inv, _, pin = bench.gate_decision(0.030, 0.031, boot_baseline=0.120)
    assert pin is None and len(inv) == 1 and "re-pin candidate" in inv[0]


def test_index_append_gate_checks_arithmetic():
    """r12 index-append gate: equality is exact tuple equality of
    (count, hash_sum) summaries; walls must show append < rebuild."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from index_append_gate import evaluate_checks as ev

    ok = ev(
        (100, "7"), (100, "7"), (50, "3"), (50, "3"),
        (20, "9"), (20, "9"), 10.0, 60.0, 2.0, 8.0,
    )
    assert all(ok.values())
    assert "bm25_postings_equal" not in ok  # r12 shape, no bm25 leg
    bad = ev(
        (100, "7"), (100, "8"), (50, "3"), (49, "3"),
        (20, "9"), (20, "9"), 70.0, 60.0, 2.0, 8.0,
    )
    assert not bad["minhash_bands_equal"]
    assert not bad["minhash_shingles_equal"]
    assert bad["ivf_lists_equal"]
    assert not bad["minhash_append_cheaper"]
    assert bad["ivf_append_cheaper"]
    # r13 bm25 leg (VERDICT r12 #5): same exact-equality + value-claim
    # arithmetic on postings/dl
    ok3 = ev(
        (100, "7"), (100, "7"), (50, "3"), (50, "3"),
        (20, "9"), (20, "9"), 10.0, 60.0, 2.0, 8.0,
        bm25_postings=(900, "11"), bm25_postings_rebuild=(900, "11"),
        bm25_dl=(100, "5"), bm25_dl_rebuild=(100, "5"),
        bm25_append_wall=5.0, bm25_rebuild_wall=30.0,
    )
    assert all(ok3.values())
    assert {"bm25_postings_equal", "bm25_dl_equal", "bm25_append_cheaper"} <= set(ok3)
    bad3 = ev(
        (100, "7"), (100, "7"), (50, "3"), (50, "3"),
        (20, "9"), (20, "9"), 10.0, 60.0, 2.0, 8.0,
        bm25_postings=(900, "11"), bm25_postings_rebuild=(901, "11"),
        bm25_dl=(100, "5"), bm25_dl_rebuild=(100, "6"),
        bm25_append_wall=40.0, bm25_rebuild_wall=30.0,
    )
    assert not bad3["bm25_postings_equal"]
    assert not bad3["bm25_dl_equal"]
    assert not bad3["bm25_append_cheaper"]
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="partial bm25"):
        ev(
            (1, "1"), (1, "1"), (1, "1"), (1, "1"),
            (1, "1"), (1, "1"), 1.0, 2.0, 1.0, 2.0,
            bm25_postings=(1, "1"),
        )


def test_corpus_pipeline_1000x_checks_arithmetic():
    """r12 full-pipeline x1000 gate (r13 shared-vocab checks): exact
    input, banded exact/neardup, chance-banded contaminated count,
    ~linear ppl, replica-0 identity, DSIR k, manifest identity, wall
    linearity."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from corpus_pipeline_1000x_gate import (
        CLEAN_FAIL_REPLICA_SPAN,
        PPL_REPLICA_RATE_SPAN,
        evaluate_checks as ev,
    )

    s1 = dict(
        n_input=5000, n_pass_exact=4500, n_pass_neardup=4600,
        n_pass_clean=1400, n_pass_quality=3000, n_pass_gopher=4800,
        n_pass_ppl=4700, n_pass_dsir=500, n_retained=80,
    )
    n_repl = 4_995_000  # docs beyond replica 0
    sN = dict(
        n_input=5_000_000, n_pass_exact=4_499_100,  # -0.02% collapse
        n_pass_neardup=4_599_700,                   # a few LSH re-rolls
        # fails = 1x fails (3600) + measured-chance fails on the
        # replicated docs (rate 0.68, inside CLEAN_FAIL_REPLICA_SPAN)
        n_pass_clean=5_000_000 - 3600 - int(0.68 * n_repl),
        n_pass_quality=2_500_000, n_pass_gopher=4_700_000,
        # replicas pass ppl at the measured ensemble rate (0.30)
        n_pass_ppl=4700 + int(0.30 * n_repl),
        n_pass_dsir=500_000, n_retained=70_000,
    )
    rep0 = dict(
        n_input=5000, n_pass_exact=4500, n_pass_neardup=4600,
        n_pass_clean=1400, n_pass_quality=3000, n_pass_gopher=4800,
        n_pass_ppl=4700,
    )
    ok = ev(s1, sN, rep0, 1000, 10.0, 5000.0, 80, 70_000)
    assert all(ok.values()), ok
    # drifted replica-0 slice fails the identity check
    bad0 = dict(rep0, n_pass_quality=2999)
    assert not ev(s1, sN, bad0, 1000, 10.0, 5000.0, 80, 70_000)[
        "replica0_slice_equals_1x"
    ]
    # exact dedup past the rewrite-collapse band fails
    badN = dict(sN, n_pass_exact=4_490_000)
    assert not ev(s1, badN, rep0, 1000, 10.0, 5000.0, 80, 70_000)[
        "exact_dedup_band"
    ]
    # a super-linear wall fails
    assert not ev(s1, sN, rep0, 1000, 10.0, 10_001.0, 80, 70_000)[
        "wall_linear"
    ]
    # chance clean-fail rate outside the measured span fails both ways
    lo, hi = CLEAN_FAIL_REPLICA_SPAN
    for rate in (lo * 0.9, hi * 1.1):
        badC = dict(
            sN, n_pass_clean=sN["n_input"] - 3600 - int(rate * n_repl)
        )
        assert not ev(s1, badC, rep0, 1000, 10.0, 5000.0, 80, 70_000)[
            "clean_fails_band"
        ], rate
    # the r12 disjoint-vocab collapse (0.25% pass at scale) now FAILS
    badP = dict(sN, n_pass_ppl=12_740)
    assert not ev(s1, badP, rep0, 1000, 10.0, 5000.0, 80, 70_000)[
        "ppl_linear_band"
    ]
    # and a replica rate just past either span edge fails symmetrically
    plo, phi = PPL_REPLICA_RATE_SPAN
    for rate in (plo * 0.9, phi * 1.1):
        badP2 = dict(sN, n_pass_ppl=4700 + int(rate * n_repl))
        assert not ev(s1, badP2, rep0, 1000, 10.0, 5000.0, 80, 70_000)[
            "ppl_linear_band"
        ], rate


def test_quiet_span_scales_with_pin_override():
    """r12 review: the drift-note span must move with an overridden
    quiet pin (hardware change), else the documented override warns
    forever on the new hardware's quiet readings. scale = pin / the
    SHIPPED default — not pin / the overridden value (identically 1)."""
    # new-hardware pin 0.23 (2x the shipped 0.115): quiet readings ~0.20
    # self-pin cleanly with NO drift note (span scaled to ~[0.184, 0.29])
    inv, warn, pin = bench.gate_decision(
        0.20, 0.205, boot_baseline=None, quiet_pin=0.23
    )
    assert inv == [] and pin is not None
    assert warn == []
    # while under the DEFAULT pin the same reading cannot even self-pin
    # (the steady-load guard: >45% from the historical class) — the
    # override is the documented path to a clean run on new hardware
    inv, _, cand = bench.gate_decision(0.20, 0.205, boot_baseline=None)
    assert cand is None and len(inv) == 1


def test_paired_bench_summary_arithmetic():
    """r13 paired same-boot protocol: per-leg A-B deltas on the common
    legs, one-sided legs listed (never silently dropped), common-leg
    totals and delta consistent."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from paired_bench import paired_summary

    a = {"x": 1.0, "y": 2.5, "new_leg": 0.4}
    b = {"x": 1.2, "y": 2.0, "old_leg": 9.9}
    s = paired_summary(a, b)
    assert s["legs"]["x"]["delta"] == -0.2
    assert s["legs"]["y"]["delta"] == 0.5
    # sorted by |delta| descending
    assert list(s["legs"]) == ["y", "x"]
    assert s["only_in_a"] == ["new_leg"] and s["only_in_b"] == ["old_leg"]
    assert s["total_a_common"] == 3.5 and s["total_b_common"] == 3.2
    assert abs(s["delta_common"] - 0.3) < 1e-9


def test_steal_snapshot_shape():
    snap = bench._steal_snapshot()
    if snap is not None:  # Linux
        steal, total = snap
        assert 0 <= steal <= total
