"""Shared staged-LSH pipeline pieces for the scale-gate tools.

Three gates time the same staged decomposition of the near-dup
pipeline — dedup_1000x_gate's per-stage breakdown,
map_stage_10000x_gate's fourth-decade probe, and
neardup_composed_gate's end-to-end composition. The stage expressions
and parameters (word-2-gram shingles, 32 hashes, 8 bands, Jaccard 0.5)
MUST be byte-identical across them or the gates measure different
pipelines; this module exists to prevent that drift. The frames are built from the production operator
internals (operators.dedup) — no gate-only reimplementation.
"""

from __future__ import annotations

NGRAM_N = 2
NUM_HASHES = 32
BANDS = 8
THRESHOLD = 0.5


def staged_frames(docs, pin_sets: bool = True):
    """(sets_filtered, banded_pinned) — stage A of the pipeline: the
    per-doc hash sets and base hashes (operators.dedup._minhash_sets)
    and their bands, pinned with materialize.scoped_pin so callers
    consume inside dedup_cache_scope(). ``pin_sets=False`` is
    for gates that never run the verifier (map_stage_10000x_gate) or
    narrow the sets first (neardup_composed_gate): pinning 50M docs'
    sets is a large cache for a frame read once, and the pin is only
    load-bearing when the verifier re-joins the sets."""
    from mapping_timeseries_spark import materialize as M
    from mapping_timeseries_spark.operators import dedup as D

    sets = D._minhash_sets(docs, "text", NGRAM_N)
    if pin_sets:
        sets = M.scoped_pin(sets)
    sets = sets.where(sets.n_shingles > 0)
    banded = M.scoped_pin(D._band_frame(sets, NUM_HASHES, BANDS))
    return sets, banded


def candidates(banded, mode: str):
    """Stage B first half: LSH candidate pairs ('pairs' or 'star')."""
    from mapping_timeseries_spark.operators import dedup as D

    return D._lsh_candidates(banded, mode)


def verify(cand, sets, threshold: float = THRESHOLD):
    """Stage B second half: exact-by-hash Jaccard verification."""
    from mapping_timeseries_spark.operators import dedup as D

    return D._verify_jaccard_hashed(cand, sets, threshold)


def narrowed_verify(cand, sets_unpinned, threshold: float = THRESHOLD):
    """Stage B second half, participant-narrowed form: the UN-pinned
    set frame is broadcast-semi-joined down to the candidate
    participants (map-side filter — no Exchange of the corpus-sized
    side), the narrowed frame is pinned, and the same production
    verifier runs against it. Row-identical to verify(cand, sets) by
    the candidate-removing-only argument on narrow_sets_to_participants
    (pytest-pinned); exists because pinning 50M docs' sets for a
    verifier that reads ~1% of them is the x10000 scale wall. Returns
    (verified_edges, narrowed_pinned) so the caller's scope can account
    for the pin."""
    from mapping_timeseries_spark import materialize as M
    from mapping_timeseries_spark.operators import dedup as D

    cand = M.scoped_pin(cand)
    narrowed = M.scoped_pin(
        D.narrow_sets_to_participants(sets_unpinned, cand)
    )
    return D._verify_jaccard_hashed(cand, narrowed, threshold), narrowed
