"""Document deduplication (SURVEY §2.11): exact, n-gram Jaccard, MinHash
LSH, SimHash, and embedding-cosine near-dup.

Scale design
------------
- Exact dedup is a hash groupBy on the content hash — one shuffle keyed by
  sha2(text) (shuffling 32-byte digests, not documents).
- Exact n-gram Jaccard is quadratic in documents sharing a shingle; it is
  the verification/oracle path, run on candidate pairs only at scale.
- MinHash LSH is the scale path: signature -> band buckets -> self-join on
  (band, bucket-hash) -> candidate pairs -> Jaccard verify. The band join
  only pairs documents agreeing on a full band, so the join fan-out is the
  collision count, not n^2. Every MinHash path pins, stores and verifies
  one per-doc form, the sorted xxhash64 shingle set (:func:`_minhash_sets`);
  string shingles exist only inside the projection that hashes them.
- SimHash gives a 60-bit fingerprint; near-dup = small Hamming distance.
  The block-join by fingerprint prefix bounds the pair space.
- Embedding near-dup reuses the cosine machinery from similarity.py.

Every intermediate these operators materialize goes through
:mod:`mapping_timeseries_spark.materialize`, whose docstring states the
one lifetime rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    hamming64,
    minhash_base_hashes,
    minhash_signature_portable,
    portable_hash64,
    tokens,
    word_shingles_from_tokens,
)
from ..materialize import (
    dedup_cache_scope,
    release,
    scoped_checkpoint,
    scoped_pin,
)
from ..sources.index_store import IndexStore
from ..sources.readers import ensure_parallel

__all__ = [
    "dedup_cache_scope",
    "exact_dedup",
    "content_hash_dedup",
    "ngram_jaccard_pairs",
    "ngram_decontaminate",
    "minhash_lsh_pairs",
    "narrow_sets_to_participants",
    "minhash_index_frames",
    "build_minhash_index",
    "load_minhash_index",
    "minhash_dedup_incremental",
    "minhash_dedup_incremental_path",
    "append_minhash_index",
    "simhash_fingerprints",
    "simhash_near_dups",
    "dedup_clusters",
    "dup_span_stats",
    "dup_spans",
    "remove_dup_spans",
    "line_dedup",
    "minhash_dedup_stream",
    "minhash_index_compact",
]

def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by full text: keep the smallest doc_id per distinct
    text, count the copies. Deterministic keeper -> oracle-checkable."""
    return docs.groupBy(text_col).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keeper_doc_id", "n_copies")


def content_hash_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on sha2(text) — at scale the shuffle carries 32-byte
    digests instead of documents. Output: one row per distinct digest."""
    return (
        docs.select(F.sha2(F.col(text_col), 256).alias("content_sha"), "doc_id")
        .groupBy("content_sha")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# scan-width guard lives with the sources layer now; operators keep the
# old private name as an alias
_ensure_parallel = ensure_parallel


def _shingled(
    docs: DataFrame, text_col: str, n: int, keep_cols: tuple = ()
) -> DataFrame:
    """``(doc_id, *keep_cols, shingles, n_shingles)``: each doc's
    distinct word n-grams as strings — the one tokenize+shingle body.
    Operators hash the strings in the next projection
    (:func:`_ngram_hsets`, :func:`_minhash_sets`) and never pin, store
    or join them."""
    # two-step projection: bind the token array, THEN shingle from it —
    # an unbound tokens(text) inside the gram lambda re-splits the text
    # per element (see word_shingles_from_tokens)
    extra = [F.col(c) for c in keep_cols]
    return (
        _ensure_parallel(docs)
        .select("doc_id", *extra, tokens(F.col(text_col)).alias("__toks"))
        .select(
            "doc_id",
            *extra,
            word_shingles_from_tokens(F.col("__toks"), n).alias("shingles"),
        )
        .withColumn("n_shingles", F.size("shingles"))
    )


def _sorted_hashes(shingles: str):
    """The per-doc set form: xxhash64 of each shingle, sorted. Shingles
    are distinct per doc (word_shingles_from_tokens ends in
    array_distinct), so the array is the doc's shingle set up to a
    64-bit collision (see :func:`_verify_jaccard_hashed`)."""
    return F.array_sort(F.transform(shingles, lambda s: F.xxhash64(s)))


#: What a verifier joins and an index stores: the per-doc hash set.
_SET_COLS = ("doc_id", "n_shingles", "__hset")


def narrow_sets_to_participants(
    sets_df: DataFrame, candidates: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Restrict a per-doc set frame to the docs that actually appear in
    a candidate pair list, via a BROADCAST left-semi join over the
    distinct participant ids.

    The verifier only ever reads set rows for docs present in
    ``candidates`` (both its joins are inner on doc_a/doc_b), so this is
    candidate-removing-only — verify(narrow(sets, cand), cand) is
    row-identical to verify(sets, cand) (pytest-pinned). What it buys at
    scale: the corpus-sized set frame is filtered MAP-SIDE (broadcast
    semi-join, no Exchange of the big side) before the verify joins, so
    their shuffles move |participants| rows instead of |corpus| rows.
    The x10000 composed gate measured the difference directly: at 50M
    docs the un-narrowed verify must shuffle all 50M set rows, while
    star-candidate participants are ~1% of the corpus. Boundary: the
    broadcast carries the distinct participant-id list (~8 B each,
    ~80 MB at 10M participants); past ~100M participants let AQE pick
    the strategy by dropping the explicit broadcast hint."""
    ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    return sets_df.join(F.broadcast(ids), id_col, "left_semi")


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """Rows of ``pairs`` whose two joined sets ``(__h_a, __na)`` and
    ``(__h_b, __nb)`` have Jaccard >= threshold, with ``jaccard`` added
    — the one verify expression of the batch verifier and the stream."""
    return (
        pairs.withColumn(
            "__common", F.size(F.array_intersect("__h_a", "__h_b"))
        )
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.col("__na") + F.col("__nb") - F.col("__common")),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _verify_jaccard_hashed(
    candidates: DataFrame, hsets: DataFrame, threshold: float
) -> DataFrame:
    """Exact-by-hash Jaccard verification for candidate (doc_a, doc_b)
    pairs against per-doc SORTED arrays of 64-bit shingle hashes — the
    one verifier of MinHash and n-gram Jaccard.

    Two deliberate scale choices, driven by the measured 10x
    super-linearity (artifacts/ppjoin_growth.json: candidates x10 but
    wall x19 — the verification stage spilled while it joined string
    shingle arrays):

    - rows carry ``array<long>`` (8 B/shingle) instead of string
      shingles (~1 KB/doc with JVM object overhead), shrinking the
      join payload ~5-10x;
    - both set joins are hinted SHUFFLE_HASH with the per-doc set
      frame as the build side: the build side is one row per document
      (small per partition at any scale), and the large candidate
      stream is never SORTED — sort-merge-join was what spilled when
      15M candidate rows each carrying a ~1 KB array hit the sorter.

    |A| and |B| come from the string-shingle counts; the hash arrays
    are used only for the intersection count. A 64-bit collision (two
    distinct shingles, same xxhash64) can overcount the overlap by 1 —
    expected colliding shingle pairs ~ V^2/2^65, i.e. ~1e-9 at 256k
    distinct shingles and still <0.003 at 1e8 — a documented
    approximation, same contract as the module's other hash-keyed
    operators (gopher repetition, dup_spans, line_dedup)."""
    sets_a = hsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__hset").alias("__h_a"),
        F.col("n_shingles").alias("__na"),
    )
    sets_b = hsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__hset").alias("__h_b"),
        F.col("n_shingles").alias("__nb"),
    )
    return _jaccard_at_least(
        candidates.join(sets_a.hint("shuffle_hash"), "doc_a").join(
            sets_b.hint("shuffle_hash"), "doc_b"
        ),
        threshold,
    ).select("doc_a", "doc_b", "jaccard")


def _ngram_hsets(
    docs: DataFrame, text_col: str, n: int, keep_cols: tuple = ()
) -> DataFrame:
    """PPJoin stage 1: per-doc SORTED arrays of 64-bit shingle hashes
    ``(doc_id, *keep_cols, n_shingles, __hset)`` — the compact frame
    both the posting explode and the exact verifier read. Split out so
    the 100x staging harness (tools/text_100x_gate.py) can checkpoint
    each stage to parquet once instead of re-paying the shingle pass
    per bucketed action.

    ``keep_cols``: extra doc columns carried through unchanged —
    lets one shared hsets pass serve consumers that partition the
    corpus by a metadata column (q_ngram_jaccard splits on ``source``
    for the decontamination half) without a corpus-sized join to
    re-attach it."""
    return _shingled(docs, text_col, n, keep_cols).select(
        "doc_id",
        *keep_cols,
        "n_shingles",
        _sorted_hashes("shingles").alias("__hset"),
    )


def _minhash_sets(
    docs: DataFrame, text_col: str, n: int, keep_cols: tuple = ()
) -> DataFrame:
    """The one per-doc MinHash form: :func:`_ngram_hsets`'s columns plus
    ``__base``, each shingle's md5-derived base hash
    (:func:`minhash_base_hashes`), which the signature reads. Both
    arrays come out of one tokenize+shingle projection: banding reads
    ``__base`` and verification reads ``__hset``, so a caller that pins
    this frame runs the shingle pass once. Indexes store only
    ``_SET_COLS``."""
    return _shingled(docs, text_col, n, keep_cols).select(
        "doc_id",
        *keep_cols,
        "n_shingles",
        _sorted_hashes("shingles").alias("__hset"),
        minhash_base_hashes(F.col("shingles")).alias("__base"),
    )


def _ngram_prefix(hsets: DataFrame, threshold: float) -> DataFrame:
    """PPJoin stage 2: the df-ranked per-doc PREFIX table
    ``(doc_id, n_shingles, __pos, shingle)``.

    Required bound: |A| - ceil(t*|A|) + 1. Computed so float error can
    only LENGTHEN the prefix (extra candidates), never shorten it (lost
    pairs): the 1e-9 nudge absorbs representation error in t*n (~1e-13
    even at thousands of shingles) without crossing a true integer —
    floor((1-t)*n)+1 evaluated naively yields e.g. 0 for t=0.8, n=5
    because (1-0.8)*5 < 1 in floats, one short of the exact bound 2.
    Validity: the fixed nudge is safe while ulp(t*n) << 1e-9, i.e.
    n_shingles below ~1e7 (ulp(1e7) ≈ 2e-9); a document with 10^7
    n-grams is ~100 MB of text — far past where a doc should have been
    split upstream. Beyond that, scale the nudge with n.

    array_sort on struct<__df,shingle> orders by (df asc, hash asc) —
    the same consistent global order the row_number window used; the
    slice keeps exactly the first prefix_len elements, so __pos (the
    1-based posexplode index) IS the global per-doc rank the positional
    filter in :func:`_ngram_candidates` needs."""
    inv = hsets.select(
        "doc_id", "n_shingles", F.explode("__hset").alias("shingle")
    )
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    prefix_len = (
        F.col("n_shingles")
        - F.ceil(F.lit(threshold) * F.col("n_shingles") - F.lit(1e-9))
        + 1
    ).cast("int")
    return (
        inv.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.collect_list(F.struct("__df", "shingle")).alias("__ps"),
        )
        .withColumn("__ps", F.slice(F.array_sort("__ps"), 1, prefix_len))
        .select(
            "doc_id", "n_shingles", F.posexplode("__ps").alias("__i", "__e")
        )
        .select(
            "doc_id",
            "n_shingles",
            (F.col("__i") + 1).alias("__pos"),
            F.col("__e.shingle").alias("shingle"),
        )
    )


def _ngram_candidates(prefix: DataFrame, threshold: float) -> DataFrame:
    """PPJoin stage 3: the prefix self-join with the length and
    PAIR-GROUPED positional filters — emits (doc_a, doc_b) candidates
    for exact verification.

    PPJoin's OTHER two filters on the candidate join — the prefix match
    alone still floods candidates on shared vocabulary (measured at
    sf0.1: 7.9M prefix-matched pairs collapsing to 256 real ones, with
    verification dominating the runtime 10:1):
    - length filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|);
    - positional filter, PAIR-GROUPED (Xiao et al., WWW'08): J >= t
      needs overlap >= alpha = ceil(t/(1+t) * (|A|+|B|)). Group the
      matched prefix rows per pair: with both docs' shingles ranked by
      the SAME global (df, shingle) order, every common element not
      matched prefix-to-prefix must rank after BOTH max matched
      positions (were it at posA <= maxPosA, consistent ordering puts
      it at posB <= maxPosB too, i.e. it WOULD be a counted match), so
      overlap <= c + min(|A| - maxPosA, |B| - maxPosB). This is
      strictly tighter than the classic any-single-row form
      1 + min(|A| - posA, |B| - posB) (between the first and last
      match sit c-1 further matches, so the first-row slack
      overcounts by exactly the matches it ignores). The per-row form
      must NOT also prefilter the join: dropping rows undercounts c
      and maxPos and would wrongly prune true pairs. Measured
      (artifacts/ppjoin_growth.json): the grouped bound cuts
      verification candidates 2.3x vs the per-row form (3.54M ->
      1.52M at sf0.1) and the 10x-corpus full-query wall 207 -> 154 s
      — verification carries ~400-byte shingle arrays per side, so
      candidate rows are exactly what spills at scale.
    Both bounds only REMOVE provably-impossible pairs, so the result
    set (and the DuckDB oracle) is unchanged. The same 1e-9 nudge
    keeps the float ceil from overshooting a true integer boundary."""
    na, nb = F.col("a.n_shingles"), F.col("b.n_shingles")
    return (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(na, nb) >= F.ceil(F.lit(threshold) * F.greatest(na, nb) - F.lit(1e-9)))
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            na.alias("__na"),
            nb.alias("__nb"),
        )
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.max("a.__pos").alias("__ma"),
            F.max("b.__pos").alias("__mb"),
        )
        .where(
            F.col("__c")
            + F.least(
                F.col("__na") - F.col("__ma"), F.col("__nb") - F.col("__mb")
            )
            >= F.ceil(
                F.lit(threshold / (1.0 + threshold))
                * (F.col("__na") + F.col("__nb"))
                - F.lit(1e-9)
            )
        )
        .select("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.5,
    candidates_only: bool = False,
    hsets: DataFrame | None = None,
) -> DataFrame:
    """Word-n-gram Jaccard pairs with J >= threshold (doc_a < doc_b).

    Prefix-filtered similarity self-join (AllPairs/PPJoin family): order
    each document's shingles by ascending global document frequency and
    index only the first ``|A| - ceil(t*|A|) + 1`` of them (the exact
    PPJoin bound; the naive float form ``floor((1-t)*|A|)+1`` equals it
    only in exact arithmetic) — two sets with J >= t MUST share a prefix
    shingle under a consistent global order, so joining prefixes loses no
    pairs while the join runs over the RAREST shingles (frequent shingles,
    which drive the quadratic fan-out of a naive inverted-index join,
    never enter the index). Candidates are then verified with exact
    array_intersect Jaccard over per-doc hash sets
    (:func:`_verify_jaccard_hashed`). ``threshold`` must lie in (0, 1]:
    the prefix bound ``|A| - ceil(t*|A|) + 1`` goes non-positive for
    t > 1 and F.slice raises at runtime deep inside the plan, so the
    contract is enforced here at build time.

    The ENTIRE pipeline — df counting, prefix ordering, candidate join,
    verification — runs on xxhash64(shingle) rather than shingle
    strings: every shuffle carries 8-byte longs, and the global prefix
    order (df asc, hash asc) is just as valid as (df asc, shingle asc).
    The one semantic consequence is the 64-bit collision approximation
    documented on :func:`_verify_jaccard_hashed`; modulo that, the
    result is algorithm-independent (exactly all pairs with J >= t), so
    the DuckDB oracle stays the naive string formulation and the
    registry gate hash-compares against it.

    Candidate-stage shape (this stage was 93% of the 10x wall when it
    pinned string arrays): the per-doc hash set is computed MAP-SIDE as
    ``array_sort(transform(shingles, xxhash64))`` and pinned once —
    both the posting explode and the verification arrays read from it,
    so explode+hash+regroup runs once rather than once per reader. Prefix ranking is a groupBy(doc_id) that collect_lists the
    (df, hash) pairs, array_sorts the per-doc list and SLICEs it to the
    prefix bound before re-exploding — same (df asc, hash asc) global
    order as the old row_number window, but the sort is per-doc over
    in-memory arrays instead of a whole-partition window sort of every
    posting, and only prefix rows are ever emitted (measured at sf0.1:
    leg 10.5 -> 5.8 s; 10x growth unchanged-to-better, see
    artifacts/ppjoin_growth.json).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold!r}"
        )
    # pin the COMPACT per-doc hash arrays, not the exploded postings:
    # caching the 50x-larger exploded frame and scanning it from the
    # cache was measured ~2.4x slower end-to-end than re-running the
    # (cheap) explode against the cached arrays (interleaved A/B at
    # sf0.1: 9.0 s vs 3.7 s min-of-4).
    # ``hsets``: a caller that also runs decontamination over the
    # same corpus passes ONE shared (already-pinned) hsets frame so the
    # tokenize+shingle+hash pass runs once for both operators; the
    # caller then owns the pin's lifetime.
    # NOTE (measured and REJECTED): a cold pin here is materialized
    # concurrently by every consumer's first stage (profiled at sf0.1:
    # one cold action ran the tokenize+shingle+sort pass up to SIX times
    # in parallel, ~28 s of duplicated executor time). Routing all
    # consumers through one `repartition(doc_id)` gate does dedupe the
    # materialization via AQE stage reuse — but the gate exchange moves
    # the full shingle-hash arrays (~1 GB shuffle at sf0.1 vs ~100 MB
    # without), and the full-bench median regressed 6.3 s -> 16.7 s:
    # on cold reps the serialized exchange costs far more than the
    # duplicated map work that idle cores absorb. Keep the duplicate
    # materialization; it is bounded by consumer count, not data size.
    if hsets is None:
        hsets = scoped_pin(_ngram_hsets(docs, text_col, n))
    prefix = scoped_pin(_ngram_prefix(hsets, threshold))
    cand = _ngram_candidates(prefix, threshold)
    if candidates_only:
        # measurement hook (tools/ppjoin_growth.py): the post-filter
        # candidate set BEFORE exact verification — counting it at 1x vs
        # 10x corpus scale empirically pins the filter stack's
        # sub-quadratic candidate growth. Not a query surface.
        return cand
    # verification reads the SAME pinned per-doc hash arrays the prefix
    # stage exploded — no second explode+hash+regroup pass
    return _verify_jaccard_hashed(cand, hsets, threshold)


def ngram_decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    n: int = 2,
    min_overlap: float = 0.2,
    train_hsets: DataFrame | None = None,
    holdout_hsets: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: training documents that reproduce a
    holdout/benchmark document's content, measured by word-n-gram
    containment.

    ``overlap(t, h) = |shingles(t) ∩ shingles(h)| / |shingles(h)|`` —
    asymmetric by design. What leaks test answers into a training corpus
    is the *benchmark item embedded inside* a (possibly much longer)
    training document; symmetric Jaccard would dilute that to near zero
    for a long page quoting a short benchmark question, while containment
    of the holdout side scores it 1.0.

    Scale design: inverted-index equi-join on the shingle — the shuffle
    carries (doc_id, shingle) tokens, never document text. The holdout
    index is a benchmark suite (thousands of items, not billions of
    docs), so it is broadcast: the training-corpus side streams map-side
    with NO shuffle of the 100 TB table at all, and candidate fan-out is
    bounded by shared-shingle collisions rather than |train|x|holdout|.
    Holdout docs with fewer than ``n`` tokens have no shingles and cannot
    be flagged (they carry no matchable content).

    The broadcast hash join is the membership test: every train
    posting probes the holdout's hash table once, on the 64-bit shingle
    hash. A probabilistic pre-filter in front of it tests the same key
    and pays only when it saves shipping or probing a large relation;
    the holdout is broadcast anyway, and the bitmap pre-filter this
    operator once had lost every paired run against the bare join
    (SCALE.md, "Decontamination: the broadcast join alone").

    Output: (train_doc, holdout_doc, shared_ngrams, holdout_ngrams,
    overlap) for pairs with overlap >= min_overlap.
    """
    # the join key and the broadcast relation run on xxhash64(shingle)
    # rather than shingle strings — the broadcast carries 8-byte longs
    # (~2-3x smaller than ~15-char grams), the corpus-side probe hashes
    # with the JVM-native xxhash64 instead of md5, and the containment
    # count inherits the same documented 64-bit-collision approximation
    # as the near-dup pipeline (`_verify_jaccard_hashed`): a collision
    # can overcount shared_ngrams by 1 with probability ~V^2/2^65 — the
    # DuckDB oracle stays the exact string formulation and the registry
    # gate hash-compares against it.
    # don't compute things twice: callers that have already paid the
    # shingle pass (q_ngram_jaccard shares the PPJoin half's pinned
    # hsets, flag_corpus the MinHash stage's pinned sets) pass
    # ``*_hsets`` frames with `_ngram_hsets`' columns. Exploding a
    # sorted-hash array yields each distinct shingle's hash once.
    if train_hsets is None:
        train_hsets = _ngram_hsets(train, text_col, n)
    if holdout_hsets is None:
        holdout_hsets = _ngram_hsets(holdout, text_col, n)
    tr = train_hsets.select(
        F.col("doc_id").alias("train_doc"),
        F.explode("__hset").alias("shingle"),
    )
    ho = holdout_hsets.select(
        F.col("doc_id").alias("holdout_doc"),
        F.col("n_shingles").alias("holdout_ngrams"),
        F.explode("__hset").alias("shingle"),
    )
    return (
        tr.join(F.broadcast(ho), "shingle")
        .groupBy("train_doc", "holdout_doc")
        .agg(
            F.count(F.lit(1)).alias("shared_ngrams"),
            F.first("holdout_ngrams").alias("holdout_ngrams"),
        )
        .withColumn(
            "overlap", F.col("shared_ngrams") / F.col("holdout_ngrams")
        )
        .where(F.col("overlap") >= min_overlap)
    )


def _band_frame(
    sh: DataFrame, num_hashes: int, bands: int, carry=()
) -> DataFrame:
    """LSH banding of a :func:`_minhash_sets` frame: (doc_id, *carry,
    band, bucket:string), one row per (doc, band) — the one
    candidate-key generator for the batch self-join
    (:func:`minhash_lsh_pairs`), the persisted index and its
    incremental join (:func:`minhash_dedup_incremental`), and the
    stream (:func:`minhash_dedup_stream`, which passes its hash set and
    watermark through as ``carry``; a falsy ``carry`` passes nothing).
    A :func:`_shingled` frame (no ``__base``) is hashed here instead.

    The signature is :func:`minhash_signature_portable` over the
    ``__base`` array of :func:`minhash_base_hashes`, and a band's
    bucket key is its ``num_hashes // bands`` values joined with ``,``.
    Each value is below 2^31, so the key is exact — two docs share a
    bucket only if they agree on the whole band, at any corpus size —
    and it is the key the DuckDB twin computes. Both sides of any join
    MUST use identical (num_hashes, bands): bucket strings from
    different parameters never collide, which reads as 'no duplicates'
    rather than an error — the meta.json guard in the index functions
    exists for exactly this."""
    rows_per_band = num_hashes // bands
    carry = list(carry or ())
    sig = minhash_signature_portable("__base", num_hashes)

    def bucket_key(band: int):
        return F.concat_ws(
            ",",
            *[
                F.col("sig")[band * rows_per_band + r]
                for r in range(rows_per_band)
            ],
        )

    if "__base" not in sh.columns:
        sh = sh.withColumn("__base", minhash_base_hashes(F.col("shingles")))
    return sh.withColumn("sig", sig).select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        bucket_key(band).alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", *carry, "bb.band", "bb.bucket")


def _lsh_candidates(banded: DataFrame, mode: str = "pairs") -> DataFrame:
    """Candidate pairs from a banded frame (doc_id, band, bucket).

    ``mode="pairs"`` — the all-pairs bucket self-join: every pair of
    documents sharing a (band, bucket) becomes a candidate. This is
    REQUIRED when the output semantics are the pairs themselves (the
    result of :func:`minhash_lsh_pairs` is every near-dup pair, which is
    intrinsically O(k²) on a k-clique), but it is quadratic in the
    hottest bucket: a templated near-identical clique of k documents
    (common in web data — boilerplate pages differing by a timestamp, so
    they SURVIVE exact dedup) emits ~k²/2 candidates per band.
    k = 10⁶ boilerplate pages ⇒ 5·10¹¹ pairs ⇒ dead job at 100 TB.

    ``mode="star"`` — the clustering-consumer candidate set: within
    each (band, bucket), pair every member with the bucket
    MINIMUM doc_id only. Candidates are bounded by |banded| = docs ×
    bands — exactly linear regardless of bucket skew — and every emitted
    edge still goes through the exact-Jaccard verifier, so no false
    merge is possible. Connected components over verified star edges is
    a REFINEMENT of components over verified all-pairs edges (every star
    edge is an all-pairs edge; star may MISS an edge x–y where both x, y
    clear the threshold against each other but neither clears it against
    the bucket min — published corpus pipelines accept the same trade by
    unioning unverified buckets outright). On transitively-similar
    near-dup cliques — the input shape that makes all-pairs explode —
    the hub verifies against every member and the components are
    IDENTICAL (pytest-pinned on the fixture corpora;
    tools/hot_clique_gate.py measures the candidate growth).
    """
    if mode == "pairs":
        return (
            banded.alias("x")
            .join(
                banded.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    if mode == "star":
        hubs = (
            banded.groupBy("band", "bucket")
            .agg(
                F.min("doc_id").alias("hub"),
                F.count(F.lit(1)).alias("__sz"),
            )
            .where(F.col("__sz") > 1)
            .drop("__sz")
        )
        return (
            banded.join(hubs, ["band", "bucket"])
            .where(F.col("doc_id") != F.col("hub"))
            .select(
                # hub is the bucket min, so doc_a < doc_b by construction
                F.col("hub").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
            .distinct()
        )
    raise ValueError(f"mode must be 'pairs' or 'star', got {mode!r}")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    mode: str = "pairs",
    sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup candidates, Jaccard-verified.

    signature (num_hashes minima of universal hashes over each
    shingle's md5-derived base hash) -> split into ``bands`` bands of
    ``num_hashes/bands`` rows -> bucket key = band values; docs agreeing
    on any band meet in a bucket -> candidate pair -> verify with exact
    Jaccard >= threshold.

    Probability a pair with Jaccard J becomes a candidate:
    1 - (1 - J^r)^b with r = rows/band — the standard S-curve; with
    r=4, b=8 the 50% knee sits near J=0.55.

    Output matches :func:`ngram_jaccard_pairs` (its subset, by
    construction; recall against it is asserted in pytest). The
    signature is functions.text.minhash_signature_portable — ONE md5
    per shingle, then one integer permutation per hash — and the band
    keys are the band values themselves (:func:`_band_frame`).
    Each doc's shingles are projected once, into its hash set and base
    hashes (:func:`_minhash_sets`); banding and the verifier
    (:func:`_verify_jaccard_hashed`) both read that one pin.
    ``sets``: a caller that also runs another operator over the same
    corpus passes ONE pinned :func:`_minhash_sets` frame of ``docs``
    (``text_col``, ``n``) so the shingle pass runs once for both; the
    caller then owns the pin's lifetime.
    The DuckDB twin is generated from the SAME coefficients, so the
    full signature->band->verify pipeline is hash-compared end-to-end.

    ``mode``: ``"pairs"`` (default) emits every verified within-bucket
    pair — the operator's published output contract. ``"star"`` emits
    only verified (bucket-min, member) edges — linear in corpus size
    even on a hot near-identical clique, sufficient (and the scale-safe
    choice) when the consumer is connected-components clustering rather
    than the pair list itself; see :func:`_lsh_candidates` for the exact
    recall semantics and :func:`dedup_clusters` / the corpus pipeline
    for the consumer wiring.
    """
    if bands < 1 or num_hashes % bands != 0:
        # a silent truncation changes the S-curve 1-(1-J^r)^b the
        # band/row tuning is calibrated against; rows_per_band=0 would
        # put the whole corpus in one bucket per band (n^2 join)
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    # zero-shingle docs (null text, or fewer than n tokens) all share
    # the degenerate empty-aggregate signature, so they would meet in
    # EVERY band — a quadratic candidate clique the verifier then
    # discards (their Jaccard is 0/0 -> null). They can never clear a
    # positive threshold, so drop them before banding — but filter the
    # PERSISTED frame, not the plan: a where on the computed n_shingles
    # pushes through the widening repartition down to the single-file
    # scan, evaluating the whole tokenize+shingle expression serially
    # there and AGAIN in the projection (measured 0.55 s -> 7 s at
    # sf0.1 before this ordering).
    # One pin, one shingle pass: banding reads its __base, the
    # verifier its __hset.
    if sets is None:
        sets = scoped_pin(_minhash_sets(docs, text_col, n))
    sets = sets.where(F.col("n_shingles") > 0)
    # persisted: the self-join (or hub join) would otherwise recompute
    # the full signature pipeline once per side
    banded = scoped_pin(_band_frame(sets, num_hashes, bands))
    return _verify_jaccard_hashed(
        _lsh_candidates(banded, mode), sets, threshold
    )


# ---------------------------------------------------------------------------
# Incremental MinHash dedup against a persisted index
# ---------------------------------------------------------------------------
#
# Continuous-ingestion dedup: a production corpus is not deduped once — a
# new crawl batch must be deduped against EVERYTHING ingested so far
# without re-running LSH over the full corpus. The persisted index holds
# the banded bucket keys (the candidate generator) and the sorted
# xxhash64 shingle sets (the exact verifier) of every indexed document;
# deduping a new batch reads the new docs + the index, never the
# original corpus text.
#
# Exactness contract (pytest-pinned):
#   minhash_dedup_incremental(new, index(old))
#     == minhash_lsh_pairs(old ∪ new) restricted to pairs with >= 1 new side
# — bit-for-bit, because banding/verification run the identical
# expressions (_band_frame, _verify_jaccard_hashed) on both paths.
#
# 100 TB posture: the index's bands table is (doc_id, band, bucket) —
# tiny next to the corpus — and the incremental candidate join touches
# only buckets the NEW batch occupies (a broadcast of the new batch's
# bands when the batch is small, an ordinary shuffle join otherwise).
# Verification joins hash sets for candidate doc_ids only; the hset
# table is the heavy store (8 B per shingle), so at scale write it
# bucketed by doc_id (sources.writers.write_bucketed_table) to make the
# candidate join shuffle-free. meta.json is the commit marker of the
# protocol the BM25 and IVF indexes share (sources/index_store.py):
# build and append commit it LAST with the committed bands/hsets row
# counts, and load and append refuse an index whose frames disagree
# with it (a torn append). It also names the hash family and the set
# format: every index is md5-family ("portable": true, band-value
# bucket keys) and stores sorted xxhash64 sets ("sets"), and
# load_minhash_index refuses an index of the removed seeded-xxhash64
# family ("portable": false), one that stores string shingles (no
# "sets"), or one without committed counts, each with a rebuild
# message.

#: meta.json "sets" value of an index whose hset table holds
#: _SET_COLS rows (sorted xxhash64 arrays).
_SET_FORMAT = "xxhash64-sorted"

_STORE = IndexStore("meta.json", {"hsets": "n_hsets", "bands": "n_bands"})


def minhash_index_frames(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
):
    """The disk-free form of the LSH index -> (bands_df, hsets_df):
    for composing an old-vs-new dedup inside one job (the driver query
    does this), or for unit-testing the join logic without a filesystem.
    :func:`build_minhash_index` is the persisted form with the same
    frames."""
    sets = scoped_pin(_minhash_sets(docs, text_col, n)).where(
        F.col("n_shingles") > 0
    )
    return _band_frame(sets, num_hashes, bands), sets.select(*_SET_COLS)


def _write_index_batch(
    docs: DataFrame,
    path: str,
    meta: dict,
    index_sets: DataFrame | None = None,
) -> None:
    """The writer body of :func:`build_minhash_index` (``index_sets``
    None: overwrite) and :func:`append_minhash_index` (``index_sets``
    the stored sets: refuse ids already indexed, then append): one
    shingle pass over ``docs`` into ``path/hsets`` and ``path/bands``,
    then the marker commit.

    The sets are persisted ONCE: the clash check, the hset write and the
    band write all read them. Measured by index_append_gate at 5M docs:
    writing the batch, then RE-READING the whole stored parquet and
    semi-joining it back down to the batch ids — an O(index)
    scan+shuffle that made a 10% append 2.7x SLOWER than a full rebuild
    (247 s vs 93 s); persist() gets the same compute-tokenize-once
    guarantee at O(batch) cost (post-fix walls and the unchanged
    hash-sums: artifacts/index_append_gate.json)."""
    with dedup_cache_scope():
        sets = scoped_pin(_minhash_sets(docs, meta["text_col"], meta["n"]))
        live = sets.where(F.col("n_shingles") > 0)
        if index_sets is not None:
            _STORE.refuse_reuse(index_sets, live, "doc_id", path)
        _STORE.write(
            path,
            meta,
            {
                "hsets": live.select(*_SET_COLS),
                "bands": _band_frame(live, meta["num_hashes"], meta["bands"]),
            },
            "overwrite" if index_sets is None else "append",
        )


def build_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Build the persisted LSH index for :func:`minhash_dedup_incremental`:
    ``path/bands`` (doc_id, band, bucket), ``path/hsets`` (doc_id,
    n_shingles, __hset), and ``path/meta.json`` (the LSH parameters and
    the committed row counts, written last as the commit marker — a
    partially-written index is unloadable, not silently wrong)."""
    meta = {
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
        "text_col": text_col,
        # the hash family and the set format, committed with the index
        # and checked on load (load_minhash_index): keys from another
        # family never collide, and string sets cannot be verified
        "portable": True,
        "bucket_hash": "band-values",
        "sets": _SET_FORMAT,
    }
    _write_index_batch(docs, path, meta)


def load_minhash_index(spark, path: str):
    """Load a persisted LSH index -> (bands_df, hsets_df, meta dict).
    Raises if the commit marker is missing or a frame's row count
    disagrees with it (interrupted build/append)."""
    meta = _STORE.read(path)
    # An index whose meta says portable: false was banded by the
    # removed seeded-xxhash64 family. Its keys never collide with the
    # keys _band_frame makes now, so every new batch would join it with
    # ZERO candidates — silent missed-duplicate ingestion, not an error.
    # Refuse to load it. md5-family indexes load whatever their
    # bucket_hash field says (older ones have none): their keys are the
    # band values themselves, which never changed derivation.
    if not meta.get("portable", True):
        raise ValueError(
            f"index at {path} was built by the removed seeded-xxhash64 "
            f"MinHash family (bucket_hash={meta.get('bucket_hash')!r}); "
            "its bucket keys cannot collide with new batches — rebuild "
            "the index with build_minhash_index"
        )
    # An index without "sets" stores string shingle arrays, which the
    # hashed verifier cannot read.
    if meta.get("sets") != _SET_FORMAT:
        raise ValueError(
            f"index at {path} stores {meta.get('sets') or 'string'} "
            f"shingle sets, not {_SET_FORMAT!r} hash sets — rebuild the "
            "index with build_minhash_index"
        )
    stored = _STORE.frames_of(spark, path, meta)
    return stored["bands"], stored["hsets"], meta


def minhash_dedup_incremental(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, jaccard >= threshold) where at
    least one side is in ``new_docs``: new-vs-index candidates from the
    bucket join against the persisted bands, new-vs-new from the batch
    self-join — both verified with exact Jaccard against the stored +
    fresh hash sets. Parameters MUST match the index's (see
    :func:`_band_frame`); use :func:`minhash_dedup_incremental_path` to
    have meta.json enforce that.

    doc_ids must be globally unique across the index and every batch
    (the standard ingestion contract); a reused id would alias two
    documents under one vertex."""
    new_sets = scoped_pin(_minhash_sets(new_docs, text_col, n)).where(
        F.col("n_shingles") > 0
    )
    new_banded = scoped_pin(_band_frame(new_sets, num_hashes, bands))
    # new-vs-index: each pair keyed once per colliding band -> distinct;
    # orientation by least/greatest so output keeps the doc_a < doc_b
    # convention regardless of id interleaving across batches
    cross = (
        new_banded.alias("x")
        .join(
            index_bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_a"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_b"),
        )
    )
    within = (
        new_banded.alias("x")
        .join(
            new_banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
    )
    cand = cross.unionByName(within).distinct()
    # the verifier's set universe: stored sets for indexed docs, fresh
    # sets for the batch. An id present in both would alias — excluded
    # by the unique-id contract above (and by the append guard).
    all_sets = index_sets.select(*_SET_COLS).unionByName(
        new_sets.select(*_SET_COLS)
    )
    return _verify_jaccard_hashed(cand, all_sets, threshold)


def minhash_index_compact(
    spark, path: str, target_file_mb: int = 128
) -> dict:
    """Rewrite the LSH index's bands/hsets into ~``target_file_mb``
    files (the append-fragmentation maintenance pass,
    sources/index_store.py). OFFLINE op. Returns per-frame file
    counts."""
    return _STORE.compact(spark, path, target_file_mb)


def minhash_dedup_stream(
    stream_docs: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    watermark_col: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """STREAMING near-dup detection against a persisted LSH index:
    for a Structured Streaming source of documents, emit verified pairs
    (doc_a < doc_b, jaccard) where the stream doc near-dups an INDEXED
    document — the continuous-ingestion gatekeeper ("reject the
    arriving page if the corpus already has it").

    Streaming-legal by construction, pinned stream==batch in pytest:

    - shingling/banding are map-only expressions on the stream
      (ensure_parallel is a no-op on a stream and nothing is persisted;
      micro-batch parallelism comes from the source);
    - the stream side CARRIES its hash set through the band explode,
      so both the candidate join (on band+bucket) and the verification
      join (stored hash sets by doc_id) are stream-STATIC inner joins —
      at no point do two derivatives of the stream join each other
      (that would be a stream-stream self-join needing watermarks);
    - a colliding pair surfaces once per agreeing band, so the final
      ``dropDuplicates`` collapses them statefully. Pass
      ``watermark_col`` (an event/arrival timestamp on the stream) to
      BOUND that state: the operator then applies ``withWatermark``
      and ``dropDuplicatesWithinWatermark``, evicting pair state older
      than ``watermark_delay`` — correct because a stream doc's band
      rows all share its timestamp, so every duplicate surfaces within
      one watermark window of the first. Without it the state is the
      full emitted pair set (fine for finite drains, not for a
      long-running service).

    Scope: new-vs-INDEX pairs only. Within-batch pairs are the batch
    operator's job (:func:`minhash_dedup_incremental` inside
    ``foreachBatch``, which also appends the batch into the index).
    Parameters MUST match the index's (meta.json carries them).
    """
    wm = [watermark_col] if watermark_col else []
    if watermark_col:
        stream_docs = stream_docs.withWatermark(
            watermark_col, watermark_delay
        )
    sets = _minhash_sets(stream_docs, text_col, n, keep_cols=tuple(wm)).where(
        F.col("n_shingles") > 0
    )
    # band rows CARRY the doc's hash set (re-joining it from the stream
    # would be a stream-stream self-join)
    banded = _band_frame(
        sets, num_hashes, bands, carry=(*wm, "__hset", "n_shingles")
    )
    cand = banded.alias("x").join(
        index_bands.alias("y"),
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.doc_id") != F.col("y.doc_id")),
    )
    stored = index_sets.select(
        F.col("doc_id").alias("__ydoc"),
        F.col("__hset").alias("__h_b"),
        F.col("n_shingles").alias("__nb"),
    )
    verified = _jaccard_at_least(
        cand.select(
            F.col("x.doc_id").alias("__xdoc"),
            *[F.col(f"x.{c}") for c in wm],
            F.col("x.__hset").alias("__h_a"),
            F.col("x.n_shingles").alias("__na"),
            F.col("y.doc_id").alias("__ydoc"),
        ).join(stored, "__ydoc"),
        threshold,
    ).select(
        F.least("__xdoc", "__ydoc").alias("doc_a"),
        F.greatest("__xdoc", "__ydoc").alias("doc_b"),
        "jaccard",
        *wm,
    )
    if watermark_col:
        return verified.dropDuplicatesWithinWatermark(
            ["doc_a", "doc_b"]
        ).drop(watermark_col)
    return verified.dropDuplicates(["doc_a", "doc_b"])


def minhash_dedup_incremental_path(
    spark,
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`minhash_dedup_incremental` with parameters read from the
    index's meta.json — the mismatch-proof entry point."""
    bands_df, hsets_df, meta = load_minhash_index(spark, path)
    return minhash_dedup_incremental(
        new_docs,
        bands_df,
        hsets_df,
        text_col=meta["text_col"],
        n=meta["n"],
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
        threshold=threshold,
    )


def append_minhash_index(new_docs: DataFrame, path: str) -> None:
    """Fold a new batch into a persisted index (after deduping against
    it): appends the batch's hash sets and bands with the index's own
    parameters and recommits meta.json with the new row counts. Refuses
    a torn index and ids already present (an id collision would
    silently alias two documents). The parameters are immutable for the
    index's lifetime, which is what keeps every batch's bucket keys
    collidable with every other's.

    Invariant (pytest-pinned): build(old) + append(new) reads equal to
    build(old ∪ new) row-for-row."""
    _, index_sets, meta = load_minhash_index(new_docs.sparkSession, path)
    _write_index_batch(new_docs, path, meta, index_sets)


#: SimHash fingerprint width: portable_hash64 yields 60 bits.
SIMHASH_BITS = 60


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document via explode + one hash aggregation.

    Each token is hashed with functions.text.portable_hash64 (the first
    60 bits of its md5), and bit b of the fingerprint is set when at
    least half the token hashes have bit b set. Exploding tokens and
    summing each bit in per-bit aggregate buffers is one shuffle and
    stays in codegen — far cheaper than re-walking each document's
    token array once per bit. The hash is bit-identical in DuckDB, so
    the whole fingerprint->block->Hamming pipeline hash-verifies
    end-to-end, and the fingerprint is a non-negative bigint.

    Docs with NULL text carry no tokens and therefore NO fingerprint
    row — stated contract, filtered EXPLICITLY below rather than left to
    ``explode``'s silent null-drop (a defined empty-doc fingerprint like
    0 would be worse: every empty doc would Hamming-0 "near-dup" every
    other empty doc).
    """
    tok = _ensure_parallel(docs).where(F.col(text_col).isNotNull()).select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tk")
    ).withColumn("h", portable_hash64(F.col("tk")))
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    fingerprint = None
    for b in range(SIMHASH_BITS):
        bit = (F.col(f"__b{b}") * 2 >= F.col("__n")).cast("bigint")
        term = bit * F.lit(2**b).cast("bigint")
        fingerprint = term if fingerprint is None else fingerprint + term
    return per_doc.select("doc_id", fingerprint.alias("fingerprint"))


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 8,
    prefix_bits: int = 12,
) -> DataFrame:
    """SimHash near-dup pairs: 60-bit token-majority fingerprints (see
    :func:`simhash_fingerprints`), paired when Hamming distance <=
    max_hamming.

    Blocking: candidates must share the top ``prefix_bits`` of the
    fingerprint (single-probe multi-index blocking) — bounds the self-join
    to documents in the same prefix block instead of n^2. Documents whose
    distance is small but whose prefix differs are missed (standard
    SimHash-blocking recall trade; multiple rotated tables fix it at
    scale).
    """
    fp = simhash_fingerprints(docs, text_col).withColumn(
        "block", F.shiftrightunsigned("fingerprint", SIMHASH_BITS - prefix_bits)
    )
    fp = scoped_pin(fp)
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.fingerprint"), F.col("b.fingerprint")).alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every neighbor of u LARGER than u re-hangs
    onto min(N(u) ∪ {u}). Input/output: directed edge list (src, dst)
    interpreted symmetrically by the caller."""
    m = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .withColumn("m", F.least("m", F.col("src")))
    )
    return (
        edges.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge max→min, then u and all its
    ≤-neighbors re-hang onto the minimum. Every output edge has
    src > dst."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    m = e.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        e.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(m.select("src", F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """One action: True when no src has two out-edges and no dst is
    itself a src, i.e. every component of the max→min oriented edge set
    is a star hung on its minimum."""
    multi = edges.groupBy("src").count().where(F.col("count") > 1).select("src")
    chained = edges.join(
        edges.select(F.col("src").alias("dst")), "dst", "left_semi"
    ).select("src")
    return multi.unionByName(chained).limit(1).count() == 0


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    doc_id_col: str = "doc_id",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs: the step a dedup
    pipeline ends with — collapse pairwise matches (from any of the
    pair-producing operators above) into clusters and pick one canonical
    keeper per cluster.

    Output: ``(doc_id, cluster_id, is_keeper:int)`` for EVERY document in
    ``docs`` (unmatched docs are their own singleton cluster);
    ``cluster_id`` is the minimum doc_id in the component, keeper =
    (doc_id == cluster_id) — deterministic, so the whole operator is
    oracle-checkable against a recursive-CTE twin.

    Rounds: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Each round
    is two min-aggregates and two joins over the edge list and contracts
    whole subtrees at once, so the round count is O(log n) whatever the
    component diameter: one round for a clique or a mutual near-copy
    group, seven for a 120-node chain. Min-label propagation would need
    one round per unit of diameter, which a chain of version histories
    or transcriptions exhausts.

    Convergence probe: one action per round on the round's own
    checkpoint — no src with two out-edges, and no dst that is itself a
    src. Small-star orients every edge from the larger id to the
    smaller, so that state means every component is a star whose centre
    is the component minimum: exactly what the final ``roots`` select
    reads. Both halves are needed: the path 2–5–6–9–3 leaves
    {5→3, 5→2, 6→2, 9→3} after one round, which has no chained edge but
    is not yet one star. Any edge set that is not star-form changes in the
    next large-star round, so the probe stops no later than a
    fixed-point test would, and it never compares with the previous
    round, so that round's checkpoint is released as soon as the new
    one is materialized.

    Bound: when ``max_rounds`` rounds end without star form, the call
    raises ``RuntimeError`` — a truncated run would split one true
    component into several clusters and keepers. On that path, and when
    a Spark action inside the loop raises, the live checkpoint is
    released before the exception propagates.
    """
    # checkpoint the DEDUPLICATED DIRECTED pairs only: every round
    # (including the first) builds the symmetric closure itself, so a
    # pre-loop symmetrize+distinct would pay an extra full shuffle over
    # the largest frame just to have round 1 re-symmetrize its output.
    # localCheckpoint (not persist): each round's plan would otherwise
    # nest the previous round's joins, and analysis/codegen cost grows
    # superlinearly with that depth (driver OOM at ~11 rounds on a path
    # graph). On a cluster with flaky executors use reliable
    # checkpoint() (setCheckpointDir) — same shape, storage-backed.
    edges = scoped_checkpoint(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    try:
        for _ in range(max_rounds):
            # large-star consumes the symmetric view; its output is directed
            ls = _large_star(
                edges.unionByName(
                    edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                ).distinct()
            )
            new_edges = scoped_checkpoint(_small_star(ls))
            # the probe reads only the new round, so the superseded
            # checkpoint is dead once the new one is materialized
            release(edges)
            edges = new_edges
            if _is_star_forest(edges):
                break
        else:
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_rounds} rounds; "
                "raise max_rounds"
            )
    except BaseException:
        release(edges)
        raise
    # star form: src -> component minimum. The final edges checkpoint
    # backs the result, so the caller's scope owns it.
    roots = edges.select(
        F.col("src").alias("id"), F.col("dst").alias("label")
    )
    return (
        docs.select(F.col(doc_id_col).alias("id"))
        .distinct()
        .join(roots, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("label", "id").alias("cluster_id"),
            (F.col("id") == F.coalesce("label", "id")).cast("int").alias("is_keeper"),
        )
    )


def dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """The maximal duplicated-passage intervals themselves, one row per
    span: (doc_id, span_start, span_end) in 0-based token positions,
    end exclusive. :func:`dup_span_stats` aggregates this frame to doc
    grain; :func:`remove_dup_spans` applies it as a rewrite mask. See
    dup_span_stats for the k-gram/interval-merge semantics and the
    scale posture (positional grams 60-bit-hashed pre-shuffle; the
    merge is one doc-partitioned window pass)."""
    toked = ensure_parallel(docs).select(
        "doc_id", tokens(F.col(text_col)).alias("__toks")
    )
    return _dup_spans_from_toked(toked, k, min_docs)


def _dup_spans_from_toked(
    toked: DataFrame, k: int, min_docs: int
) -> DataFrame:
    """Span detection over a pre-tokenized ``(doc_id, __toks)`` frame —
    shared by dup_spans / dup_span_stats / remove_dup_spans so each
    caller tokenizes the corpus exactly once."""
    from pyspark.sql import Window

    # positional (NON-distinct) k-grams: pos is the 0-based start token.
    # Explode the POSITIONS and build each gram per exploded row with
    # codegen'd slice+array_join (the gopher_repetition pattern) — a
    # transform(sequence, i -> element_at(...)) array under explode
    # re-evaluates per output row, O(grams²) per doc (same finding as
    # word_shingles_from_tokens).
    positions = F.when(
        F.size("__toks") >= k, F.sequence(F.lit(0), F.size("__toks") - k)
    ).otherwise(F.array().cast("array<int>"))
    g = scoped_pin(
        toked.select("doc_id", "__toks", F.explode(positions).alias("pos"))
        .select(
            "doc_id",
            "pos",
            portable_hash64(
                F.array_join(F.slice("__toks", F.col("pos") + 1, k), " ")
            ).alias("gh"),
        )
    )
    dup_grams = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("gh")
    )
    hits = g.join(dup_grams, "gh").select(
        "doc_id", "pos", (F.col("pos") + k).alias("end")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        hits.withColumn(
            "__new", (prev_end.isNull() | (F.col("pos") > prev_end)).cast("int")
        )
        .withColumn(
            "span_id",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            F.max("end").cast("bigint").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def remove_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Apply the Lee-et-al dedup ACTION: rewrite each document with its
    duplicated passages removed. Tokens whose position falls inside a
    merged duplicate span (of at least ``min_span_tokens`` tokens —
    default: any span, i.e. >= k; the paper uses 50) are dropped and
    the survivors re-joined with single spaces, so the rewritten text
    is whitespace-NORMALIZED (the token sequence, which is what a
    tokenizer consumes downstream, is exactly the original minus the
    spans; original inter-token whitespace is not preserved).

    Map-side apply: the span mask per doc is collected to a (small,
    merged — spans cannot overlap) array and the rewrite is a pure
    expression (`filter` with positional lambda + `array_join`), so the
    only shuffles are the ones dup_spans already pays.

    Output: (doc_id, text_clean, n_tokens, n_removed_tokens).
    """
    toked = ensure_parallel(docs).select(
        "doc_id", tokens(F.col(text_col)).alias("__toks")
    )
    spans = _dup_spans_from_toked(toked, k, min_docs)
    if min_span_tokens is not None:
        spans = spans.where(
            F.col("span_end") - F.col("span_start") >= min_span_tokens
        )
    mask = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    def covered(i):
        return F.exists(
            F.col("__spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        )
    kept = F.when(
        F.col("__spans").isNull(), F.col("__toks")
    ).otherwise(
        F.filter("__toks", lambda x, i: ~covered(i))
    )
    return (
        toked.join(mask, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(kept, " ").alias("text_clean"),
            F.size("__toks").cast("bigint").alias("n_tokens"),
            (F.size("__toks") - F.size(kept))
            .cast("bigint")
            .alias("n_removed_tokens"),
        )
    )


def dup_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicate-passage detection: per-document maximal spans of token
    positions covered by word ``k``-grams that occur in at least
    ``min_docs`` DISTINCT documents — the scalable k-gram proxy for
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a passage shared
    verbatim across documents is a chain of shared k-grams, and the
    merged interval recovers the full span without ever materializing a
    suffix array. Complements doc-level dedup (exact/MinHash/SimHash
    find near-identical DOCUMENTS; this finds copied PASSAGES inside
    otherwise-distinct documents — licenses, quoted boilerplate,
    templated intros) and within-doc ``repetition_stats``.

    Plan (scale posture): positional k-grams are reduced to 60-bit
    portable hashes BEFORE any shuffle (exchanges carry (doc_id, pos,
    gh) fixed-width ints, never gram strings). One count-distinct agg
    keyed by gh finds cross-doc grams (partial aggregation applies: the
    per-partition distinct (gh, doc_id) collapse happens map-side); the
    duplicated-gram set semi-joins back to positions on the same key;
    interval merging is ONE window pass partitioned by doc_id, and both
    downstream aggregations reuse that partitioning (HashPartitioning
    (doc_id) satisfies the (doc_id, span_id) clustering), so the span
    rollup adds no exchange. Hash collisions (2^-60, deterministic,
    identical in the DuckDB twin) are the documented approximation.

    Output: one row per input document — (doc_id, n_tokens,
    n_dup_spans, dup_tokens, dup_frac); docs with no duplicated passage
    (or fewer than k tokens) report 0 / 0 / 0.0.
    """
    toked = ensure_parallel(docs).select(
        "doc_id", tokens(F.col(text_col)).alias("__toks")
    )
    nt = toked.select(
        "doc_id", F.size("__toks").cast("bigint").alias("n_tokens")
    )
    spans = (
        _dup_spans_from_toked(toked, k, min_docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.sum(F.col("span_end") - F.col("span_start"))
            .cast("bigint")
            .alias("dup_tokens"),
        )
    )
    return (
        nt.join(spans, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.col("dup_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ),
        )
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    mode: str = "keep_first",
    ignore_blank: bool = True,
    _hash_fn=None,
) -> DataFrame:
    """Line-level exact deduplication across the WHOLE corpus — the
    C4/RefinedWeb cleaning stage that strips repeated boilerplate lines
    (nav bars, cookie banners, footers) which recur across thousands of
    pages while each page's body stays unique. Complements
    :func:`dup_span_stats` (within-pair token spans) and
    :func:`exact_dedup` (whole-doc): the unit here is the physical line.

    ``mode='keep_first'`` keeps only the globally FIRST occurrence of
    each duplicated line (deterministic: smallest (doc_id, line_pos));
    ``mode='drop_all'`` removes every occurrence of any line seen more
    than once (the aggressive boilerplate setting). Blank/whitespace
    lines are structural, not content — with ``ignore_blank`` (default)
    they are always kept, since deduping the empty line would splice
    every paragraph break in the corpus after the first document.

    Scale design: lines are keyed by their 60-bit portable hash BEFORE
    the shuffle (the corpus-wide counting exchange carries fixed-width
    ints, never line strings); the first-occurrence owner per line is a
    ``min(struct(doc_id, pos))`` AGGREGATION, not a window — partial
    aggregation collapses hot keys (the same boilerplate line repeated
    in millions of docs) map-side, where a row_number window would sort
    whole hot partitions. Reconstruction is one groupBy(doc_id) with an
    array_sort — the doc's own lines, bounded by doc size.

    Hash collisions do NOT cause false drops: dedup
    decisions are verified on the actual line string in a SECOND
    aggregation restricted to lines whose hash count > 1 — two distinct
    lines colliding in the 60-bit space each get a string-level count
    of 1 there and are kept. The bounded extra cost is exactly the
    repeated-hash subset (boilerplate, whose distinct-line cardinality
    is small after map-side combine); the dominant unique-line tail
    still crosses the counting exchange as ints only.

    Output, one row per input doc: ``(doc_id, text, n_lines,
    n_removed)`` with ``text`` rebuilt from the surviving lines in
    original order ('' when everything was removed).
    """
    from ..functions.text import portable_hash64
    from ..sources.readers import ensure_parallel as _ensure_parallel

    if mode not in ("keep_first", "drop_all"):
        raise ValueError(
            f"mode must be 'keep_first' or 'drop_all', got {mode!r}"
        )
    lines = (
        _ensure_parallel(docs)
        .select(
            "doc_id",
            # NULL text must not drop the doc from the output (explode
            # of NULL yields no rows): treat it as one empty line
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
            ).alias("pos", "line"),
        )
        .withColumn("__blank", F.trim(F.col("line")) == F.lit(""))
        # _hash_fn: test seam — the collision-safety pytest injects a
        # deliberately-colliding hash to exercise the phase-2 string
        # verification (real 60-bit collisions can't be staged)
        .withColumn("lh", (_hash_fn or portable_hash64)(F.col("line")))
    )
    lines = scoped_pin(lines)
    owners = lines.where(~F.col("__blank") if ignore_blank else F.lit(True))
    # phase 1 — int-only corpus count per hash: finds REPEATED hashes
    hstats = owners.groupBy("lh").agg(F.count(F.lit(1)).alias("__hn"))
    # phase 2 — string-verified stats over ONLY the repeated-hash
    # subset: a 60-bit collision between two unique lines lands here
    # with a string-level count of 1 and is never dropped
    stats = (
        owners.join(hstats.where(F.col("__hn") > 1).select("lh"), "lh", "semi")
        .groupBy("lh", "line")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("doc_id", "pos")).alias("__first"),
        )
        # __vlh, not lh: stats derives FROM lines, so lines["lh"] ==
        # stats["lh"] resolves both sides to the SAME attribute id and
        # Catalyst builds a trivially-true 'lh == lh' predicate (WARN in
        # every run) — the join then keyed on the line string alone.
        # Result was still correct (line equality implies hash
        # equality), but the intended composite key deserves real
        # column identities.
        .select(
            F.col("lh").alias("__vlh"),
            F.col("line").alias("__vline"),
            "__n",
            "__first",
        )
    )
    if mode == "keep_first":
        drop = (F.col("__n") > 1) & ~(
            (F.col("doc_id") == F.col("__first.doc_id"))
            & (F.col("pos") == F.col("__first.pos"))
        )
    else:
        drop = F.col("__n") > 1
    if ignore_blank:
        drop = drop & ~F.col("__blank")
    # equi-join on (lh, line string): the lines side carries its line
    # strings through this exchange regardless (reconstruction needs
    # them), so verifying on the string here costs no extra bytes
    verdicts = lines.join(
        stats,
        (F.col("lh") == F.col("__vlh")) & (F.col("line") == F.col("__vline")),
        "left",
    ).drop("__vlh").withColumn(
        "__drop", F.coalesce(drop, F.lit(False))
    )
    return (
        verdicts.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("__drop").cast("int"))
            .cast("bigint")
            .alias("n_removed"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("__drop"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias(text_col),
        )
        .select("doc_id", text_col, "n_lines", "n_removed")
    )
