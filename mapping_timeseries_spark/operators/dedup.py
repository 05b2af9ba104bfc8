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
  collision count, not n^2.
- SimHash gives a 64-bit fingerprint; near-dup = small Hamming distance.
  The block-join by fingerprint prefix bounds the pair space.
- Embedding near-dup reuses the cosine machinery from similarity.py.

Caching note: the multi-consumer intermediates (shingle tables, band
tables, fingerprints) are ``persist()``-ed inside the operators and NOT
unpersisted — they back the lazily-returned result, so releasing them
here would defeat the reuse. In a long-lived session that invokes these
operators repeatedly, either clear them between corpora
(``spark.catalog.clearCache()`` — what bench.py does between reps) or —
the ENFORCEABLE form of this contract — wrap each
build-consume-discard cycle in :func:`dedup_cache_scope`, which
unpersists every intermediate these operators pinned when the scope
exits (the textmodels/search model frames register with the same
scope):

    with dedup_cache_scope():
        pairs = minhash_lsh_pairs(docs).collect()   # consume INSIDE
    # zero dedup-pinned RDDs remain cached here

Materialize the result inside the scope: the pins back the lazy result,
so consuming it after exit recomputes from scratch (correct, just slow)
— EXCEPT results backed by iterative localCheckpoints (dedup_clusters),
whose lineage is truncated: consuming those after exit raises instead
of recomputing (the checkpoint blocks were the only copy). Same
consume-inside contract, louder failure mode. Superseded per-round
checkpoints are released eagerly inside the loop regardless of any
scope, so a long run never holds every round's edge set at once.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    hamming64,
    minhash_signature,
    minhash_signature_portable,
    portable_hash64,
    tokens,
    word_shingles_from_tokens,
)
from ..sources.readers import ensure_parallel, release_checkpoint

__all__ = [
    "dedup_cache_scope",
    "scoped_pin",
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

#: Stack of active cache scopes; _pin registers every persist into the
#: innermost one so dedup_cache_scope can release them on exit. A plain
#: module-level stack (not a ContextVar): Spark drivers are
#: single-threaded per session in this engine's usage, and a stack keeps
#: nested scopes correct.
_CACHE_SCOPES: list[list[DataFrame]] = []


def scoped_pin(df: DataFrame) -> DataFrame:
    """persist() + register with the innermost dedup_cache_scope (no-op
    registration outside any scope — the documented bench/clearCache
    contract applies there). Public so that entry queries that
    pin reused frames go through the scope too: they must use this name, and their callers must consume
    inside dedup_cache_scope() (or clearCache between actions, as the
    bench does) or the persisted frames live for the session."""
    df = df.persist()
    if _CACHE_SCOPES:
        _CACHE_SCOPES[-1].append(df)
    return df


# internal shorthand used throughout this module
_pin = scoped_pin


# shared with the sources layer (writers retire their pre-overwrite
# checkpoint the same way); see the full contract on the source function
_release_checkpoint = release_checkpoint


@contextmanager
def dedup_cache_scope():
    """Scope that unpersists every intermediate the dedup operators
    pinned inside it — the enforceable form of the module's caching
    contract (a long-lived service wraps each corpus pass; see module
    docstring). Consume results INSIDE the scope."""
    pinned: list[DataFrame] = []
    _CACHE_SCOPES.append(pinned)
    try:
        yield
    finally:
        _CACHE_SCOPES.pop()
        for df in pinned:
            # per-frame guard: one failed unpersist (e.g. a torn-down
            # session's py4j gateway) must not abort the rest of the
            # teardown and leak every remaining pin
            try:
                df.unpersist()
                # checkpoint-backed frames (dedup_clusters results) need
                # the raw-RDD release; no-op for ordinary persisted frames
                _release_checkpoint(df)
            except Exception:
                pass


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


def _shingled(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    # two-step projection: bind the token array, THEN shingle from it —
    # an unbound tokens(text) inside the gram lambda re-splits the text
    # per element (see word_shingles_from_tokens)
    return (
        _ensure_parallel(docs)
        .select("doc_id", tokens(F.col(text_col)).alias("__toks"))
        .select(
            "doc_id",
            word_shingles_from_tokens(F.col("__toks"), n).alias("shingles"),
        )
        .withColumn("n_shingles", F.size("shingles"))
    )


def _verify_jaccard(
    candidates: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs via
    array_intersect against the persisted shingle sets."""
    sets_a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("__sh_a"),
        F.col("n_shingles").alias("__na"),
    )
    sets_b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("__sh_b"),
        F.col("n_shingles").alias("__nb"),
    )
    return (
        candidates.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("__common", F.size(F.array_intersect("__sh_a", "__sh_b")))
        .withColumn(
            "jaccard",
            F.col("__common") / (F.col("__na") + F.col("__nb") - F.col("__common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


#: Auto narrow_verify threshold: narrow the
#: verifier iff the distinct candidate participants are at most this
#: fraction of the shingled corpus. Rationale for 0.25: narrowing pays
#: one extra map-side pass of the tokenize+shingle pipeline and one
#: broadcast of the participant-id list, and buys verify shuffles of
#: |participants| rows instead of |corpus| rows plus never building the
#: corpus-wide shingle pin — at <=25% participation the shuffle saving
#: is >=4x and the broadcast is bounded by a quarter of the corpus ids
#: (~8 B each), while past it the saving shrinks toward parity and the
#: broadcast grows toward the corpus-sized list the helper's boundary
#: note warns about.
NARROW_VERIFY_MAX_FRACTION = 0.25

#: Observability for the auto decision (tests + operators read it):
#: set by minhash_lsh_pairs whenever narrow_verify=None resolved itself.
LAST_NARROW_VERIFY_DECISION: dict | None = None


def should_narrow_verify(
    n_participants: int,
    n_docs: int,
    max_fraction: float = NARROW_VERIFY_MAX_FRACTION,
) -> bool:
    """Pure auto-narrow decision (pytest-pinned): narrow iff candidate
    participants are at most ``max_fraction`` of the shingled corpus.
    Both counts may be approx_count_distinct readings (~2% rsd) — fine
    for a 4x-margin threshold decision, never used for results."""
    if n_docs <= 0:
        return False
    return n_participants <= max_fraction * n_docs


def narrow_sets_to_participants(
    sets_df: DataFrame, candidates: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Restrict a per-doc set frame (string shingles or hashed sets) to
    the docs that actually appear in a candidate pair list, via a
    BROADCAST left-semi join over the distinct participant ids.

    The verifier only ever reads set rows for docs present in
    ``candidates`` (both its joins are inner on doc_a/doc_b), so this is
    candidate-removing-only — verify(narrow(sh, cand), cand) is
    row-identical to verify(sh, cand) (pytest-pinned). What it buys at
    scale: the corpus-sized set frame is filtered MAP-SIDE (broadcast
    semi-join, no Exchange of the big side) before the verify joins, so
    their shuffles move |participants| rows instead of |corpus| rows.
    The x10000 composed gate measured the difference directly: at 50M docs
    the un-narrowed verify must shuffle all 50M string-shingle rows
    (tens of GB), while star-candidate participants are ~1% of the
    corpus. Boundary: the broadcast carries the distinct participant-id
    list (~8 B each, ~80 MB at 10M participants); past ~100M
    participants switch to a Bloom-filter semi-join or let AQE pick the
    strategy by dropping the explicit broadcast hint."""
    ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    return sets_df.join(F.broadcast(ids), id_col, "left_semi")


def _verify_jaccard_hashed(
    candidates: DataFrame, hsets: DataFrame, threshold: float
) -> DataFrame:
    """Exact-by-hash Jaccard verification for candidate (doc_a, doc_b)
    pairs against per-doc SORTED arrays of 64-bit shingle hashes.

    Two deliberate scale choices vs :func:`_verify_jaccard` (the
    string-array form), driven by the measured 10x super-linearity
    (artifacts/ppjoin_growth.json: candidates x10 but wall x19 —
    the verification stage spilled):

    - rows carry ``array<long>`` (8 B/shingle) instead of string
      shingles (~1 KB/doc with JVM object overhead), shrinking the
      join payload ~5-10x;
    - both set joins are hinted SHUFFLE_HASH with the per-doc set
      frame as the build side: the build side is one row per document
      (small per partition at any scale), and the large candidate
      stream is never SORTED — sort-merge-join was what spilled when
      15M candidate rows each carrying a ~1 KB array hit the sorter.

    |A| and |B| come from the ORIGINAL string-shingle counts; the hash
    arrays are used only for the intersection count. A 64-bit collision
    (two distinct shingles, same xxhash64) can overcount the overlap by
    1 — expected colliding shingle pairs ~ V^2/2^65, i.e. ~1e-9 at 256k
    distinct shingles and still <0.003 at 1e8 — a documented
    approximation, same contract as the module's other hash-keyed
    operators (gopher repetition, dup_spans, line_dedup)."""
    sets_a = hsets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__hset").alias("__h_a"),
        F.col("n_shingles").alias("__vna"),
    )
    sets_b = hsets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__hset").alias("__h_b"),
        F.col("n_shingles").alias("__vnb"),
    )
    return (
        candidates.join(sets_a.hint("shuffle_hash"), "doc_a")
        .join(sets_b.hint("shuffle_hash"), "doc_b")
        .withColumn("__common", F.size(F.array_intersect("__h_a", "__h_b")))
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.col("__vna") + F.col("__vnb") - F.col("__common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _ngram_hsets(
    docs: DataFrame, text_col: str, n: int, keep_cols: tuple = ()
) -> DataFrame:
    """PPJoin stage 1: per-doc SORTED arrays of 64-bit shingle hashes
    ``(doc_id, n_shingles, __hset)`` — the compact frame both the
    posting explode and the exact verifier read. Split out so the
    100x staging harness (tools/text_100x_gate.py) can
    checkpoint each stage to parquet once instead of re-paying the
    shingle pass per bucketed action.

    ``keep_cols``: extra doc columns carried through unchanged —
    lets one shared hsets pass serve consumers that partition the
    corpus by a metadata column (q_ngram_jaccard splits on ``source``
    for the decontamination half) without a corpus-sized join to
    re-attach it."""
    extra = [F.col(c) for c in keep_cols]
    sh = (
        _ensure_parallel(docs)
        .select("doc_id", *extra, tokens(F.col(text_col)).alias("__toks"))
        .select(
            "doc_id",
            *extra,
            word_shingles_from_tokens(F.col("__toks"), n).alias("shingles"),
        )
        .withColumn("n_shingles", F.size("shingles"))
    )
    return sh.select(
        "doc_id",
        *extra,
        "n_shingles",
        F.array_sort(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("__hset"),
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
        hsets = _pin(_ngram_hsets(docs, text_col, n))
    prefix = _pin(_ngram_prefix(hsets, threshold))
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


def _bloom_words(hashes, bits_per_key: int = 12):
    """Driver-side Bloom bitmap over signed 64-bit hashes (xxhash64 or
    non-negative 60-bit portable hashes — the probe derivation is
    sign-safe: Python's arithmetic right shift then 30-bit mask yields
    the same bits as SQL shiftright on a bigint), as a list of 64-bit
    words plus (m_bits, k). Double-hashing scheme
    (Kirsch & Mitzenmacher): probe i tests bit (h1 + i*h2) mod m with
    h1 = low 30 bits, h2 = bits 30..59 forced odd — integer-exact and
    reproducible in any engine. bits_per_key=12, k=8 gives ~3e-4 FP."""
    n = max(len(hashes), 1)
    m = max(64, n * bits_per_key)
    k = max(1, round(bits_per_key * 0.69))
    words = [0] * ((m + 63) // 64)
    for h in hashes:
        h1 = h & ((1 << 30) - 1)
        h2 = ((h >> 30) & ((1 << 30) - 1)) | 1
        for i in range(k):
            idx = (h1 + i * h2) % m
            words[idx >> 6] |= 1 << (idx & 63)
    # two's-complement into signed 64-bit: Spark bigint can't hold
    # unsigned words with bit 63 set, and getbit reads raw bits, so the
    # reinterpretation is lossless
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    return words, m, k


def _bloom_probe_sql(
    hash_col: str, words_col: str, m: int | str, k: int
) -> str:
    """SQL predicate testing the k Bloom probes of ``hash_col`` against
    the ``words_col`` array<bigint> bitmap — same double-hashing as
    :func:`_bloom_words`. Built as a SQL string because PySpark's
    shiftright/getbit wrappers only take literal shift positions, while
    the SQL forms accept full expressions (probe recorded in SCALE.md).
    ``m`` may be an int literal or the NAME of a bigint column carrying
    the bitmap size (the lazy distributed build broadcasts m alongside
    the words array on the same one-row frame)."""
    m_sql = f"{m}L" if isinstance(m, int) else f"({m})"
    h1 = f"({hash_col} & {(1 << 30) - 1})"
    h2 = f"((shiftright({hash_col}, 30) & {(1 << 30) - 1}) | 1)"
    tests = []
    for i in range(k):
        idx = f"pmod({h1} + {i} * {h2}, {m_sql})"
        word = f"element_at({words_col}, cast(shiftright({idx}, 6) as int) + 1)"
        tests.append(f"getbit({word}, cast(({idx} & 63) as int)) = 1")
    return " AND ".join(tests)


def _bloom_frame(
    hashes_df: DataFrame, bits_per_key: int = 12
) -> tuple[DataFrame, int]:
    """LAZY distributed twin of :func:`_bloom_words`: builds the Bloom
    bitmap of the ``__h`` (signed 64-bit bigint hash) column as a
    one-row DataFrame ``(__bloom_m bigint, __bloom_words array<bigint>)``
    — bitwise identical to the driver-loop bitmap (same m = max(64,
    n*bits), same k, same Kirsch-Mitzenmacher double hashing; pinned in
    tests) but with no driver collect and no Spark jobs until an action
    consumes the plan. Build shape: k probe indices explode per hash,
    ``bit_or`` ors them into 64-bit words, ``transform(sequence(...))``
    densifies the sparse word map. An EMPTY input yields an EMPTY frame
    (not an all-zero bitmap) — callers crossJoin it, so nothing
    survives, which matches 'nothing can match an empty holdout'.
    Returns (frame, k)."""
    k = max(1, round(bits_per_key * 0.69))
    # m = max(64, n * bits): same sizing as _bloom_words, derived by a
    # lazy 1-row aggregate instead of a driver len()
    sized = hashes_df.groupBy().agg(
        F.greatest(
            F.lit(64).cast("bigint"),
            F.count(F.lit(1)) * F.lit(int(bits_per_key)),
        ).alias("__m")
    )
    h1 = f"(__h & {(1 << 30) - 1})"
    h2 = f"((shiftright(__h, 30) & {(1 << 30) - 1}) | 1)"
    probes = hashes_df.crossJoin(F.broadcast(sized)).select(
        "__m",
        F.explode(
            F.array(
                *[F.expr(f"pmod({h1} + {i} * {h2}, __m)") for i in range(k)]
            )
        ).alias("__idx"),
    )
    words_map = (
        probes.select(
            "__m",
            F.expr("cast(shiftright(__idx, 6) as int)").alias("__w"),
            # shiftleft(1L, 63) wraps negative — same two's-complement
            # signed-word representation _bloom_words emits
            F.expr("shiftleft(1L, cast((__idx & 63) as int))").alias("__bit"),
        )
        .groupBy("__m", "__w")
        .agg(F.expr("bit_or(__bit)").alias("__word"))
    )
    return (
        words_map.groupBy("__m")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("__w", "__word")))
            ).alias("__wm")
        )
        .select(
            F.col("__m").alias("__bloom_m"),
            F.expr(
                "transform(sequence(0, cast((__m + 63) div 64 as int) - 1),"
                " i -> coalesce(__wm[i], 0L))"
            ).alias("__bloom_words"),
        )
    ), k


def ngram_decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    n: int = 2,
    min_overlap: float = 0.2,
    bloom_bits_per_key: int | None = 12,
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

    Bloom pre-filter: before the exact broadcast
    join, train postings are screened against a Bloom bitmap of the
    holdout's 60-bit shingle hashes (pure getbit/shiftright expressions
    over one broadcast array<bigint> row — Spark 4.1 does not register
    bloom_filter_agg/might_contain as SQL functions, probed and
    recorded in SCALE.md). A Bloom has no false negatives, so the
    RESULT is unchanged (pytest-pinned bloom==exact); the win is that
    the ~100% of corpus postings sharing no shingle with the benchmark
    suite are dropped by a bitmap test (~1.5 KB/1k shingles at 12
    bits/key) instead of each probing the multi-MB broadcast hash
    relation — measured 5.1x posting reduction even with an
    adversarially large holdout (1% of the corpus, same vocabulary;
    tests/test_llm_ops.py); a realistic benchmark suite over a
    web-scale corpus shares far less vocabulary and filters
    correspondingly harder. ``bloom_bits_per_key=None`` disables it.

    The bitmap is built LAZILY INSIDE THE PLAN: probe
    indices explode per holdout hash, a ``bit_or`` aggregation ors them
    into 64-bit words, and ``transform(sequence(...))`` densifies the
    word map into the broadcast array — bitwise identical to the old
    driver-loop bitmap (same m = max(64, n*bits), same k, same double
    hashing) but with zero driver collect, zero Spark jobs at
    DataFrame-construction time (explain/audit stays action-free and
    bench legs time the build where it runs), and the build cost
    distributed. Size contract: the one-row bitmap is
    ``bits_per_key * |holdout shingles| / 8`` bytes and must fit in a
    broadcast row — the SAME broadcast-holdout contract the exact join
    below already imposes, so the Bloom adds no new ceiling (both fall
    over together if the 'holdout' stops being benchmark-suite-sized;
    disable with ``bloom_bits_per_key=None`` and swap the broadcast
    join for a shuffle join at that point).

    Output: (train_doc, holdout_doc, shared_ngrams, holdout_ngrams,
    overlap) for pairs with overlap >= min_overlap.
    """
    # the join key, broadcast relation and Bloom all run on
    # xxhash64(shingle) rather than shingle strings — the broadcast
    # carries 8-byte longs (~2-3x smaller than ~15-char grams), the
    # corpus-side probe hashes with the JVM-native xxhash64 instead of
    # md5, and the containment count inherits the same documented
    # 64-bit-collision approximation as the near-dup pipeline
    # (`_verify_jaccard_hashed`): a collision can overcount
    # shared_ngrams by 1 with probability ~V^2/2^65 — the DuckDB oracle
    # stays the exact string formulation and the registry gate
    # hash-compares against it.
    # don't compute things twice: callers that have
    # already paid the shingle pass (q_ngram_jaccard shares the PPJoin
    # half's pinned hsets) pass ``*_hsets`` frames in `_ngram_hsets`
    # shape; shingles are DISTINCT per doc (word_shingles_from_tokens
    # ends in array_distinct), so exploding the sorted-hash array
    # yields exactly the xxhash64 stream the string path computes —
    # one tokenize+shingle+hash pass over the corpus instead of two.
    if train_hsets is not None:
        tr = train_hsets.select(
            F.col("doc_id").alias("train_doc"),
            F.explode("__hset").alias("shingle"),
        )
    else:
        tr = _shingled(train, text_col, n).select(
            F.col("doc_id").alias("train_doc"),
            F.explode("shingles").alias("__s"),
        ).select("train_doc", F.xxhash64("__s").alias("shingle"))
    if holdout_hsets is not None:
        ho = holdout_hsets.select(
            F.col("doc_id").alias("holdout_doc"),
            F.col("n_shingles").alias("holdout_ngrams"),
            F.explode("__hset").alias("shingle"),
        )
    else:
        ho_sh = _pin(_shingled(holdout, text_col, n))
        ho = ho_sh.select(
            F.col("doc_id").alias("holdout_doc"),
            F.col("n_shingles").alias("holdout_ngrams"),
            F.explode("shingles").alias("__s"),
        ).select(
            "holdout_doc", "holdout_ngrams", F.xxhash64("__s").alias("shingle")
        )
    if bloom_bits_per_key is not None:
        bloom_row, k = _bloom_frame(
            ho.select(F.col("shingle").alias("__h")).distinct(),
            bloom_bits_per_key,
        )
        # empty holdout => bloom_row has ZERO rows and the crossJoin
        # empties the train side — correct (the exact join below would
        # match nothing anyway) and it skips the corpus scan entirely
        tr = (
            tr.withColumn("__bh", F.col("shingle"))
            .crossJoin(F.broadcast(bloom_row))
            .where(
                F.expr(
                    _bloom_probe_sql("__bh", "__bloom_words", "__bloom_m", k)
                )
            )
            .drop("__bh", "__bloom_words", "__bloom_m")
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
    sh: DataFrame, num_hashes: int, bands: int, portable: bool
) -> DataFrame:
    """LSH banding of a shingled frame: (doc_id, band, bucket:string) —
    the shared candidate-key generator for the batch self-join
    (:func:`minhash_lsh_pairs`) and the incremental new-vs-index join
    (:func:`minhash_dedup_incremental`). Both sides of any join MUST use
    identical (num_hashes, bands, portable): bucket strings from
    different parameters never collide, which reads as 'no duplicates'
    rather than an error — the meta.json guard in the index functions
    exists for exactly this."""
    rows_per_band = num_hashes // bands
    if portable:
        sig = minhash_signature_portable(F.col("shingles"), num_hashes)

        def bucket_key(band: int):
            return F.concat_ws(
                ",",
                *[
                    F.col("sig")[band * rows_per_band + r]
                    for r in range(rows_per_band)
                ],
            )

    else:
        sig = minhash_signature(F.col("shingles"), num_hashes)

        def bucket_key(band: int):
            # xxhash64, NOT F.hash: F.hash is 32-bit Murmur3, and
            # the bucket-key space saturates by the birthday bound —
            # measured at the x10000 gate (50M docs): C(50M,2)*8/2^32
            # ~= 2.3M spurious candidates predicted, +2.1M observed
            # (7.87M vs ~5.8M true; map_stage_10000x_gate.json). All
            # verification-killed (Jaccard ~0), so correctness never
            # moved — but at 5B docs the spurious volume would be ~1e15
            # pairs, a dead job. 64-bit keys push the birthday bound to
            # ~0.7 spurious pairs at 5B docs/band. MUST stay in lockstep
            # with _band_frame_carrying (index/batch band-key parity).
            return F.xxhash64(
                *[
                    F.col("sig")[band * rows_per_band + r]
                    for r in range(rows_per_band)
                ]
            )

    return sh.withColumn("sig", sig).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        bucket_key(band).cast("string").alias("bucket"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


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
    portable: bool = False,
    mode: str = "pairs",
    narrow_verify: bool | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup candidates, Jaccard-verified.

    signature (num_hashes minima of seeded hashes over shingles)
    -> split into ``bands`` bands of ``num_hashes/bands`` rows
    -> bucket key = band values; docs agreeing on any band meet in a
       bucket -> candidate pair -> verify with exact Jaccard >= threshold.

    Probability a pair with Jaccard J becomes a candidate:
    1 - (1 - J^r)^b with r = rows/band — the standard S-curve; with
    r=4, b=8 the 50% knee sits near J=0.55.

    Output matches :func:`ngram_jaccard_pairs` (its subset, by
    construction). ``portable=True`` uses md5-derived universal hashing
    (functions.text.minhash_signature_portable: ONE md5 per shingle +
    integer permutations in a single-pass aggregate) and string band
    keys, whose DuckDB twin is generated from the SAME coefficients —
    the full signature->band->verify pipeline is hash-compared
    end-to-end, and it is also the FASTER variant (1.05 s vs 1.33 s at
    sf0.1: one md5 pass beats 32 seeded xxhash64 passes).
    ``portable=False`` keeps the seeded-xxhash64 formulation (recall vs
    the exact operator asserted in pytest) for parity with
    xxhash64-sketch ecosystems.

    ``mode``: ``"pairs"`` (default) emits every verified within-bucket
    pair — the operator's published output contract. ``"star"`` emits
    only verified (bucket-min, member) edges — linear in corpus size
    even on a hot near-identical clique, sufficient (and the scale-safe
    choice) when the consumer is connected-components clustering rather
    than the pair list itself; see :func:`_lsh_candidates` for the exact
    recall semantics and :func:`dedup_clusters` / the corpus pipeline
    for the consumer wiring.

    ``narrow_verify``: restrict
    the verifier's shingle frame to the candidate participants via
    :func:`narrow_sets_to_participants` (broadcast semi-join) before
    the two verify joins — row-identical output (pytest). Two scale
    effects, both matching the x10000 gate path exactly (lsh_stages
    pin_shingles=False + narrowed_verify): the verify shuffles move
    |participants| rows instead of |corpus| rows, AND the corpus-wide
    shingle pin is never built — only the participant-narrowed frame
    is cached, at the cost of a second map-side evaluation of the
    tokenize+shingle pipeline (body comment). Wrong on corpora where
    candidates span most of the corpus: the broadcast id list would be
    corpus-sized (boundary documented on the helper). The default
    ``None`` therefore AUTO-selects: the candidate frame is pinned
    before the decision anyway, so two approx-distinct counts read
    from cache (participants; shingled docs from the banded pin) pick
    the narrow path iff participants <= NARROW_VERIFY_MAX_FRACTION of
    the corpus (:func:`should_narrow_verify`; decision recorded in
    LAST_NARROW_VERIFY_DECISION). Pass True/False to override — e.g.
    the x10000 gate passes True because its planted duplication rate
    is known up front. Auto-wide pays one extra map pass of the
    shingle pipeline vs explicit False (the corpus pin is built only
    after the decision, so banding ran uncached); auto-narrow costs
    the two cached counts only.
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
    # narrow_verify: the corpus-wide shingle frame is deliberately NOT
    # pinned — avoiding that pin (tens of GB at 50M docs, mostly rows
    # the verifier never reads) is the knob's whole point, and matches
    # the x10000 gate path (lsh_stages.staged_frames pin_shingles=False)
    # exactly. The trade: the tokenize+shingle pipeline evaluates twice
    # (once under the banding action, once map-side under the narrowing
    # filter) instead of once-from-cache — a second pure map pass, paid
    # so executors never hold the corpus-wide cache.
    auto = narrow_verify is None
    sh = _shingled(docs, text_col, n)
    if narrow_verify is False:
        sh = _pin(sh)
    sh = sh.where(F.col("n_shingles") > 0)
    banded = _pin(_band_frame(sh, num_hashes, bands, portable))
    # persisted: the self-join (or hub join) would otherwise recompute
    # the full signature pipeline once per side
    cand = _lsh_candidates(banded, mode)
    if auto or narrow_verify:
        # pinned either way: the auto counts AND the verify joins both
        # consume the candidate frame
        cand = _pin(cand)
    if auto:
        # both counts are cache-served (cand pin; banded pin for the
        # shingled-corpus denominator — docs with zero shingles can
        # never be verify rows, so they belong in neither count)
        n_docs = int(
            banded.agg(
                F.approx_count_distinct("doc_id").alias("n")
            ).collect()[0]["n"]
        )
        n_part = int(
            cand.select(F.explode(F.array("doc_a", "doc_b")).alias("id"))
            .agg(F.approx_count_distinct("id").alias("n"))
            .collect()[0]["n"]
        )
        narrow_verify = should_narrow_verify(n_part, n_docs)
        global LAST_NARROW_VERIFY_DECISION
        LAST_NARROW_VERIFY_DECISION = {
            "n_participants": n_part,
            "n_docs": n_docs,
            "fraction": round(n_part / n_docs, 4) if n_docs else None,
            "max_fraction": NARROW_VERIFY_MAX_FRACTION,
            "narrow": narrow_verify,
        }
        if not narrow_verify:
            # wide decision: build the corpus-set pin NOW for the two
            # verify joins (banding already ran uncached — the one
            # extra map pass auto mode pays on this side)
            sh = _pin(sh)
    if narrow_verify:
        sh = _pin(narrow_sets_to_participants(sh, cand))
    return _verify_jaccard(cand, sh, threshold)


# ---------------------------------------------------------------------------
# Incremental MinHash dedup against a persisted index
# ---------------------------------------------------------------------------
#
# Continuous-ingestion dedup: a production corpus is not deduped once — a
# new crawl batch must be deduped against EVERYTHING ingested so far
# without re-running LSH over the full corpus. The persisted index holds
# the banded bucket keys (the candidate generator) and the shingle sets
# (the exact verifier) of every indexed document; deduping a new batch
# reads the new docs + the index, never the original corpus text.
#
# Exactness contract (pytest-pinned):
#   minhash_dedup_incremental(new, index(old))
#     == minhash_lsh_pairs(old ∪ new) restricted to pairs with >= 1 new side
# — bit-for-bit, because banding/verification run the identical portable
# expressions on both paths.
#
# 100 TB posture: the index's bands table is (doc_id, band, bucket) —
# tiny next to the corpus — and the incremental candidate join touches
# only buckets the NEW batch occupies (a broadcast of the new batch's
# bands when the batch is small, an ordinary shuffle join otherwise).
# Verification joins shingle sets for candidate doc_ids only; the
# shingle table is the heavy store (≈ tokenized corpus), so at scale
# write it bucketed by doc_id (sources.writers.write_bucketed_table) to
# make the candidate join shuffle-free. Appends are atomic via the
# meta.json commit marker: readers require it, and append_minhash_index
# rewrites it LAST.


def minhash_index_frames(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = True,
):
    """The disk-free form of the LSH index -> (bands_df, shingles_df):
    for composing an old-vs-new dedup inside one job (the driver query
    does this), or for unit-testing the join logic without a filesystem.
    :func:`build_minhash_index` is the persisted form with the same
    frames."""
    sh = _pin(_shingled(docs, text_col, n))
    sh = sh.where(F.col("n_shingles") > 0)
    return _band_frame(sh, num_hashes, bands, portable), sh


def build_minhash_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = True,
) -> None:
    """Build the persisted LSH index for :func:`minhash_dedup_incremental`:
    ``path/bands`` (doc_id, band, bucket), ``path/shingles`` (doc_id,
    shingles, n_shingles), and ``path/meta.json`` (the LSH parameters,
    written last as the commit marker — a partially-written index is
    unloadable, not silently wrong)."""
    import json
    import os

    sh = _shingled(docs, text_col, n).where(F.col("n_shingles") > 0)
    sh.write.mode("overwrite").parquet(os.path.join(path, "shingles"))
    # re-read the committed shingles rather than recomputing the
    # tokenize+shingle pipeline a second time for the band pass
    spark = docs.sparkSession
    sh_stored = spark.read.parquet(os.path.join(path, "shingles"))
    _band_frame(sh_stored, num_hashes, bands, portable).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "bands"))
    meta = {
        "n": n,
        "num_hashes": num_hashes,
        "bands": bands,
        "portable": portable,
        "text_col": text_col,
        # bucket-key GENERATION: the non-portable bucket hash
        # changed 32-bit F.hash -> xxhash64 (saturation fix). Bucket
        # keys from different generations never collide, which a join
        # reads as "no duplicates" rather than an error — so the
        # generation is committed with the index and enforced on load.
        "bucket_hash": "band-values" if portable else "xxhash64",
    }
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


def load_minhash_index(spark, path: str):
    """Load a persisted LSH index -> (bands_df, shingles_df, meta dict).
    Raises if the commit marker is missing (interrupted build/append)."""
    import json
    import os

    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"{meta_path} missing — index at {path} was never committed"
        )
    with open(meta_path) as f:
        meta = json.load(f)
    # Non-portable bucket keys changed generation once (32-bit F.hash
    # -> xxhash64): an index banded under the old generation would join
    # with ZERO candidates against newly-banded batches — silent
    # missed-duplicate ingestion, not an error. Refuse to load it.
    # Portable indexes are exempt: their keys are the band VALUES
    # themselves (concat), which never changed derivation.
    if not meta.get("portable", True):
        if meta.get("bucket_hash") != "xxhash64":
            raise ValueError(
                f"index at {path} was built with a previous non-portable "
                f"bucket-key generation ({meta.get('bucket_hash', '32-bit F.hash')!r}); "
                "its keys cannot collide with xxhash64-banded batches — "
                "rebuild the index (build_minhash_index)"
            )
    return (
        spark.read.parquet(os.path.join(path, "bands")),
        spark.read.parquet(os.path.join(path, "shingles")),
        meta,
    )


def minhash_dedup_incremental(
    new_docs: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    portable: bool = True,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, jaccard >= threshold) where at
    least one side is in ``new_docs``: new-vs-index candidates from the
    bucket join against the persisted bands, new-vs-new from the batch
    self-join — both verified with exact Jaccard against the stored +
    fresh shingle sets. Parameters MUST match the index's (see
    :func:`_band_frame`); use :func:`minhash_dedup_incremental_path` to
    have meta.json enforce that.

    doc_ids must be globally unique across the index and every batch
    (the standard ingestion contract); a reused id would alias two
    documents under one vertex."""
    new_sh = _pin(_shingled(new_docs, text_col, n))
    new_sh = new_sh.where(F.col("n_shingles") > 0)
    new_banded = _pin(_band_frame(new_sh, num_hashes, bands, portable))
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
    # the verifier's shingle universe: stored sets for indexed docs,
    # fresh sets for the batch. An id present in both would alias —
    # excluded by the unique-id contract above (and by the append guard).
    all_sh = index_shingles.select(
        "doc_id", "shingles", "n_shingles"
    ).unionByName(new_sh.select("doc_id", "shingles", "n_shingles"))
    return _verify_jaccard(cand, all_sh, threshold)


def minhash_index_compact(
    spark, path: str, target_file_mb: int = 128
) -> dict:
    """Rewrite the LSH index's bands/shingles into ~``target_file_mb``
    files (the append-fragmentation maintenance pass; row-count
    identity checked by compact_in_place, meta.json — parameters only —
    untouched). OFFLINE op; crash contract on
    sources.writers.compact_in_place. Returns per-frame file counts."""
    import os

    from ..sources.writers import compact_in_place

    load_minhash_index(spark, path)  # commit marker must be present
    return {
        "bands": compact_in_place(
            spark, os.path.join(path, "bands"), target_file_mb
        ),
        "shingles": compact_in_place(
            spark, os.path.join(path, "shingles"), target_file_mb
        ),
    }


def minhash_dedup_stream(
    stream_docs: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    text_col: str = "text",
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    portable: bool = True,
    watermark_col: str | None = None,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """STREAMING near-dup detection against a persisted LSH index:
    for a Structured Streaming source of documents, emit verified pairs
    (doc_a < doc_b, jaccard) where the stream doc near-dups an INDEXED
    document — the continuous-ingestion gatekeeper ("reject the
    arriving page if the corpus already has it").

    Streaming-legal by construction, pinned stream==batch in pytest:

    - shingling/banding are map-only expressions on the stream (no
      ensure_parallel/persist — both touch batch-only APIs; micro-batch
      parallelism comes from the source);
    - the stream side CARRIES its shingle set through the band explode,
      so both the candidate join (on band+bucket) and the verification
      join (stored shingles by doc_id) are stream-STATIC inner joins —
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
    toks = stream_docs.select(
        "doc_id", *wm, tokens(F.col(text_col)).alias("__toks")
    )
    sh = (
        toks.select(
            "doc_id",
            *wm,
            word_shingles_from_tokens(F.col("__toks"), n).alias("shingles"),
        )
        .withColumn("n_shingles", F.size("shingles"))
        .where(F.col("n_shingles") > 0)
    )
    # band rows CARRY the doc's shingle set (re-joining it from the
    # stream would be a stream-stream self-join)
    banded = _band_frame_carrying(
        sh.select("doc_id", *wm, "shingles", "n_shingles"),
        num_hashes, bands, portable,
    )
    cand = banded.alias("x").join(
        index_bands.alias("y"),
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.doc_id") != F.col("y.doc_id")),
    )
    stored = index_shingles.select(
        F.col("doc_id").alias("__ydoc"),
        F.col("shingles").alias("__ysh"),
        F.col("n_shingles").alias("__yn"),
    )
    verified = (
        cand.select(
            F.col("x.doc_id").alias("__xdoc"),
            *[F.col(f"x.{c}") for c in wm],
            F.col("x.shingles").alias("__xsh"),
            F.col("x.n_shingles").alias("__xn"),
            F.col("y.doc_id").alias("__ydoc"),
        )
        .join(stored, "__ydoc")
        .withColumn("__common", F.size(F.array_intersect("__xsh", "__ysh")))
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.col("__xn") + F.col("__yn") - F.col("__common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.least("__xdoc", "__ydoc").alias("doc_a"),
            F.greatest("__xdoc", "__ydoc").alias("doc_b"),
            "jaccard",
            *wm,
        )
    )
    if watermark_col:
        return verified.dropDuplicatesWithinWatermark(
            ["doc_a", "doc_b"]
        ).drop(watermark_col)
    return verified.dropDuplicates(["doc_a", "doc_b"])


def _band_frame_carrying(
    sh: DataFrame, num_hashes: int, bands: int, portable: bool
) -> DataFrame:
    """:func:`_band_frame` variant that keeps the per-doc shingle set
    (and count) on every band row — the streaming path needs them
    carried through, because re-joining them from the stream would be a
    stream-stream self-join. Band keys are IDENTICAL to _band_frame's
    (same signature expressions), which the stream==batch pin depends
    on."""
    rows_per_band = num_hashes // bands
    if portable:
        sig = minhash_signature_portable(F.col("shingles"), num_hashes)

        def bucket_key(band: int):
            return F.concat_ws(
                ",",
                *[
                    F.col("sig")[band * rows_per_band + r]
                    for r in range(rows_per_band)
                ],
            )

    else:
        sig = minhash_signature(F.col("shingles"), num_hashes)

        def bucket_key(band: int):
            # xxhash64 in lockstep with _band_frame (see its 32-bit
            # saturation note) — the incremental new-vs-index join
            # requires identical band keys on both paths
            return F.xxhash64(
                *[
                    F.col("sig")[band * rows_per_band + r]
                    for r in range(rows_per_band)
                ]
            )

    in_cols = list(sh.columns)  # passthrough: doc_id, shingles,
    # n_shingles (+ the caller's watermark column when bounding state)
    return (
        sh.withColumn("sig", sig)
        .select(
            *in_cols,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).alias("band"),
                            bucket_key(band).cast("string").alias("bucket"),
                        )
                        for band in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(*in_cols, "bb.band", "bb.bucket")
    )


def minhash_dedup_incremental_path(
    spark,
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
) -> DataFrame:
    """:func:`minhash_dedup_incremental` with parameters read from the
    index's meta.json — the mismatch-proof entry point."""
    bands_df, shingles_df, meta = load_minhash_index(spark, path)
    return minhash_dedup_incremental(
        new_docs,
        bands_df,
        shingles_df,
        text_col=meta["text_col"],
        n=meta["n"],
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
        threshold=threshold,
        portable=meta["portable"],
    )


def append_minhash_index(new_docs: DataFrame, path: str) -> None:
    """Fold a new batch into a persisted index (after deduping against
    it): appends the batch's shingles and bands with the index's own
    parameters, refusing ids already present (an id collision would
    silently alias two documents). meta.json is untouched — parameters
    are immutable for the index's lifetime, which is what keeps every
    batch's bucket keys collidable with every other's.

    Invariant (pytest-pinned): build(old) + append(new) reads equal to
    build(old ∪ new) row-for-row."""
    import os

    spark = new_docs.sparkSession
    _, index_shingles, meta = load_minhash_index(spark, path)
    # pinned ONCE: the shingle pass feeds the clash check, the shingles
    # write AND the band write. Measured by index_append_gate at 5M
    # docs: writing the batch, then RE-READING the whole shingles
    # parquet and semi-joining it back down to the batch ids — an
    # O(index) scan+shuffle that made a 10% append 2.7x SLOWER than a
    # full rebuild (247 s vs 93 s); persist() gets the same
    # compute-tokenize-once guarantee at O(batch) cost (post-fix walls
    # and the unchanged hash-sums: artifacts/index_append_gate.json).
    sh = _shingled(new_docs, meta["text_col"], meta["n"]).where(
        F.col("n_shingles") > 0
    ).persist()
    try:
        # no broadcast hint on the clash probe: the batch
        # id set has no size bound — a 10% batch of a 1B-doc index is
        # ~100M ids, past the broadcast cap — and the un-hinted
        # semi-join of two bare doc_id columns (8 B/row) is size-safe
        # at any scale; AQE may still pick broadcast when the batch is
        # genuinely small
        clash = (
            index_shingles.select("doc_id")
            .join(sh.select("doc_id"), "doc_id", "left_semi")
            .limit(1)
            .count()
        )
        if clash:
            raise ValueError(
                f"append_minhash_index: batch contains doc_ids already "
                f"in the index at {path}"
            )
        sh.write.mode("append").parquet(os.path.join(path, "shingles"))
        _band_frame(
            sh, meta["num_hashes"], meta["bands"], meta["portable"]
        ).write.mode("append").parquet(os.path.join(path, "bands"))
    finally:
        sh.unpersist()


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", portable: bool = False
) -> DataFrame:
    """SimHash per document via explode + one hash aggregation.

    Exploding tokens and summing each bit of the token hash in per-bit
    aggregate buffers is one shuffle and stays in codegen — far cheaper
    than the per-row array formulation (functions.text.simhash64), which
    re-walks the token array 64 times per document. Bit b of the result is
    set when at least half the token hashes have bit b set (same majority
    rule as simhash64).

    ``portable=False``: 64-bit fingerprints from xxhash64 (rows-only at
    the driver gate). ``portable=True``: 60-bit fingerprints from the
    md5-derived engine-portable hash (functions.text.portable_hash64) —
    bit-identical in DuckDB, so the whole fingerprint->block->Hamming
    pipeline hash-verifies end-to-end.

    Docs with NULL text carry no tokens and therefore NO fingerprint
    row — stated contract, filtered EXPLICITLY below rather than left to
    ``explode``'s silent null-drop (a defined empty-doc fingerprint like
    0 would be worse: every empty doc would Hamming-0 "near-dup" every
    other empty doc).
    """
    nbits = 60 if portable else 64
    tok = _ensure_parallel(docs).where(F.col(text_col).isNotNull()).select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tk")
    ).withColumn(
        "h", portable_hash64(F.col("tk")) if portable else F.xxhash64("tk")
    )
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
        for b in range(nbits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    fingerprint = None
    for b in range(nbits):
        bit = (F.col(f"__b{b}") * 2 >= F.col("__n")).cast("bigint")
        # bit 63 (non-portable only) contributes the two's-complement sign
        # bit: adding -(2^63) sets it without int64 overflow
        term = bit * F.lit(2**b if b < nbits - 1 or portable else -(2**63)).cast(
            "bigint"
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return per_doc.select("doc_id", fingerprint.alias("fingerprint"))


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 8,
    prefix_bits: int = 12,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: token-majority fingerprints (64-bit, or
    60-bit portable — see :func:`simhash_fingerprints`), paired when
    Hamming distance <= max_hamming.

    Blocking: candidates must share the top ``prefix_bits`` of the
    fingerprint (single-probe multi-index blocking) — bounds the self-join
    to documents in the same prefix block instead of n^2. Documents whose
    distance is small but whose prefix differs are missed (standard
    SimHash-blocking recall trade; multiple rotated tables fix it at
    scale).
    """
    nbits = 60 if portable else 64
    fp = simhash_fingerprints(docs, text_col, portable=portable).withColumn(
        "block", F.shiftrightunsigned("fingerprint", nbits - prefix_bits)
    )
    fp = _pin(fp)
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
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_rounds):
            # large-star consumes the symmetric view; its output is directed
            ls = _large_star(
                edges.unionByName(
                    edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                ).distinct()
            )
            new_edges = _small_star(ls).localCheckpoint(eager=True)
            # the probe reads only the new round, so the superseded
            # checkpoint is dead once the new one is materialized;
            # release it eagerly instead of holding O(rounds) edge sets
            # in executor storage until driver GC
            _release_checkpoint(edges)
            edges = new_edges
            if _is_star_forest(edges):
                break
        else:
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_rounds} rounds; "
                "raise max_rounds"
            )
    except BaseException:
        _release_checkpoint(edges)
        raise
    # the FINAL edges checkpoint backs the result — it registers with
    # any active dedup_cache_scope (a checkpointed result consumed AFTER
    # scope exit errors rather than recomputes, because releasing a
    # localCheckpoint discards the only copy — same consume-inside
    # contract, louder failure)
    if _CACHE_SCOPES:
        _CACHE_SCOPES[-1].append(edges)
    # star form: src -> component minimum
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
    g = _pin(
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
    lines = _pin(lines)
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
