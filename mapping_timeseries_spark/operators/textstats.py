"""Text analysis operators (SURVEY §2.11): token statistics, quality
scoring, language scoring, document fingerprinting.

All pure JVM-side expressions over the ``documents`` table — no Python in
the hot path; each has a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    avg_token_length,
    punct_ratio,
    rolling_fingerprint,
    stopword_ratio,
    token_count,
    tokens,
)

__all__ = [
    "text_stats",
    "token_counts",
    "quality_score",
    "lang_marker_scores",
    "lang_trigram_scores",
    "doc_fingerprints",
    "lang_distribution",
    "chunk_documents",
    "repetition_stats",
    "gopher_repetition",
    "line_repetition_stats",
    "pii_counts",
    "redact_pii",
    "boilerplate_signals",
    "vocab_counts",
    "normalize_text",
    "wrap_tokens",
]

#: Function-word markers per language for the marker-count heuristic;
#: the char-trigram profile variant is :func:`lang_trigram_scores`. Both
#: are deterministic and SQL-expressible (oracle parity).
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics: counts, distinct tokens, average
    token length, stopword and punctuation ratios. ``lang`` passes
    through when present — it is NOT required (a bare (doc_id, text)
    corpus is the natural input for quality_score and the corpus
    pipeline, which would otherwise fail resolving an incidental
    column)."""
    # Widen a one-file local scan before the per-row token work —
    # four tokenizations per row serialized on a single scan partition
    # (profiled: 1-task 0.7 s stages inside the text_stats leg).
    # ensure_parallel is a no-op on wide cluster scans and on streams.
    from ..sources.readers import ensure_parallel

    t = F.col(text_col)
    return ensure_parallel(docs).select(
        "doc_id",
        *(["lang"] if "lang" in docs.columns else []),
        F.length(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        F.size(F.array_distinct(tokens(t))).alias("n_unique_tokens"),
        avg_token_length(t).alias("avg_token_len"),
        stopword_ratio(t).alias("stopword_ratio"),
        punct_ratio(t).alias("punct_ratio"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality score in [0, 1]: length band, lexical
    diversity, and stopword presence — the CASE-based scoring shape used
    for pretraining-data filtering."""
    stats = text_stats(docs, text_col)
    length_ok = F.when(
        F.col("n_tokens").between(10, 1000), F.lit(0.4)
    ).otherwise(F.lit(0.0))
    diversity = (
        F.least(
            F.col("n_unique_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)),
            F.lit(0.5),
        )
        * 0.6
    )
    stop_bonus = F.when(F.col("stopword_ratio") > 0, F.lit(0.1)).otherwise(
        F.lit(0.0)
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_unique_tokens",
        F.least(length_ok + diversity + stop_bonus, F.lit(1.0)).alias(
            "quality_score"
        ),
    )


def boilerplate_signals(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 4,
) -> DataFrame:
    """Per-document boilerplate fraction: the share of a doc's DISTINCT
    word ``n``-grams that occur in at least ``min_docs`` distinct
    documents corpus-wide — the C4/RefinedWeb-style signal for headers,
    footers, navigation chrome and license blurbs that repeat across a
    crawl (a high fraction marks a template page, not prose).

    Plan (scale posture): grams are reduced to 60-bit portable hashes
    BEFORE any shuffle, so the wide exchanges carry fixed-width ints,
    never gram strings. Because shingle arrays are per-doc distinct, the
    corpus frequency is a plain count — one shuffle keyed by gram hash;
    the frequent-gram set (tiny: grams crossing min_docs) then joins
    back to the exploded grams on the same key, and the final per-doc
    aggregate reuses the doc_id partitioning. Hash collisions (2^-60,
    deterministic, identical in the DuckDB twin) are the documented
    approximation.

    Output: (doc_id, n_grams, n_boiler_grams, boilerplate_frac) —
    zero-gram docs report fraction 0.0.
    """
    from ..functions.text import portable_hash64, word_shingles_from_tokens
    from ..sources.readers import ensure_parallel
    from ..materialize import scoped_pin

    # pin the exploded gram-hash frame: it feeds BOTH the frequency
    # aggregate and the join probe, whose exchanges differ (partial agg
    # vs raw rows) so exchange reuse cannot kick in — without the pin
    # the whole-corpus tokenize -> shingle -> md5 map (the dominant
    # cost) executes twice (same pattern as dedup.ngram_jaccard_pairs).
    # scoped_pin registers it with the caller's dedup_cache_scope, which
    # releases it on exit.
    g = scoped_pin(
        ensure_parallel(docs)
        .select("doc_id", tokens(F.col(text_col)).alias("__toks"))
        .select(
            "doc_id",
            F.explode_outer(
                word_shingles_from_tokens(F.col("__toks"), n)
            ).alias("gram"),
        )
        .select("doc_id", portable_hash64(F.col("gram")).alias("gh"))
    )
    freq = (
        g.where(F.col("gh").isNotNull())
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("gh", F.lit(1).alias("__boiler"))
    )
    return (
        g.join(freq, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("gh")).cast("bigint").alias("n_grams"),
            F.coalesce(F.sum("__boiler"), F.lit(0))
            .cast("bigint")
            .alias("n_boiler_grams"),
        )
        .withColumn(
            "boilerplate_frac",
            F.round(
                F.col("n_boiler_grams")
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ),
        )
    )


def vocab_counts(
    docs: DataFrame,
    text_col: str = "text",
    k: int | None = None,
    min_count: int = 1,
    approx_docs: bool = False,
) -> DataFrame:
    """Corpus token-frequency table — the precursor every tokenizer
    training (BPE/unigram) and OOV analysis starts from. Output:
    (token, n_occurrences, n_docs), optionally top-``k`` by count
    (count desc, token asc — deterministic ties).

    Scale: token frequencies are Zipfian — the textbook skewed key.
    ``n_occurrences`` is algebraic, so map-side partial aggregation
    reduces each hot token to ONE row per task before the shuffle and
    no salting is needed (the measured lesson in SCALE.md). ``n_docs``
    is NOT: exact ``countDistinct`` makes Spark shuffle one row per
    distinct (token, doc_id) pair — a stop-word present in every doc
    pushes n_docs rows through the exchange. At corpus scale pass
    ``approx_docs=True`` (HyperLogLog++ ``approx_count_distinct``,
    ~2% rsd), whose sketch IS mergeable map-side, restoring the
    one-row-per-token-per-task shuffle for both columns. Top-k is
    ``orderBy().limit()`` — Spark plans TakeOrderedAndProject, a
    per-partition heap + driver merge of k rows, not a full sort.
    """
    from ..sources.readers import ensure_parallel

    tok = (
        ensure_parallel(docs)
        .select("doc_id", F.explode(tokens(F.col(text_col))).alias("token"))
        .where(F.col("token") != "")
    )
    n_docs = (
        F.approx_count_distinct("doc_id", rsd=0.02)
        if approx_docs
        else F.countDistinct("doc_id")
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        n_docs.cast("bigint").alias("n_docs"),
    )
    if min_count > 1:
        counts = counts.where(F.col("n_occurrences") >= min_count)
    if k is not None:
        counts = counts.orderBy(
            F.col("n_occurrences").desc(), F.col("token").asc()
        ).limit(k)
    return counts


def lang_marker_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language scores + argmax prediction with deterministic
    tie order (marker-count heuristic; see LANG_MARKERS)."""
    t = tokens(F.col(text_col))
    scores = {
        lang: F.size(F.filter(t, lambda x: F.lower(x).isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    score_cols = [scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS]
    scored = docs.select("doc_id", F.col("lang").alias("actual_lang"), *score_cols)
    # argmax with fixed tie order en > de > fr > es; all-zero -> 'unknown'
    langs = list(LANG_MARKERS)
    best = F.lit("unknown")
    best_score = F.lit(0)
    for lang in reversed(langs):
        s = F.col(f"score_{lang}")
        best = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, s)
    return scored.withColumn("predicted_lang", best)


#: Characteristic character trigrams per language (public knowledge:
#: high-frequency trigrams of each language's running text). Leading/
#: trailing spaces capture word-boundary trigrams after lowercasing.
#: Boundary-anchored picks: trigrams like 'der'/'que' are avoided on
#: purpose — they fire inside common English words ("order", "query")
#: and swamp the signal; space-anchored function-word trigrams don't.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", " of", "and", " is", " a "),
    "de": ("die", "das", "und", "ist", " zu"),
    "fr": ("les", "est", " et", " le", " du"),
    "es": ("los", " el", " la", " y ", " es"),
}


def lang_trigram_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-TRIGRAM language ID (the n-gram-profile heuristic, cf.
    Cavnar & Trenkle's n-gram text categorization): score per language =
    total occurrences of its characteristic trigrams in the lowercased
    text, counted expression-only via the replace trick
    ``(len(t) - len(replace(t, g, ''))) / 3`` — non-overlapping counts,
    identical semantics in Spark and DuckDB, so the whole scorer is
    hash-gatable. Complements the marker-WORD scorer
    (:func:`lang_marker_scores`); same argmax/tie/unknown convention."""
    low = F.lower(F.col(text_col))

    def count_tri(g: str):
        return (
            (F.length(low) - F.length(F.replace(low, F.lit(g), F.lit(""))))
            / F.lit(3)
        ).cast("bigint")

    scores = {
        lang: sum((count_tri(g) for g in grams), F.lit(0).cast("bigint"))
        for lang, grams in LANG_TRIGRAMS.items()
    }
    score_cols = [scores[lang].alias(f"tri_{lang}") for lang in LANG_TRIGRAMS]
    scored = docs.select("doc_id", *score_cols)
    langs = list(LANG_TRIGRAMS)
    best = F.lit("unknown")
    best_score = F.lit(0).cast("bigint")
    for lang in reversed(langs):
        s = F.col(f"tri_{lang}")
        best = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, s)
    return scored.withColumn("trigram_lang", best)


def doc_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic rolling-hash fingerprint per document (dedup-grade
    content identity that both engines can compute)."""
    return docs.select(
        "doc_id",
        rolling_fingerprint(text_col).alias("fingerprint"),
        F.length(text_col).alias("n_chars"),
    )


#: Simplified byte-pair-style pre-tokenizer: letter runs, digit runs, and
#: single non-alphanumeric marks — the word/number/punct split BPE
#: tokenizers apply before merges. Same regex class semantics in Java
#: (Spark) and RE2 (DuckDB), so the count is oracle-checkable.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per document."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        token_count(t).alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0)).alias(
            "bpe_ish_tokens"
        ),
        (F.length(t) / F.greatest(token_count(t), F.lit(1))).alias(
            "chars_per_token"
        ),
    )


#: Conservative, engine-portable PII-ish patterns (no backreferences —
#: valid in both Java regex and DuckDB's RE2). Counting, not redaction:
#: the filter decision is the caller's.
PII_PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4s": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phoneish": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals (the C4/Gopher-family quality
    rules): share of the most frequent word bigram and fraction of
    duplicated bigrams — boilerplate and generated spam score high on
    both, natural text stays low.

    Relational formulation: explode RAW (non-distinct) bigrams, one
    two-level aggregation — per (doc, gram) counts collapse map-side, so
    the shuffled volume is distinct grams per doc, not token count.
    Docs with fewer than 2 tokens have no bigrams: both stats are 0.

    The token array is PROJECTED to a column before the gram lambda:
    referencing ``split(text, ...)`` inside ``transform`` re-evaluates
    the split once per array ELEMENT — O(tokens² · chars) per doc
    (measured: 7× on the sf0.1 bench query). Binding it first makes the
    lambda read a computed array. The (non-distinct, positional) bigram
    array itself is a ``zip_with`` of two token-array slices, not a
    ``transform(sequence, i -> element_at(t, i+j))`` — under explode the
    element_at form re-runs the index walk per OUTPUT row, O(grams²)
    per doc (same finding as word_shingles_from_tokens, measured 7× on
    the shingle explode).
    """
    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("__t"))
    t = F.col("__t")
    m = F.size(t) - 1
    grams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, m),
            F.slice(t, 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = toks.select("doc_id", F.explode_outer(grams).alias("__g"))
    per_gram = exploded.groupBy("doc_id", "__g").agg(
        F.count("__g").alias("__cnt")
    )
    return per_gram.groupBy("doc_id").agg(
        F.coalesce(
            F.max("__cnt") / F.nullif(F.sum("__cnt"), F.lit(0)), F.lit(0.0)
        ).alias("top_bigram_share"),
        F.coalesce(
            (F.sum("__cnt") - F.count(F.col("__g")))
            / F.nullif(F.sum("__cnt"), F.lit(0)),
            F.lit(0.0),
        ).alias("dup_bigram_fraction"),
    )


#: Gopher repetition-filter thresholds (Rae et al. 2021, table A1):
#: a document FAILS when any fraction exceeds its bound. Exposed so the
#: pass column and a caller's custom filter share one source of truth.
GOPHER_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher repetition signals (Rae et al. 2021 §A1.1):
    the n-gram family of the quality-filter suite — ``top_{2,3,4}
    gram_char_frac`` (characters covered by the heaviest word n-gram)
    and ``dup_{5..10}gram_char_frac`` (characters covered by n-grams
    occurring at least twice), plus ``gopher_repetition_pass`` (1 when
    every fraction is within the published threshold). The line/
    paragraph half of the suite is :func:`line_repetition_stats`.

    Documented deviations from the paper's (order-dependent, greedy)
    reference procedure, chosen so the statistic is deterministic and
    engine-portable:

    - "top n-gram" is the n-gram maximizing ``count × char_len`` (the
      most characters covered), not ``Counter.most_common(1)`` whose
      tie-break depends on iteration order.
    - occurrences may overlap, so coverage is clamped at 1.0 (the
      common public reimplementations share this property).
    - char lengths count the space-joined gram string; the denominator
      is ``length(text)``.

    Plan (scale posture): ONE corpus pass — explode the nine n values,
    explode gram positions, build each gram with codegen'd
    ``slice``/``array_join`` (no higher-order-function lambdas — those
    run interpreted and measured 2x the whole operator); grams are
    reduced to 60-bit portable hashes with their char length BEFORE
    the shuffle, so the exchange carries fixed-width ints and the
    per-(doc, n, gram) counts collapse map-side. Two further
    vocabulary-per-doc-sized aggregations reuse the doc_id clustering.
    Hash collisions (2^-60, deterministic, identical in the DuckDB
    twin) are the documented approximation.
    """
    from ..functions.text import portable_hash64

    all_ns = (*GOPHER_TOP_THRESHOLDS, *GOPHER_DUP_THRESHOLDS)
    t = F.col("__t")

    # Gram expansion deliberately avoids higher-order functions: Spark
    # evaluates transform/flatten lambdas INTERPRETED (no whole-stage
    # codegen inside a LambdaFunction), which measured ~50 core-µs per
    # gram — 2x the whole rest of the operator. explode(positions) ×
    # explode(n) × slice+array_join are all ordinary codegen'd
    # expressions. Order: positions explode FIRST, carrying only the
    # max_n-token WINDOW at each position instead of the whole token
    # array per (n, pos) row — the n-explode then fans out rows whose
    # payload is ~10 tokens, and each n-gram is a prefix slice of its
    # window (identical strings; output pinned frame-equal, measured
    # ~9% on the sf0.1 leg). The position explode is _outer so an
    # empty-token doc survives as one null-position row (its "" grams
    # carry zero char length, so every fraction still reads 0); docs
    # shorter than n simply have no (n, pos) rows — frac() coalesces
    # the absent n to 0, the same result as emitting null-gram rows.
    # Input skew: the 9-n gram
    # expansion below is the most expression-heavy per-row pass in the
    # suite, and a small local parquet arrives as ONE scan partition —
    # profiled at sf0.1, the whole tokenize+explode+hash stage ran as a
    # single 6.0 s task (90% of the leg's wall) while 31 cores idled.
    # ensure_parallel round-robins the doc rows across cores first (a
    # 0.6 MB shuffle buys 32x parallelism on the gram pass); on a real
    # cluster the scan is already wide and this is a no-op.
    from ..sources.readers import ensure_parallel

    max_n = max(all_ns)
    toks = ensure_parallel(docs).select(
        "doc_id",
        F.greatest(F.length(F.col(text_col)), F.lit(1)).alias("__chars"),
        tokens(F.col(text_col)).alias("__t"),
    ).withColumn("__ntok", F.size("__t"))
    positions = F.when(
        F.col("__ntok") >= 1, F.sequence(F.lit(1), F.col("__ntok"))
    ).otherwise(F.array().cast("array<int>"))
    win = (
        toks.select(
            "doc_id",
            "__chars",
            "__ntok",
            F.col("__t"),
            F.posexplode_outer(positions).alias("__i", "__p"),
        )
        .select(
            "doc_id",
            "__chars",
            "__ntok",
            "__p",
            F.slice(
                t, F.coalesce(F.col("__p"), F.lit(1)), max_n
            ).alias("__w"),
        )
    )
    # __fits: this position starts a full n-gram. Rows that don't fit
    # are dropped EXCEPT position 1, kept as a null-gram survivor when
    # n exceeds the doc's token count (n fits at p=1 iff it fits
    # anywhere) — without it a (doc, n) pair with no full n-gram would
    # lose its row entirely and a doc shorter than every n would
    # vanish from the output (caught by the planted-values pytest).
    fits = F.col("__p") + F.col("__n") - 1 <= F.col("__ntok")
    ex = (
        win.select(
            "doc_id",
            "__chars",
            "__ntok",
            "__p",
            "__w",
            F.explode(F.array(*[F.lit(n) for n in all_ns])).alias("__n"),
        )
        .where(F.col("__p").isNull() | fits | (F.col("__p") == 1))
        .select(
            "doc_id",
            "__chars",
            "__n",
            F.when(
                fits, F.array_join(F.slice("__w", 1, F.col("__n")), " ")
            ).alias("__g"),
        )
    )
    cnt = (
        ex.select(
            "doc_id",
            "__chars",
            "__n",
            portable_hash64(F.col("__g")).alias("__gh"),
            F.length(F.col("__g")).alias("__glen"),
        )
        .groupBy("doc_id", "__chars", "__n", "__gh", "__glen")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    pern = cnt.groupBy("doc_id", "__chars", "__n").agg(
        F.max(F.col("__cnt") * F.col("__glen")).alias("__top_cover"),
        F.sum(
            F.when(
                F.col("__cnt") >= 2, F.col("__cnt") * F.col("__glen")
            ).otherwise(F.lit(0))
        ).alias("__dup_cover"),
    )

    def frac(cover_col: str, n: int, name: str):
        return F.round(
            F.least(
                F.coalesce(
                    F.max(F.when(F.col("__n") == n, F.col(cover_col)))
                    / F.col("__chars"),
                    F.lit(0.0),
                ),
                F.lit(1.0),
            ),
            6,
        ).alias(name)

    wide = pern.groupBy("doc_id", "__chars").agg(
        *[
            frac("__top_cover", n, f"top_{n}gram_char_frac")
            for n in GOPHER_TOP_THRESHOLDS
        ],
        *[
            frac("__dup_cover", n, f"dup_{n}gram_char_frac")
            for n in GOPHER_DUP_THRESHOLDS
        ],
    )
    passed = F.lit(True)
    for n, th in GOPHER_TOP_THRESHOLDS.items():
        passed = passed & (F.col(f"top_{n}gram_char_frac") <= th)
    for n, th in GOPHER_DUP_THRESHOLDS.items():
        passed = passed & (F.col(f"dup_{n}gram_char_frac") <= th)
    return wide.withColumn(
        "gopher_repetition_pass", passed.cast("int")
    ).drop("__chars")


def gopher_repetition_map(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Map-only twin of :func:`gopher_repetition` for STREAMING and
    other aggregation-free contexts: the statistic is
    per-document with no corpus state, so one Arrow-batched
    ``mapInPandas`` computes it with zero shuffles and runs unchanged
    on a Structured Streaming source in append mode — where the batch
    operator's explode+groupBy pipeline would demand watermarks or
    complete mode.

    Bitwise-equal to the batch operator (pytest pins stream == batch ==
    gopher_repetition): same ASCII tokenization (textmodels._py_tokens
    == tokens()), same 60-bit md5 gram hashing with (hash, char_len)
    count keys, same float division / clamp / HALF_UP-on-shortest-repr
    6dp rounding discipline as nb_score_map, and the pass flag compares
    the ROUNDED fractions like the batch column does."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from .textmodels import _py_tokens

    all_ns = (*GOPHER_TOP_THRESHOLDS, *GOPHER_DUP_THRESHOLDS)
    frac_cols = [f"top_{n}gram_char_frac" for n in GOPHER_TOP_THRESHOLDS] + [
        f"dup_{n}gram_char_frac" for n in GOPHER_DUP_THRESHOLDS
    ]
    out_schema = ", ".join(
        ["doc_id long"]
        + [f"{c} double" for c in frac_cols]
        + ["gopher_repetition_pass int"]
    )

    def _round6(v: float) -> float:
        return float(
            Decimal(repr(v)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = _py_tokens(text)
                chars = float(max(len(text) if isinstance(text, str) else 0, 1))
                fracs = []
                for n in all_ns:
                    counts: dict = {}
                    for i in range(len(toks) - n + 1):
                        g = " ".join(toks[i : i + n])
                        key = (
                            int(
                                hashlib.md5(g.encode("utf-8")).hexdigest()[:15],
                                16,
                            ),
                            len(g),
                        )
                        counts[key] = counts.get(key, 0) + 1
                    if n in GOPHER_TOP_THRESHOLDS:
                        cover = max(
                            (c * glen for (_, glen), c in counts.items()),
                            default=None,
                        )
                    else:
                        # empty counts sum to 0 -> same 0.0 the batch
                        # NULL/coalesce path produces
                        cover = sum(
                            c * glen
                            for (_, glen), c in counts.items()
                            if c >= 2
                        )
                    v = 0.0 if cover is None else min(float(cover) / chars, 1.0)
                    fracs.append(_round6(v))
                thresholds = list(GOPHER_TOP_THRESHOLDS.values()) + list(
                    GOPHER_DUP_THRESHOLDS.values()
                )
                passed = int(
                    all(f <= th for f, th in zip(fracs, thresholds))
                )
                out.append((doc_id, *fracs, passed))
            yield pd.DataFrame(
                out, columns=["doc_id"] + frac_cols + ["gopher_repetition_pass"]
            )

    return docs.mapInPandas(run, out_schema)


def wrap_tokens(
    docs: DataFrame,
    text_col: str = "text",
    tokens_per_line: int = 13,
    lines_per_para: int = 5,
) -> DataFrame:
    """Deterministic multi-line re-wrap of a document's tokens: lines of
    ``tokens_per_line`` space-joined tokens, grouped into blank-line
    separated paragraphs of ``lines_per_para`` lines. Replaces
    ``text_col``; every other column is preserved.

    Purpose: the synthetic sf corpora are single-line,
    so the line/paragraph operators (:func:`line_repetition_stats`,
    ``dedup.line_dedup``) would pass their registry hash gates
    VACUOUSLY. Deriving a multi-line corpus *inside* the gated query —
    from the same tokens() stream both engines already agree on —
    makes those gates exercise real corpus-wide line semantics, because
    duplicate documents (the corpus has exact and near dups) wrap into
    identical lines that line-dedup must then actually catch.

    Expression-only map projection. The slice/array_join lambdas are
    interpreted (Spark never codegens HOFs — SCALE.md), but each doc
    evaluates O(n_lines) slices of an already-materialized token array;
    this is the acceptable-HOF case, unlike the per-gram hot paths that
    were rewritten to explode form."""
    k, m = int(tokens_per_line), int(lines_per_para)
    if k < 1 or m < 1:
        raise ValueError("tokens_per_line and lines_per_para must be >= 1")
    other = [c for c in docs.columns if c != text_col]

    def _regroup(arr, size, joiner):
        n = F.size(arr)
        groups = F.transform(
            # ceil(n/size)-1 in exact integer arithmetic via (n-1) div
            # size: the subtraction makes the double `/` remainder-free,
            # so the int cast is exact
            F.sequence(
                F.lit(0),
                (((n - 1) - ((n - 1) % size)) / size).cast("int"),
            ),
            lambda i: F.array_join(
                F.slice(arr, i * size + 1, size), joiner
            ),
        )
        return F.when(n > 0, groups).otherwise(
            F.array().cast("array<string>")
        )

    # each array is BOUND to a projected column before the next HOF
    # references it: an unbound expression inside a lambda re-evaluates
    # once per element (the word_shingles_from_tokens lesson)
    return (
        docs.select(*other, tokens(F.col(text_col)).alias("__toks"))
        .select(*other, _regroup(F.col("__toks"), k, " ").alias("__lines"))
        .select(
            *other,
            F.array_join(
                _regroup(F.col("__lines"), m, "\n"), "\n\n"
            ).alias(text_col),
        )
    )


def _dup_split_stats(
    docs: DataFrame, text_col: str, sep: str, prefix: str
) -> DataFrame:
    """Duplicate fraction + duplicate-character fraction over the text
    split on ``sep`` (regex), empty/whitespace-only segments dropped.
    A duplicate is every occurrence of a segment after its first, per
    the Gopher/DataTrove convention."""
    seg = docs.select(
        "doc_id",
        F.explode_outer(
            F.filter(
                F.transform(
                    F.split(F.col(text_col), sep), lambda s: F.trim(s)
                ),
                lambda s: s != F.lit(""),
            )
        ).alias("__s"),
    )
    per = seg.groupBy("doc_id", "__s").agg(F.count("__s").alias("__cnt"))
    return per.groupBy("doc_id").agg(
        F.round(
            F.coalesce(
                (F.sum("__cnt") - F.count(F.col("__s")))
                / F.nullif(F.sum("__cnt"), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias(f"dup_{prefix}_frac"),
        F.round(
            F.coalesce(
                F.sum((F.col("__cnt") - 1) * F.length("__s"))
                / F.nullif(F.sum(F.col("__cnt") * F.length("__s")), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias(f"dup_{prefix}_char_frac"),
    )


def line_repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Line/paragraph half of the Gopher repetition suite: fraction of
    duplicate lines, fraction of characters in duplicate lines, and the
    same pair over paragraphs (blank-line separated). Duplicate = every
    occurrence after a segment's first; empty segments are dropped.
    Expression-only, two split-explode-aggregate passes joined on
    doc_id. Degenerate on the single-line synthetic corpus, so the
    gate is the planted-fixture pytest, not the driver oracle."""
    lines = _dup_split_stats(docs, text_col, r"\n", "line")
    paras = _dup_split_stats(docs, text_col, r"\n{2,}", "paragraph")
    return lines.join(paras, "doc_id")


def pii_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document counts of PII-shaped patterns (emails, IPv4s,
    phone-ish digit runs) — the standard pre-redaction audit pass of a
    training-data pipeline. Pure regexp_count expressions, map-only."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        *[
            F.regexp_count(t, F.lit(pat)).alias(f"n_{name}")
            for name, pat in PII_PATTERNS.items()
        ],
    )


#: Replacement tokens for :func:`redact_pii`, keyed like PII_PATTERNS.
#: Bracketed uppercase placeholders (the C4/Dolma convention) — no
#: digits, so an earlier replacement can never create a later match.
PII_REPLACEMENTS = {
    "emails": "<EMAIL>",
    "ipv4s": "<IP>",
    "phoneish": "<PHONE>",
}


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The action half of :func:`pii_counts`: replace PII-shaped spans
    with bracketed placeholder tokens, in the fixed PII_PATTERNS order
    (emails, then IPv4s, then phone-ish — placeholders contain no
    digits, so earlier replacements cannot create later matches).
    Replaces ``text_col`` in place, preserves every other column, and
    adds ``n_redactions`` (total spans replaced). Map-only chained
    ``regexp_replace`` expressions — no Python, no shuffle; the DuckDB
    twin chains ``regexp_replace(..., 'g')`` in the same order
    (pytest-pinned on planted PII)."""
    # counts are taken on the PROGRESSIVELY redacted text, so a span
    # consumed by an earlier pattern (digit runs inside an email local
    # part) is never double-counted: n_redactions == spans replaced
    red = F.col(text_col)
    total = F.lit(0)
    for name, pat in PII_PATTERNS.items():
        total = total + F.regexp_count(red, F.lit(pat))
        red = F.regexp_replace(red, pat, PII_REPLACEMENTS[name])
    return docs.withColumn("n_redactions", total.cast("bigint")).withColumn(
        text_col, red
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap_tokens: int = 16,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard context-window chunking step of a training/RAG pipeline.

    Chunk i covers tokens ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap_tokens``; the last chunk is the
    final (possibly short) remainder, and a doc shorter than one chunk
    yields exactly one chunk. n_chunks = 1 + ceil(max(n - chunk, 0) /
    stride) — the closed form the DuckDB twin checks.

    Pure JVM expressions: tokenize once, ``sequence`` over chunk starts,
    ``posexplode`` + ``slice`` — no Python, no shuffle (map-only until
    whatever the caller aggregates). Output grain: one row per chunk
    ``(doc_id, chunk_id, chunk_text, chunk_n_tokens)``.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap_tokens}) must be < chunk size ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap_tokens
    # bind the token array first: a raw tokens(text) expression inside
    # the transform lambda re-runs the split per chunk (see
    # repetition_stats for the measured cost of that pattern).
    # coalesce: tokens(NULL) is NULL and posexplode over a NULL array
    # emits NO rows — the doc would vanish from the chunk output while
    # every sibling operator keeps it (explode_outer); a null/empty doc
    # yields its one empty chunk instead, matching the closed form
    # n_chunks(0) = 1 the twin checks
    toks = docs.select(
        "doc_id",
        F.coalesce(
            tokens(F.col(text_col)), F.array().cast("array<string>")
        ).alias("__t"),
    )
    t = F.col("__t")
    n = F.size(t)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - chunk_tokens, F.lit(0)) / F.lit(stride)
    ).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    chunked = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(starts, lambda s: F.slice(t, s + 1, chunk_tokens))
        ).alias("chunk_id", "__toks"),
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.array_join("__toks", " ").alias("chunk_text"),
        F.size("__toks").alias("chunk_n_tokens"),
    )


def lang_distribution(docs: DataFrame) -> DataFrame:
    """Corpus language distribution with share of total."""
    total = docs.count()
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("share", F.col("n_docs") / F.lit(total))
    )


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    form: str | None = "NFC",
    lowercase: bool = False,
    collapse_ws: bool = True,
) -> DataFrame:
    """Text canonicalization — the stage that runs BEFORE dedup, or
    encoding-variant duplicates (decomposed vs precomposed accents,
    compatibility ligatures, stray whitespace runs, case) evade every
    content-hash/MinHash/SimHash stage downstream: 'école' composed and
    decomposed are different sha256 digests and different shingles.

    ``form``: a ``unicodedata.normalize`` form (NFC/NFKC/NFD/NFKD) or
    None to skip Unicode normalization. Spark has no built-in Unicode
    normalizer, so that step is an Arrow-batched ``mapInPandas``
    (map-only — the documented Python-boundary class); lowercasing and
    ASCII-whitespace collapsing are JVM expressions and are applied
    AFTER normalization (NFKC can produce case/space-relevant output,
    e.g. the fi ligature). Output replaces ``text_col`` in place,
    preserving every other column.

    DuckDB twin: ``nfc_normalize`` covers the NFC form (pytest-pinned);
    other forms pin against ``unicodedata`` directly.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    )
    result = docs
    if form is not None:
        import unicodedata

        valid = {"NFC", "NFKC", "NFD", "NFKD"}
        if form not in valid:
            raise ValueError(f"form must be one of {sorted(valid)} or None")

        def norm(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf[text_col] = [
                    unicodedata.normalize(form, t)
                    if isinstance(t, str)
                    else t
                    for t in pdf[text_col]
                ]
                yield pdf

        result = result.mapInPandas(norm, schema=out_schema)
    col = F.col(text_col)
    if lowercase:
        col = F.lower(col)
    if collapse_ws:
        # same ASCII class as tokens()' Java-regex \s+, then trim —
        # canonical text re-tokenizes identically to the original
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    return result.withColumn(text_col, col)
