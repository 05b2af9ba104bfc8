"""Text expression helpers for the LLM-data-pipeline operators
(SURVEY §2.11): tokenization, shingling, hashing, quality heuristics.

Everything here is a JVM-side Column expression (no Python UDFs) — token
counting, shingles, rolling hashes and ratio features all stay inside
whole-stage codegen, which is what makes the document operators viable at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small function-word list for stopword-ratio features.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

#: Modulus for the polynomial rolling hash (fits acc*31+c in int64).
FP_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text.

    Empty tokens are filtered: ``split(trim(''), '\\s+')`` returns
    ``['']`` in both Spark and DuckDB, which would count an empty or
    whitespace-only document as having ONE token — and give it a nonzero
    quality score, letting blank docs through a pretraining min-quality
    filter. The SQL twins apply the same ``list_filter`` (_SQL_TOKENS),
    so engine parity holds on the edge as well as the bulk."""
    return F.filter(
        F.split(F.trim(text), r"\s+"), lambda t: t != F.lit("")
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_shingles_from_tokens(t: Column, n: int = 2) -> Column:
    """Adjacent word n-gram shingles (distinct) from a BOUND token-array
    column. Callers must pass a projected column, not a raw
    ``tokens(text)`` expression: subexpression elimination does not reach
    into lambda scope, so an unbound split re-runs once per array
    element — O(tokens² · chars) per doc (measured 4× on the bench's
    repetition query before binding).

    Built as chained ``zip_with`` over n parallel slices of the token
    array (gram_i = t[i] .. t[i+n-1], elementwise), NOT as
    ``transform(sequence(...), i -> element_at(t, i+j))``: explode()
    re-evaluates its child array expression per OUTPUT row, and the
    element_at form re-ran the index walk each time — O(grams²) per doc
    under a generator. Measured on the sf0.1 corpus (256k bigrams):
    explode of this form 0.8 s vs 5.6 s for the element_at form; the
    arrays themselves are identical (order included, so array_distinct
    keeps the same first occurrences).

    Docs with fewer than ``n`` tokens yield an empty array — the
    ``when`` guard keeps ``slice`` from seeing a negative length (its
    branches evaluate lazily per row, same contract the previous
    sequence(0, size-n) form relied on)."""
    m = F.size(t) - n + 1  # gram count
    grams = F.slice(t, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(t, j + 1, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text: Column | str, n: int = 2) -> Column:
    """Shingles straight from text — convenience for one-shot/small
    frames. Hot paths should project ``tokens(text)`` to a column first
    and use :func:`word_shingles_from_tokens` (see its note)."""
    return word_shingles_from_tokens(tokens(text), n)


def char_shingles(text: Column | str, n: int = 3) -> Column:
    """Character n-gram shingles (distinct). An empty/whitespace-only
    document yields an EMPTY array (same contract as tokens() /
    word_shingles: blank docs must not share a degenerate [''] shingle
    and form spurious perfect-Jaccard cliques); a doc shorter than ``n``
    chars yields its whole text as the single shingle."""
    s = F.trim(text)
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - n + 1, F.lit(1)))
    grams = F.array_distinct(F.transform(idx, lambda i: F.substring(s, i, n)))
    return F.when(F.length(s) > 0, grams).otherwise(
        F.array().cast("array<string>")
    )


def avg_token_length(text: Column | str) -> Column:
    t = tokens(text)
    total = F.aggregate(
        F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return total.cast("double") / F.size(t)


def stopword_ratio(text: Column | str) -> Column:
    t = tokens(text)
    hits = F.size(
        F.filter(t, lambda x: F.lower(x).isin(*STOPWORDS))
    )
    return hits.cast("double") / F.size(t)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    s = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(s, r"[A-Za-z0-9\s]", "")
    return F.length(stripped).cast("double") / F.greatest(
        F.length(s), F.lit(1)
    )


def rolling_fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash over characters: acc = (acc*31 + code) % M.

    A deterministic document fingerprint expressible in both Spark and
    ANSI-ish SQL (the DuckDB oracle mirrors it with list_reduce), unlike
    xxhash64/sha2 whose cross-engine outputs differ or are string-typed.
    """
    chars = F.filter(
        F.split(F.col(text) if isinstance(text, str) else text, ""),
        lambda x: x != "",
    )
    codes = F.transform(chars, F.ascii)
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % FP_MOD,
    )


#: Mersenne prime 2^31-1: universal-hash modulus small enough that
#: a*h + b stays under 2^62 (no int64 overflow on either engine).
MINHASH_PRIME = 2_147_483_647


def minhash_coeffs(num_hashes: int = 32, seed: int = 20260813) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations
    h_i(x) = (a_i*x + b_i) mod p. The DuckDB oracle SQL is generated from
    the SAME list, so both engines evaluate identical arithmetic."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def portable_hash64(s: Column) -> Column:
    """First 60 bits of md5(s) as a non-negative bigint — identical in
    Spark (``conv(substr(md5(s),1,15),16,10)``) and DuckDB
    (``('0x' || substring(md5(s),1,15))::BIGINT``). Slower than xxhash64
    (full md5 per value) but engine-portable, which is what makes the
    MinHash pipeline oracle-checkable end-to-end."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def minhash_base_hashes(shingles: Column) -> Column:
    """Each shingle's MinHash base hash: :func:`portable_hash64` reduced
    mod :data:`MINHASH_PRIME`, one md5 per shingle. Project it into its
    own column, then pass that column's name to
    :func:`minhash_signature_portable`."""
    return F.transform(shingles, lambda s: portable_hash64(s) % MINHASH_PRIME)


def minhash_signature_portable(
    base_col: str, num_hashes: int = 32, seed: int = 20260813
) -> Column:
    """The engine's MinHash signature over the base-hash array in column
    ``base_col`` (:func:`minhash_base_hashes`): for each of
    ``num_hashes`` universal hashes h_i(x) = (a_i*x + b_i) mod p, the
    minimum over the doc's base hashes (Broder 1997; *Mining of Massive
    Datasets* ch. 3). A pure JVM-side expression, and engine-portable:
    the DuckDB twin evaluates the same arithmetic from the same
    :func:`minhash_coeffs`.

    The base hashes come from a projected column because the expression
    reads them once per hash: an inline base-hash expression would re-run
    md5 for every shingle ``num_hashes`` times. One
    ``array_min(transform(...))`` per hash with literal coefficients is
    the cheapest shape measured: in one interleaved run, signature plus
    banding of 50,000 docs (10x sf0.1, local[3]) took 3.6 s, against
    4.9 s for one ``aggregate`` whose ``zip_with`` folds all hashes per
    shingle and 4.5 s for 32 seeded ``xxhash64`` passes. It is built
    from SQL text: the same expression built through the Column API
    cost about 140 ms more Spark-driver time per plan, all of it
    Python-to-JVM calls."""
    return F.expr(
        "array("
        + ", ".join(
            f"array_min(transform(`{base_col}`, h -> (h * {a} + {b}) % {MINHASH_PRIME}))"
            for a, b in minhash_coeffs(num_hashes, seed)
        )
        + ")"
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two bigint fingerprints (popcount of XOR)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)
