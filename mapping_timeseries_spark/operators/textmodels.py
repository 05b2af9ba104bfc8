"""Statistical text models (SURVEY §2.11): corpus-trained bigram-LM
perplexity scoring and a multinomial Naive-Bayes document classifier —
the CCNet / fastText-style model-based quality signals that sit between
the pure-heuristic ``textstats`` scores and a real learned filter.

Both are expression-only DataFrame programs (no Python in the hot path):
training is count aggregation, scoring is a join + one per-doc sum.

Determinism contract (the part that makes these hash-gateable)
--------------------------------------------------------------
A per-document SUM of float ``ln`` terms is order-dependent (double
addition does not associate, and Spark sums in partition order), so raw
log-probability sums can NEVER hash-match a single-threaded oracle. The
same problem the correlation path solves with integer moments is solved
here by scaling every ``ln`` term to integer MICRO-NATS
(``round(ln(x) * 1e9)`` as bigint) before aggregation: integer sums are
exact and order-independent, both engines compute identical IEEE
divisions and (to well under the 1e-9 grid) identical ``ln``s, and every
derived float (avg_nll, perplexity, log-odds) is a pure per-row function
of one integer — bitwise-reproducible across engines, partitionings and
row counts. The NB predicted label is a comparison on the integer sum
itself, so classification flips cannot happen at all.

Scale posture: token/bigram keys are reduced to 60-bit portable hashes
BEFORE any shuffle (exchanges carry fixed-width ints, never strings);
model tables are Heaps'-law-bounded (vocabulary-sized, not corpus-sized)
and join back via AQE-eligible equi-joins; scoring reuses the doc_id
partitioning for its final rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_hash64, tokens
from ..materialize import scoped_pin
from ..sources.readers import ensure_parallel

__all__ = [
    "bigram_lm_counts",
    "lm_perplexity",
    "lm_score_map",
    "ppl_buckets",
    "ppl_bucket_thresholds",
    "nb_train",
    "nb_score",
    "nb_score_map",
]

#: Micro-nat scale: ln terms become round(ln * NAT_SCALE) bigints.
NAT_SCALE = 1_000_000_000


def _micro_nats(col: F.Column) -> F.Column:
    """ln(col) scaled to integer micro-nats (order-independent sums)."""
    return F.round(F.log(col) * F.lit(NAT_SCALE), 0).cast("bigint")


#: Default driver-collect ceiling for the map-twins' broadcast model
#: tables. Unigram vocabularies are Heaps'-bounded (~1e7 types even at
#: web scale) but BIGRAM type counts are not — a 100 TB crawl yields
#: 1e8–1e9 distinct bigrams, tens of GB, which would kill both the
#: driver collect and the broadcast. 2e7 rows ≈ low-hundreds of MB of
#: Python dict: large enough that sf-scale models never trip it, small
#: enough that the driver survives a misconfigured corpus.
MAX_MODEL_ROWS = 20_000_000


def _bound_model(
    table: DataFrame,
    order_cols: list,
    max_model_rows: int,
    on_overflow: str,
    label: str,
) -> DataFrame:
    """Enforce the driver-collect ceiling on a broadcast model table.

    Counts ``table`` first (one cheap vocabulary-sized job); if it
    exceeds ``max_model_rows`` either raise (default — silent unbounded
    collects are the #1 way a streaming scorer kills a driver at
    scale) or deterministically prune to the top-``max_model_rows``
    rows by ``order_cols`` (count-descending with a hash tie-break, so
    the kept set is unique). Pruned entries fall through to the
    caller's existing backoff path (prefix backoff for the LM, OOV for
    NB), so a pruned model is a well-defined smaller model, not a
    corrupted one — pytest pins pruned==full whenever the cap covers
    the whole table.
    """
    if on_overflow not in ("raise", "prune"):
        raise ValueError(
            f"on_overflow must be 'raise' or 'prune', got {on_overflow!r}"
        )
    n = table.count()
    if n <= max_model_rows:
        return table
    if on_overflow == "raise":
        raise ValueError(
            f"{label} model table has {n} rows > max_model_rows="
            f"{max_model_rows}; raise the cap only with driver memory "
            "to match, or pass on_overflow='prune' to keep the "
            f"top-{max_model_rows} entries (the tail scores through "
            "the backoff path)"
        )
    return table.orderBy(*order_cols).limit(max_model_rows)


def _transitions(toked: DataFrame, with_doc: bool = False) -> DataFrame:
    """Token-occurrence rows from a tokenized frame ``(doc_id, __t)``:
    one row per token, ``w1h`` = 60-bit hash of the token, ``bh`` =
    hash of ``w1 || ' ' || w2`` (NULL on a doc's final token — no
    transition starts there). Training aggregates ALL rows (unigram
    counts); scoring filters ``bh IS NOT NULL``. ONE shared builder so
    the train/score key constructions cannot drift — a separator or
    off-by-one divergence between them would silently make every scored
    bigram OOV (ppl saturates at the smoothing ceiling with no error).
    The space separator is unambiguous: whitespace tokens cannot
    contain one."""
    cols = ["doc_id"] if with_doc else []
    return toked.select(
        *cols, F.posexplode("__t").alias("pos", "__w"), F.col("__t")
    ).select(
        *cols,
        portable_hash64(F.col("__w")).alias("w1h"),
        F.when(
            F.col("pos") < F.size("__t") - 1,
            portable_hash64(
                F.concat_ws(
                    " ",
                    F.col("__w"),
                    F.element_at(F.col("__t"), F.col("pos") + 2),
                )
            ),
        ).alias("bh"),
    )


def bigram_lm_counts(train: DataFrame, text_col: str = "text") -> dict:
    """Train an add-k-ready bigram LM: unigram counts, bigram counts and
    the vocabulary size, all as LAZY vocabulary-sized frames — building
    the model triggers no Spark job (the vocabulary size ``v`` is a
    1-row frame cross-joined at scoring time, not a driver collect), so
    plan-composition callers (flag_corpus's perplexity stage) keep
    their pure-plan contract.

    The corpus is scanned ONCE per action: tokens explode to (w1h, bh)
    occurrence rows (shared :func:`_transitions` builder; successor NULL
    on the final token) and both count tables aggregate from that
    single pinned frame. V counts the distinct TRAIN unigrams + 1 (the
    +1 reserves smoothing mass for unseen words).
    """
    toked = ensure_parallel(train).select(
        "doc_id", tokens(F.col(text_col)).alias("__t")
    )
    pairs = scoped_pin(_transitions(toked))
    uni = pairs.groupBy("w1h").agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    bi = (
        pairs.where(F.col("bh").isNotNull())
        .groupBy("bh")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c2"),
            # bh functionally determines w1 (the key embeds it); carry
            # the prefix hash so scoring-term tables can be derived
            # from the MODEL alone (lm_score_map's engine-side terms)
            F.min("w1h").alias("w1h"),
        )
    )
    v = uni.agg((F.count(F.lit(1)) + 1).cast("bigint").alias("v"))
    return {"uni": uni, "bi": bi, "v": v}


def lm_perplexity(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    k: float = 0.5,
) -> DataFrame:
    """Score documents against a trained bigram LM: per-doc transition
    count, out-of-model transitions, average negative log-likelihood and
    perplexity under add-``k`` smoothing —
    ``p(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V)``.

    Each transition's ``ln p`` is floored to integer micro-nats before
    the per-doc sum (see module docstring), so the result is independent
    of partitioning and matches the single-threaded oracle bitwise.
    Docs with fewer than 2 tokens report n_trans=0 and NULL scores.

    Output: (doc_id, n_trans, oov_trans, avg_nll, ppl).
    """
    uni, bi, v = model["uni"], model["bi"], model["v"]
    toked = ensure_parallel(docs).select(
        "doc_id", tokens(F.col(text_col)).alias("__t")
    )
    trans = _transitions(toked, with_doc=True).where(
        F.col("bh").isNotNull()
    )
    c1 = F.coalesce(F.col("c1"), F.lit(0)).cast("double")
    c2 = F.coalesce(F.col("c2"), F.lit(0)).cast("double")
    term = _micro_nats(
        (c2 + F.lit(k)) / (c1 + F.lit(k) * F.col("v").cast("double"))
    )
    scored = (
        trans.join(uni, "w1h", "left")
        .join(bi.select("bh", "c2"), "bh", "left")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trans"),
            F.sum(F.when(F.col("c2").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_trans"),
            F.sum(term).alias("__nats"),
        )
    )
    avg_nll = -F.col("__nats") / (
        F.lit(float(NAT_SCALE)) * F.col("n_trans")
    )
    base = toked.select("doc_id")
    return (
        base.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trans", F.lit(0)).cast("bigint").alias("n_trans"),
            F.coalesce("oov_trans", F.lit(0))
            .cast("bigint")
            .alias("oov_trans"),
            F.when(F.col("n_trans") > 0, F.round(avg_nll, 6)).alias(
                "avg_nll"
            ),
            F.when(
                F.col("n_trans") > 0, F.round(F.exp(F.round(avg_nll, 6)), 6)
            ).alias("ppl"),
        )
    )


def ppl_bucket_thresholds(
    scored: DataFrame, shares: tuple = (1.0 / 3.0, 1.0 / 3.0)
) -> tuple:
    """The (t1, t2) integer micro-NLL thresholds the sketch mode of
    :func:`ppl_buckets` derives — exposed so a STREAMING deployment can
    compute them once from the standing corpus and apply bucketing to
    arriving documents as a pure map (``ppl_buckets(...,
    mode='sketch', thresholds=...)`` — no aggregation, append-mode
    legal, pytest-pinned stream == batch)."""
    from .sketches import histogram_quantiles, quantile_col, value_histogram

    h, m = float(shares[0]), float(shares[1])
    micro = scored.select(
        F.round(F.col("avg_nll") * 1e6, 0).cast("bigint").alias("__micro_nll")
    ).where(F.col("__micro_nll").isNotNull()).withColumn("__g", F.lit(1))
    hist = value_histogram(micro, ["__g"], "__micro_nll")
    t1 = quantile_col("__t", h)
    t2 = quantile_col("__t", h + m)
    row = histogram_quantiles(hist, ["__g"], [h, h + m], prefix="__t").collect()
    if not row:
        return (None, None)
    return (row[0][t1], row[0][t2])


def ppl_buckets(
    scored: DataFrame,
    shares: tuple = (1.0 / 3.0, 1.0 / 3.0),
    mode: str = "rank",
    thresholds: tuple | None = None,
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.
    2020, arXiv:1911.00359 §4.3 — the canonical LM-quality data split):
    rank documents by their reference-LM average NLL (:func:`
    lm_perplexity` output) and cut the corpus into ``head`` (lowest
    perplexity = most reference-like, the slice CCNet keeps), ``middle``
    and ``tail``. ``shares`` are the (head, middle) fractions; docs with
    NULL scores (fewer than 2 tokens — no evidence) always land in the
    tail.

    Adds ``ppl_bucket`` to every input row. Two modes:

    - ``mode='rank'`` (exact, the oracle/audit shape): one global
      ``row_number`` over (avg_nll ASC NULLS LAST, doc_id) — a
      single-partition sort of (doc, score) pairs — and explicit
      integer cuts head = rn <= n*h, middle = rn <= n*(h+m), computed
      in EXACT integer arithmetic: each share is snapped to a rational
      via ``Fraction(share).limit_denominator(10**6)`` (so the float
      1/3.0 becomes exactly 1/3 and the cut is ``(n * 1) div 3``,
      matching a SQL twin's ``n // 3`` with no dependence on IEEE
      round-to-even of ``n * (1/3.0)`` products — user-supplied shares
      like 0.1 carry no such tie-breaking guarantee). Engine-portable
      because the order, the snap, and the cut arithmetic are all
      exact.
    - ``mode='sketch'`` (the corpus-scale path, no global sort):
      thresholds from the deterministic log-decade histogram over
      ``round(avg_nll * 1e6)`` integer micro-nll (pre-scaled to
      fixed-point exactly because the sketch's <1% bound needs values
      >= 100 — see sketches.py), then a map-only threshold comparison.
      Bucket SHARES approximate within the sketch's documented bounds
      (pytest pins agreement on the sf corpus); ties at a threshold
      all take the lower bucket, so the split is still deterministic.
      With ``thresholds=None`` the cuts are derived LAZILY inside the
      plan: the histogram-quantile frame is forced to one row
      with a global aggregate and broadcast-crossJoined onto the
      corpus, so building this DataFrame runs no jobs and a cluster
      computes the cuts where the data lives. Pass pre-computed
      ``thresholds`` (from :func:`ppl_bucket_thresholds` over the
      standing corpus) to skip the histogram pass entirely — the
      assignment is then a pure literal map that runs unchanged on a
      Structured Streaming source in append mode (the production
      shape: yesterday's corpus sets the cuts, today's stream gets
      bucketed against them).
    """
    from pyspark.sql import Window

    if mode not in ("rank", "sketch"):
        raise ValueError(f"mode must be 'rank' or 'sketch', got {mode!r}")
    h, m = float(shares[0]), float(shares[1])
    if h < 0 or m < 0 or h + m > 1:
        raise ValueError(f"shares must be non-negative with sum <= 1: {shares}")
    if mode == "rank":
        from fractions import Fraction

        # exact rational cuts (see docstring): floor(n * share) as pure
        # bigint arithmetic, never a double product
        fh = Fraction(h).limit_denominator(10**6)
        fhm = (
            Fraction(h) + Fraction(m)
        ).limit_denominator(10**6)
        rn = F.row_number().over(
            Window.orderBy(F.col("avg_nll").asc_nulls_last(), F.col("doc_id"))
        )
        n = F.count(F.lit(1)).over(Window.partitionBy(F.lit(1)))
        out = scored.withColumn("__rn", rn).withColumn("__n", n)
        cut1 = F.expr(f"(__n * {fh.numerator}) div {fh.denominator}")
        cut2 = F.expr(f"(__n * {fhm.numerator}) div {fhm.denominator}")
        bucket = (
            F.when(F.col("avg_nll").isNull(), F.lit("tail"))
            .when(F.col("__rn") <= cut1, "head")
            .when(F.col("__rn") <= cut2, "middle")
            .otherwise("tail")
        )
        return out.withColumn("ppl_bucket", bucket).drop("__rn", "__n")
    micro = scored.withColumn(
        "__micro_nll", F.round(F.col("avg_nll") * 1e6, 0).cast("bigint")
    )
    if thresholds is not None:
        t1v, t2v = thresholds
        if t1v is None:  # empty scored corpus: everything is tail
            return micro.withColumn("ppl_bucket", F.lit("tail")).drop(
                "__micro_nll"
            )
        bucket = (
            F.when(F.col("__micro_nll").isNull(), F.lit("tail"))
            .when(F.col("__micro_nll") <= F.lit(int(t1v)), "head")
            .when(F.col("__micro_nll") <= F.lit(int(t2v)), "middle")
            .otherwise("tail")
        )
        return micro.withColumn("ppl_bucket", bucket).drop("__micro_nll")
    # lazy batch shape: same cuts ppl_bucket_thresholds collects, kept
    # inside the plan as a broadcast one-row frame (the global agg
    # yields one all-NULL row on an empty scored corpus — the NULL
    # guard below then sends everything to the tail, matching the
    # eager (None, None) path)
    from .sketches import histogram_quantiles, quantile_col, value_histogram

    msrc = micro.select("__micro_nll").where(
        F.col("__micro_nll").isNotNull()
    ).withColumn("__g", F.lit(1))
    t1c = quantile_col("__t", h)
    t2c = quantile_col("__t", h + m)
    thr = (
        histogram_quantiles(
            value_histogram(msrc, ["__g"], "__micro_nll"),
            ["__g"],
            [h, h + m],
            prefix="__t",
        )
        .groupBy()
        .agg(F.min(t1c).alias("__pt1"), F.min(t2c).alias("__pt2"))
    )
    bucket = (
        F.when(F.col("__micro_nll").isNull(), F.lit("tail"))
        .when(F.col("__pt1").isNull(), F.lit("tail"))
        .when(F.col("__micro_nll") <= F.col("__pt1"), "head")
        .when(F.col("__micro_nll") <= F.col("__pt2"), "middle")
        .otherwise("tail")
    )
    return (
        micro.crossJoin(F.broadcast(thr))
        .withColumn("ppl_bucket", bucket)
        .drop("__micro_nll", "__pt1", "__pt2")
    )


def nb_train(
    train: DataFrame,
    label_col: str,
    text_col: str = "text",
    alpha: float = 1.0,
) -> dict:
    """Train a multinomial Naive-Bayes classifier on a 0/1 ``label_col``:
    per-class token counts, class token totals, doc priors and the
    vocabulary size. One corpus scan; all model frames vocabulary-sized.

    The returned model stores the per-word log-likelihood DIFFERENCE
    ``ln p(w|1) - ln p(w|0)`` pre-scaled to integer micro-nats, so
    scoring is a single join + integer dot product.
    """
    toked = ensure_parallel(train).select(
        F.col(label_col).cast("int").alias("__y"),
        tokens(F.col(text_col)).alias("__t"),
    )
    words = toked.select(
        "__y", F.explode("__t").alias("__w")
    ).select("__y", portable_hash64(F.col("__w")).alias("wh"))
    words = scoped_pin(words)
    cw = words.groupBy("wh").agg(
        F.sum(F.col("__y")).cast("bigint").alias("c1"),
        F.sum(F.lit(1) - F.col("__y")).cast("bigint").alias("c0"),
    )
    tot = words.agg(
        F.sum(F.col("__y")).cast("bigint").alias("t1"),
        F.sum(F.lit(1) - F.col("__y")).cast("bigint").alias("t0"),
        F.countDistinct("wh").cast("bigint").alias("v"),
    ).collect()[0]
    nd = toked.agg(
        F.sum(F.col("__y")).cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("__y")).cast("bigint").alias("n0"),
    ).collect()[0]
    if not nd["n1"] or not nd["n0"]:
        raise ValueError(
            "nb_train needs at least one document of each class; got "
            f"n1={nd['n1']} n0={nd['n0']}"
        )
    v = int(tot["v"]) + 1
    a = float(alpha)
    d1 = (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.lit(a)) / (
        F.lit(float(tot["t1"]) + a * v)
    )
    d0 = (F.coalesce(F.col("c0"), F.lit(0)).cast("double") + F.lit(a)) / (
        F.lit(float(tot["t0"]) + a * v)
    )
    weights = cw.select(
        "wh", (_micro_nats(d1) - _micro_nats(d0)).alias("w_nats")
    )
    import math

    prior_nats = int(round(math.log(nd["n1"] / nd["n0"]) * NAT_SCALE))
    return {
        "weights": weights,
        "prior_nats": prior_nats,
        "vocab_size": v,
        "alpha": a,
        "totals": {
            "t1": int(tot["t1"]),
            "t0": int(tot["t0"]),
            "n1": int(nd["n1"]),
            "n0": int(nd["n0"]),
        },
    }


def nb_score(
    docs: DataFrame, model: dict, text_col: str = "text"
) -> DataFrame:
    """Score documents with a trained NB model: integer micro-nat
    log-odds (prior + per-word weight × in-doc count) and the predicted
    class from the INTEGER comparison — cross-engine classification
    flips are structurally impossible, not just unlikely.

    Out-of-vocabulary words carry weight 0 (their class likelihoods are
    both the smoothing floor and cancel in the difference up to the
    t1/t0 normalizer — the standard "ignore unseen words" NB treatment;
    n_oov reports how many were ignored).

    Output: (doc_id, n_words, n_oov, log_odds, predicted).
    """
    weights, prior = model["weights"], model["prior_nats"]
    toked = ensure_parallel(docs).select(
        "doc_id", tokens(F.col(text_col)).alias("__t")
    )
    words = toked.select(
        "doc_id", F.explode_outer("__t").alias("__w")
    ).select(
        "doc_id",
        portable_hash64(F.col("__w")).alias("wh"),
    )
    scored = (
        words.join(weights, "wh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("wh")).cast("bigint").alias("n_words"),
            F.sum(
                F.when(
                    F.col("wh").isNotNull() & F.col("w_nats").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_oov"),
            (
                F.coalesce(F.sum("w_nats"), F.lit(0)) + F.lit(prior)
            ).alias("__odds_nats"),
        )
    )
    return scored.select(
        "doc_id",
        "n_words",
        "n_oov",
        F.round(
            F.col("__odds_nats") / F.lit(float(NAT_SCALE)), 6
        ).alias("log_odds"),
        (F.col("__odds_nats") > 0).cast("int").alias("predicted"),
    )


#: Java-regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python str.split()
#: splits on Unicode whitespace (NBSP, \u2028, \x1c, ...) — a crawl
#: document with an NBSP would tokenize DIFFERENTLY in the map twins
#: than in the batch operators, breaking bitwise stream==batch parity.
_ASCII_WS = None


def _py_tokens(text) -> list:
    r"""Python twin of functions.text.tokens(): split on the SAME ASCII
    whitespace class Spark's Java-regex \s+ uses, drop empties."""
    global _ASCII_WS
    if _ASCII_WS is None:
        import re

        _ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")
    if not isinstance(text, str):
        return []
    return [t for t in _ASCII_WS.split(text) if t]


def nb_score_map(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    max_model_rows: int = MAX_MODEL_ROWS,
    on_overflow: str = "raise",
) -> DataFrame:
    """Map-only scoring twin of :func:`nb_score` for STREAMING and other
    aggregation-free contexts: the (wh -> w_nats) weight table is
    collected once (vocabulary-sized — the same Heaps'-law bound that
    justifies the BPE rank broadcast in ``tokenizer.encode_bpe``) and
    broadcast into one Arrow-batched ``mapInPandas``, so scoring a
    document touches no shuffle and carries no state — it runs
    unchanged on a Structured Streaming source in append mode, where
    the joined+grouped :func:`nb_score` would demand watermarks or
    complete-mode state.

    Integer micro-nat arithmetic is identical (Python md5 reduction ==
    ``portable_hash64``), so outputs are bitwise-equal to nb_score —
    pytest pins stream==batch==nb_score. Output schema matches
    nb_score: (doc_id, n_words, n_oov, log_odds, predicted).
    """
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    spark = docs.sparkSession
    # Vocabulary tables are Heaps-bounded so sf-scale corpora never
    # trip this, but the same ceiling applies for symmetry with
    # lm_score_map: pruning keeps the most discriminative words (by
    # |weight|, wh tie-break); a pruned word scores as OOV — exactly
    # how nb_score treats an unseen word.
    wtable = _bound_model(
        model["weights"],
        [F.abs(F.col("w_nats")).desc(), F.col("wh").asc()],
        max_model_rows,
        on_overflow,
        "naive-bayes",
    )
    weights = {r["wh"]: r["w_nats"] for r in wtable.collect()}
    prior = model["prior_nats"]
    bweights = spark.sparkContext.broadcast(weights)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                ws = _py_tokens(text)
                nats = prior
                n_oov = 0
                for w in ws:
                    wh = int(
                        hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16
                    )
                    wn = bweights.value.get(wh)
                    if wn is None:
                        n_oov += 1
                    else:
                        nats += wn
                # Spark's round() is HALF_UP over BigDecimal.valueOf
                # (the double's SHORTEST string repr, not its exact
                # binary expansion — java.math.BigDecimal.valueOf goes
                # through Double.toString), and Python's round() is
                # half-to-even; both flip 6dp midpoints against it
                # (seen live: nats=-3135626500 -> binary-exact
                # ...64999999872 rounds to ...26, but Spark sees the
                # shortest repr "-3.1356265" and HALF_UPs to ...27).
                # Decimal(repr(v)) is Python's shortest round-trip
                # string — the same value valueOf sees.
                # float(nats) FIRST: Spark casts the bigint to double
                # before dividing; CPython's int/int is the correctly-
                # rounded exact quotient and diverges by 1 ulp once
                # |nats| exceeds 2^53 (a ~450k-token document)
                lo = float(
                    Decimal(repr(float(nats) / NAT_SCALE)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )
                out.append((doc_id, len(ws), n_oov, lo, int(nats > 0)))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_words", "n_oov", "log_odds", "predicted"
                ],
            )

    return docs.select("doc_id", text_col).mapInPandas(
        score,
        schema=(
            "doc_id long, n_words bigint, n_oov bigint, "
            "log_odds double, predicted int"
        ),
    )


def lm_score_map(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    k: float = 0.5,
    max_model_rows: int = MAX_MODEL_ROWS,
    on_overflow: str = "raise",
) -> DataFrame:
    """Map-only scoring twin of :func:`lm_perplexity` for STREAMING:
    the per-bigram and per-prefix micro-nat terms are computed
    ENGINE-SIDE from the model frames (so no Python ``ln`` enters the
    integer contract — a 1-ulp libm divergence would flip micro-nats),
    collected once (vocabulary-bounded), and broadcast into one
    Arrow-batched ``mapInPandas``. Scoring then is pure integer
    lookups + sums per document: no shuffle, no state — it runs on a
    Structured Streaming source in append mode.

    ``k`` binds at twin-build time (the term tables embed it). Output
    schema and values are bitwise-equal to lm_perplexity — pytest pins
    stream == batch == lm_perplexity.
    """
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    spark = docs.sparkSession
    uni, bi, v = model["uni"], model["bi"], model["v"]
    # Bigram type counts are NOT Heaps-bounded — gate the collect. A
    # pruned bigram scores through the seen-prefix backoff below, so
    # pruning trades fidelity (higher measured oov_trans), never
    # correctness. The unigram/prefix table IS vocabulary-bounded and
    # strictly smaller than bi, so one gate suffices.
    bi = _bound_model(
        bi,
        [F.col("c2").desc(), F.col("bh").asc()],
        max_model_rows,
        on_overflow,
        "bigram-LM",
    )
    kv = F.lit(k) * F.col("v").cast("double")
    c1d = F.col("c1").cast("double")
    known = {
        r["bh"]: r["t"]
        for r in bi.join(uni, "w1h")
        .crossJoin(F.broadcast(v))
        .select(
            "bh",
            _micro_nats(
                (F.col("c2").cast("double") + F.lit(k)) / (c1d + kv)
            ).alias("t"),
        )
        .collect()
    }
    seen_w1 = {
        r["w1h"]: r["t"]
        for r in uni.crossJoin(F.broadcast(v))
        .select(
            "w1h", _micro_nats(F.lit(k) / (c1d + kv)).alias("t")
        )
        .collect()
    }
    unseen_w1 = v.select(
        _micro_nats(F.lit(k) / (F.lit(k) * F.col("v").cast("double"))).alias(
            "t"
        )
    ).first()["t"]
    b_known = spark.sparkContext.broadcast(known)
    b_seen = spark.sparkContext.broadcast(seen_w1)

    def _round6(value: float) -> float:
        # Spark round() = HALF_UP over the double's SHORTEST repr
        # (BigDecimal.valueOf) — see nb_score_map
        return float(
            Decimal(repr(value)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                ws = _py_tokens(text)
                n = max(len(ws) - 1, 0)
                if n == 0:
                    # 4 fields only — ppl is derived JVM-side below; a
                    # 5th element here desyncs the pandas column list
                    # and aborts the whole (possibly streaming) task on
                    # the first empty/one-word doc, which are routine
                    # in crawl data and which lm_perplexity handles.
                    out.append((doc_id, 0, 0, None))
                    continue
                nats = 0
                oov = 0
                for i in range(n):
                    bh = int(
                        hashlib.md5(
                            f"{ws[i]} {ws[i + 1]}".encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    )
                    t = b_known.value.get(bh)
                    if t is None:
                        oov += 1
                        w1h = int(
                            hashlib.md5(ws[i].encode("utf-8")).hexdigest()[
                                :15
                            ],
                            16,
                        )
                        t = b_seen.value.get(w1h, unseen_w1)
                    nats += t
                avg = _round6(-float(nats) / (NAT_SCALE * float(n)))
                out.append((doc_id, n, oov, avg))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_trans", "oov_trans", "avg_nll"],
            )

    scored = docs.select("doc_id", text_col).mapInPandas(
        score,
        schema=(
            "doc_id long, n_trans bigint, oov_trans bigint, "
            "avg_nll double"
        ),
    )
    # ppl stays JVM-side: Python math.exp (C libm) and Java Math.exp
    # can disagree by 1 ulp, which flips a 6dp midpoint — the exact
    # failure class the engine-side term tables exist to prevent. A
    # projection over the map output keeps the twin map-only AND
    # routes exp through the same JVM intrinsic the batch path uses
    # (batch: round(exp(round(avg,6)),6); avg_nll here IS round(avg,6)).
    return scored.withColumn(
        "ppl",
        F.when(
            F.col("n_trans") > 0, F.round(F.exp(F.col("avg_nll")), 6)
        ),
    )
