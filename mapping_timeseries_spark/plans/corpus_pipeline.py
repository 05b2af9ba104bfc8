"""End-to-end training-corpus preprocessing pipeline (SURVEY §2.11 —
the composition a 100 TB LLM-data run actually executes):

    exact dedup -> near-dup clustering (MinHash-LSH + connected
    components) -> benchmark decontamination -> quality filter ->
    deterministic shuffle-and-shard export.

Design: every stage contributes a BOOLEAN survival flag on the per-doc
frame instead of materializing an intermediate corpus per stage. The
flags are computed independently on the full corpus (flag semantics, not
a resumable cascade — a doc can fail several stages at once and every
stage's rejection count is attributable), a single ``Observation`` node
counts all stages in the one pass the export already pays for, and only
rows passing every flag are written. Per-stage work:

- exact:   one window over sha2(text) — keeper = min doc_id per digest
           (shuffles 32-byte digests).
- neardup: MinHash band join + large-star/small-star connected
           components (operators.dedup.minhash_lsh_pairs /
           dedup_clusters).
- clean:   broadcast inverted-index containment join vs the holdout
           suite (operators.dedup.ngram_decontaminate) — the corpus side
           never shuffles.
- quality: pure expressions (operators.textstats.quality_score).
- export:  one shard-keyed shuffle (sources.writers.write_training_shards).

All flag joins are keyed on doc_id, so AQE collapses them onto one
hash-partitioning of the corpus. No collect() anywhere; the stats dict
comes from the Observation attached to the flagged frame.

Streaming posture (r7): every per-doc FILTER stage of this stack now
has a stream==batch-pinned twin — canonicalization (normalize_text,
map-only), PII redaction (redact_pii, map-only expressions), quality
heuristics (expressions), Gopher repetition
(textstats.gopher_repetition_map), LM/NB model scoring
(textmodels.lm_score_map / nb_score_map) and DSIR scoring
(dsir.dsir_weights_map) — so a continuous-ingestion deployment can run
the whole filter cascade on a Structured Streaming source in append
mode. Even the near-dup GATE runs streaming when the reference corpus
is a persisted index (dedup.minhash_dedup_stream — stream-static band
+ verification joins); what stays batch/incremental is corpus-STATE
maintenance itself (dedup clustering, corpus-wide line dedup,
decontamination index refresh, top-k selection, index appends and
compaction). Pins: tests/test_streaming.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.dedup import (
    dedup_clusters,
    minhash_lsh_pairs,
    ngram_decontaminate,
)
from ..operators.textstats import quality_score
from ..sources.writers import write_training_shards

__all__ = ["CorpusPipelineResult", "run_corpus_pipeline"]


@dataclass
class CorpusPipelineResult:
    out_path: str
    stats: dict[str, Any]
    #: r13: which near-dup verify path ran — the auto decision record
    #: (participants/docs/fraction/narrow) or {"narrow": <override>,
    #: "override": True} when the caller forced it. Not a stats entry:
    #: stats values are integer counts by contract.
    narrow_verify_decision: dict[str, Any] | None = None


def flag_corpus(
    docs: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    minhash_threshold: float = 0.5,
    contam_overlap: float = 0.2,
    min_quality: float = 0.4,
    portable_hashes: bool = False,
    max_top_bigram_share: float | None = None,
    max_pii_hits: int | None = None,
    max_boilerplate_frac: float | None = None,
    max_dup_frac: float | None = None,
    lm_ref: DataFrame | None = None,
    max_ppl: float | None = None,
    nb_model: dict | None = None,
    min_nb_log_odds: float = 0.0,
    corpus_vecs: DataFrame | None = None,
    holdout_vecs: DataFrame | None = None,
    semantic_contam_threshold: float = 0.95,
    canonicalize: str | None = None,
    line_dedup_mode: str | None = None,
    redact: bool = False,
    gopher_filter: bool = False,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
    neardup_mode: str = "star",
    neardup_narrow_verify: bool | None = None,
) -> DataFrame:
    """The lazy flagged-corpus frame: input columns + one int flag per
    stage (`pass_exact`, `pass_neardup`, `pass_clean`, `pass_quality`,
    and — when their thresholds are set — `pass_repetition` /
    `pass_pii` / `pass_boilerplate` / `pass_dupspan` / `pass_ppl` /
    `pass_classifier` / `pass_semclean` / `pass_gopher` /
    `pass_dsir`) plus `quality_score`. Pure plan — callers decide
    what to do with it (the pipeline filters AND observes; audits can
    inspect rejects).

    **Output-semantics change (r9, flagged per ADVICE r9 #1):**
    ``neardup_mode`` defaults to ``"star"``, which changed
    ``pass_neardup`` for pre-r9 callers. Star mode feeds connected
    components only (bucket-min, member) candidate edges — O(k) on a
    hot near-identical clique where all-pairs is O(k²) and measured to
    die at k=10⁴ (artifacts/hot_clique_gate.json). Every candidate is
    still exact-Jaccard-verified, so star NEVER merges docs that pairs
    would keep apart (no false merges); the one-sided recall loss is
    that two similar bucket members whose shared bucket-min fails
    verification against BOTH now stay separate keepers (input-
    dependent; on transitively-similar corpora clusters are pytest- and
    oracle-pinned equal, tests/test_llm_ops.py + the dedup_clusters
    star fold). Callers needing the pre-r9 exact-recall pair semantics
    pass ``neardup_mode="pairs"`` and accept the quadratic hot-clique
    cost; downstream consumers of ``pass_neardup`` should re-baseline.

    ``max_top_bigram_share``: reject boilerplate/spam whose most frequent
    word bigram exceeds this share (textstats.repetition_stats).
    ``max_pii_hits``: reject docs with more than this many PII-shaped
    matches across all patterns (textstats.pii_counts).
    ``max_boilerplate_frac``: reject template pages whose share of
    corpus-frequent trigrams exceeds this
    (textstats.boilerplate_signals — WITHIN-doc repetition is the
    bigram-share stage; this one catches ACROSS-doc repetition).
    ``max_dup_frac``: reject docs whose duplicated-PASSAGE token share
    exceeds this (dedup.dup_span_stats — the substring-level companion
    to the doc-level neardup stage).
    ``lm_ref`` + ``max_ppl``: the CCNet pattern — train a bigram LM on
    a trusted reference corpus and reject docs whose perplexity against
    it exceeds ``max_ppl`` (both must be given; docs too short to score
    — under 2 tokens — pass, they carry no LM evidence either way).
    ``nb_model`` (a ``textmodels.nb_train`` result): reject docs whose
    NB log-odds fall below ``min_nb_log_odds`` — the fastText-style
    learned-filter stage.
    ``canonicalize``: a Unicode normalization form (NFC/NFKC/NFD/NFKD)
    applied to BOTH the corpus and the holdout text before any stage
    (textstats.normalize_text, whitespace-collapsing) — without it,
    encoding-variant duplicates evade every hash/shingle stage and
    decontamination misses ligature-variant benchmark copies.
    ``line_dedup_mode`` ('keep_first' | 'drop_all'): corpus-wide
    line-level boilerplate removal (dedup.line_dedup) applied to the
    corpus text AFTER canonicalization and before every stage — the
    C4/RefinedWeb move that stops repeated nav/cookie/footer lines
    from dominating shingles, quality ratios and LM scores. A text
    REWRITE like canonicalize, not a flag: downstream stages (and the
    export) see the cleaned text.
    ``corpus_vecs`` + ``holdout_vecs`` (both (vec_id, embedding),
    vec_id == doc_id): reject docs whose embedding sits within
    ``semantic_contam_threshold`` cosine of ANY holdout item
    (similarity.embedding_decontaminate — catches the PARAPHRASED
    benchmark leakage the lexical ``pass_clean`` stage misses; docs
    without a vector pass, they carry no semantic evidence).
    ``redact``: rewrite PII spans to bracketed placeholders
    (textstats.redact_pii) after canonicalization/line-dedup and
    before every stage — downstream stages and the export see the
    redacted text, so combining it with ``max_pii_hits`` is moot (the
    count stage then sees zero matches by construction; set one or
    the other).
    ``gopher_filter``: the Gopher repetition rules
    (textstats.gopher_repetition) — reject docs whose top-2/3/4-gram
    or duplicated-5..10-gram character coverage exceeds the published
    thresholds.
    ``dsir_target`` + ``dsir_keep``: DSIR data selection
    (operators/dsir.py) — keep only the ``dsir_keep`` docs drawn by
    seeded Gumbel-top-k toward the target corpus' hashed-n-gram
    distribution. Like every other stage this is an INDEPENDENT flag
    on the full corpus, not a cascade over prior survivors — the
    retained count can therefore be below ``dsir_keep`` when other
    stages reject selected docs.
    ``neardup_narrow_verify``: restrict the near-dup verifier's
    shingle frame to candidate participants before its joins
    (dedup.narrow_sets_to_participants — broadcast semi-join,
    row-identical by pytest). Default ``None`` = AUTO (r13): the
    operator counts candidate participants against the shingled
    corpus from frames it pins anyway and narrows iff the fraction is
    <= dedup.NARROW_VERIFY_MAX_FRACTION — see minhash_lsh_pairs. Pass
    True (the x10000 composed gate's setting — known ~1%
    participation at 50M docs) or False (candidates span most of the
    corpus: the broadcast id list would be corpus-sized) to override.
    ``neardup_mode`` ('star' default | 'pairs'): candidate generator
    for the near-dup clustering stage. 'star' verifies only
    (bucket-min, member) edges — linear candidates even on a hot
    near-identical template clique (the input shape where 'pairs' goes
    O(k²) and dies at 100 TB; VERDICT r8 #1) — and is sufficient for
    the connected-components consumer here. 'pairs' restores the full
    verified-all-pairs edge set (marginally higher recall on buckets
    whose min is dissimilar to similar members; semantics on
    dedup._lsh_candidates).
    All default to None/False = stage off (no flag column), keeping
    the base pipeline's contract unchanged.
    """
    if (dsir_target is None) != (dsir_keep is None):
        raise ValueError(
            "the DSIR stage needs BOTH dsir_target and dsir_keep "
            "(got exactly one)"
        )
    if (lm_ref is None) != (max_ppl is None):
        raise ValueError(
            "the perplexity stage needs BOTH lm_ref and max_ppl "
            "(got exactly one)"
        )
    if (corpus_vecs is None) != (holdout_vecs is None):
        raise ValueError(
            "the semantic-contamination stage needs BOTH corpus_vecs "
            "and holdout_vecs (got exactly one)"
        )
    # survival flags are a RESERVED namespace: a pre-existing pass_*
    # column would silently be ANDed into the survival predicate,
    # summed into the stats, and dropped from the export — refuse
    # loudly instead
    preexisting = [c for c in docs.columns if c.startswith("pass_")]
    if preexisting:
        raise ValueError(
            f"input corpus already has pass_-prefixed columns "
            f"{preexisting}; rename them — pass_* is the pipeline's "
            f"stage-flag namespace"
        )

    if canonicalize is not None:
        from ..operators.dedup import _pin
        from ..operators.textstats import normalize_text

        # _pin: every flag stage re-scans the docs subtree; without the
        # pin the Arrow/unicodedata pass would re-run once PER STAGE in
        # the single export action (O(stages x corpus) Python-boundary
        # work). persist() is lazy, so flag_corpus stays pure-plan; the
        # pin registers with dedup_cache_scope like every other
        # multi-consumer intermediate
        docs = _pin(normalize_text(docs, text_col, form=canonicalize))
        holdout = normalize_text(holdout, text_col, form=canonicalize)

    if line_dedup_mode is not None:
        from ..operators.dedup import _pin, line_dedup

        # rewrite, not flag: replace the corpus text with the
        # line-deduped text, preserving every other column via a
        # doc_id join (line_dedup returns only its own frame). Pinned:
        # every flag stage re-scans the docs subtree, and this one
        # carries two shuffles of its own.
        cleaned = line_dedup(docs, text_col, mode=line_dedup_mode).select(
            "doc_id", F.col(text_col).alias("__ld_text")
        )
        docs = _pin(
            docs.drop(text_col)
            .join(cleaned, "doc_id")
            .withColumnRenamed("__ld_text", text_col)
        )

    if redact:
        from ..operators.textstats import redact_pii

        # rewrite like canonicalize/line_dedup, not a flag. Pure JVM
        # regex (no Python boundary, no shuffle), so re-evaluating it
        # per flag stage is cheap enough to skip the pin.
        docs = redact_pii(docs, text_col).drop("n_redactions")

    # exact: keeper = smallest doc_id per content digest
    from pyspark.sql import Window

    digest_w = Window.partitionBy(F.sha2(F.col(text_col), 256))
    flagged = docs.withColumn(
        "pass_exact",
        (F.col("doc_id") == F.min("doc_id").over(digest_w)).cast("int"),
    )

    # mode="star" (VERDICT r8 #1): the consumer here is connected
    # components, which needs a SPANNING edge set, not the full pair
    # list — all-pairs candidates are O(k²) on a hot near-identical
    # clique (boilerplate pages differing by a timestamp survive the
    # exact stage above) where star edges are O(k). Every star edge is
    # still exact-Jaccard-verified, so no false merges; the recall
    # trade (member-member edges whose bucket min clears neither) is
    # documented on dedup._lsh_candidates, and cluster equality on
    # transitively-similar corpora is pytest-pinned.
    pairs = minhash_lsh_pairs(
        docs,
        text_col,
        threshold=minhash_threshold,
        portable=portable_hashes,
        mode=neardup_mode,
        narrow_verify=neardup_narrow_verify,
    )
    clusters = dedup_clusters(docs, pairs).select(
        "doc_id", F.col("is_keeper").alias("pass_neardup")
    )
    flagged = flagged.join(clusters, "doc_id")

    contaminated = (
        ngram_decontaminate(
            docs, holdout, text_col, min_overlap=contam_overlap
        )
        .select(F.col("train_doc").alias("doc_id"))
        .distinct()
        .withColumn("__contam", F.lit(1))
    )
    flagged = flagged.join(contaminated, "doc_id", "left").withColumn(
        "pass_clean", F.col("__contam").isNull().cast("int")
    ).drop("__contam")

    q = quality_score(docs, text_col).select("doc_id", "quality_score")
    flagged = flagged.join(q, "doc_id").withColumn(
        "pass_quality", (F.col("quality_score") >= min_quality).cast("int")
    )

    if max_top_bigram_share is not None:
        from ..operators.textstats import repetition_stats

        rep = repetition_stats(docs, text_col).select(
            "doc_id", "top_bigram_share"
        )
        flagged = flagged.join(rep, "doc_id").withColumn(
            "pass_repetition",
            (F.col("top_bigram_share") <= max_top_bigram_share).cast("int"),
        ).drop("top_bigram_share")
    if max_pii_hits is not None:
        from ..operators.textstats import PII_PATTERNS, pii_counts

        total_pii = sum(
            (F.col(f"n_{name}") for name in PII_PATTERNS), F.lit(0)
        )
        pii = pii_counts(docs, text_col).select(
            "doc_id", total_pii.alias("__pii_total")
        )
        flagged = flagged.join(pii, "doc_id").withColumn(
            "pass_pii", (F.col("__pii_total") <= max_pii_hits).cast("int")
        ).drop("__pii_total")
    if max_boilerplate_frac is not None:
        from ..operators.textstats import boilerplate_signals

        bp = boilerplate_signals(docs, text_col).select(
            "doc_id", "boilerplate_frac"
        )
        flagged = flagged.join(bp, "doc_id").withColumn(
            "pass_boilerplate",
            (F.col("boilerplate_frac") <= max_boilerplate_frac).cast("int"),
        ).drop("boilerplate_frac")
    if max_dup_frac is not None:
        from ..operators.dedup import dup_span_stats

        ds = dup_span_stats(docs, text_col).select("doc_id", "dup_frac")
        flagged = flagged.join(ds, "doc_id").withColumn(
            "pass_dupspan",
            (F.col("dup_frac") <= max_dup_frac).cast("int"),
        ).drop("dup_frac")
    if lm_ref is not None:
        from ..operators.textmodels import bigram_lm_counts, lm_perplexity

        lm = lm_perplexity(
            docs, bigram_lm_counts(lm_ref, text_col), text_col
        ).select("doc_id", "ppl")
        flagged = flagged.join(lm, "doc_id").withColumn(
            "pass_ppl",
            (F.col("ppl").isNull() | (F.col("ppl") <= max_ppl)).cast("int"),
        ).drop("ppl")
    if nb_model is not None:
        from ..operators.textmodels import nb_score

        nb = nb_score(docs, nb_model, text_col).select("doc_id", "log_odds")
        flagged = flagged.join(nb, "doc_id").withColumn(
            "pass_classifier",
            (F.col("log_odds") >= min_nb_log_odds).cast("int"),
        ).drop("log_odds")
    if gopher_filter:
        from ..operators.textstats import gopher_repetition

        gr = gopher_repetition(docs, text_col).select(
            "doc_id",
            F.col("gopher_repetition_pass").alias("pass_gopher"),
        )
        flagged = flagged.join(gr, "doc_id")
    if dsir_target is not None:
        from ..operators.dsir import (
            dsir_gumbel_topk,
            dsir_logratio,
            dsir_weights,
        )

        model = dsir_logratio(dsir_target, docs, text_col)
        sel = dsir_gumbel_topk(
            dsir_weights(docs, model, text_col),
            k=dsir_keep,
            full_rank=False,
        ).select("doc_id", F.lit(1).alias("__dsir"))
        flagged = flagged.join(sel, "doc_id", "left").withColumn(
            "pass_dsir", F.coalesce("__dsir", F.lit(0)).cast("int")
        ).drop("__dsir")
    if corpus_vecs is not None:
        from ..operators.similarity import embedding_decontaminate

        sem = (
            embedding_decontaminate(
                corpus_vecs, holdout_vecs, semantic_contam_threshold
            )
            .select(F.col("vec_id").alias("doc_id"))
            .distinct()
            .withColumn("__semhit", F.lit(1))
        )
        flagged = flagged.join(sem, "doc_id", "left").withColumn(
            "pass_semclean", F.col("__semhit").isNull().cast("int")
        ).drop("__semhit")
    return flagged


def run_corpus_pipeline(
    docs: DataFrame,
    holdout: DataFrame,
    out_path: str,
    text_col: str = "text",
    minhash_threshold: float = 0.5,
    contam_overlap: float = 0.2,
    min_quality: float = 0.4,
    n_shards: int = 16,
    portable_hashes: bool = False,
    max_top_bigram_share: float | None = None,
    max_pii_hits: int | None = None,
    max_boilerplate_frac: float | None = None,
    max_dup_frac: float | None = None,
    lm_ref: DataFrame | None = None,
    max_ppl: float | None = None,
    nb_model: dict | None = None,
    min_nb_log_odds: float = 0.0,
    corpus_vecs: DataFrame | None = None,
    holdout_vecs: DataFrame | None = None,
    semantic_contam_threshold: float = 0.95,
    canonicalize: str | None = None,
    line_dedup_mode: str | None = None,
    redact: bool = False,
    gopher_filter: bool = False,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
    neardup_mode: str = "star",
    neardup_narrow_verify: bool | None = None,
) -> CorpusPipelineResult:
    """Run the full preprocessing pipeline and export training shards.

    Returns per-stage pass counts and the final retained count, all
    measured by ONE Observation during the export write — no extra
    actions, no re-runs of upstream stages (the reference's
    count-per-stage pattern re-triggers the whole plan each time,
    SURVEY §4 anti-pattern #1). The stage set is whatever flag_corpus
    produced (optional repetition/PII stages included when their
    thresholds are set); stats keys follow the flag names.

    Cache hygiene (r8): the whole build-write-observe cycle runs inside
    a :func:`~..operators.dedup.dedup_cache_scope` — every intermediate
    the stages pin (canonicalized corpus, line-deduped text, shingle/
    band tables) is unpersisted before this returns, because nothing
    lazy escapes: the export is written and the stats dict is
    materialized in here. Callers composing :func:`flag_corpus`
    directly still manage their own scope (its result IS lazy).
    """
    from ..operators.dedup import dedup_cache_scope

    with dedup_cache_scope():
        flagged = flag_corpus(
            docs,
            holdout,
            text_col,
            minhash_threshold,
            contam_overlap,
            min_quality,
            portable_hashes,
            max_top_bigram_share,
            max_pii_hits,
            max_boilerplate_frac,
            max_dup_frac,
            lm_ref,
            max_ppl,
            nb_model,
            min_nb_log_odds,
            corpus_vecs,
            holdout_vecs,
            semantic_contam_threshold,
            canonicalize,
            line_dedup_mode,
            redact=redact,
            gopher_filter=gopher_filter,
            dsir_target=dsir_target,
            dsir_keep=dsir_keep,
            neardup_mode=neardup_mode,
            neardup_narrow_verify=neardup_narrow_verify,
        )
        flag_cols = [c for c in flagged.columns if c.startswith("pass_")]
        keep_all = None
        for c in flag_cols:
            cond = F.col(c) == 1
            keep_all = cond if keep_all is None else (keep_all & cond)
        obs = Observation("corpus_pipeline")
        flagged = flagged.observe(
            obs,
            F.count(F.lit(1)).alias("n_input"),
            *[F.sum(c).alias(f"n_{c}") for c in flag_cols],
            F.sum(keep_all.cast("int")).alias("n_retained"),
        )
        survivors = flagged.where(keep_all).drop(*flag_cols)
        write_training_shards(survivors, out_path, "doc_id", n_shards)
        try:
            stats = dict(obs.get)
        except Exception:
            # when EVERY doc is rejected, AQE's PropagateEmptyRelation can
            # replace the filtered-empty subtree with an empty LocalRelation,
            # wiping the CollectMetrics node — obs.get then dies in toPyRow
            # (observed: AssertionError for an all-rejected corpus). The
            # stats still matter most on exactly that run ("why did
            # everything get filtered?"), so recompute them with one direct
            # aggregate over the flagged frame.
            row = (
                flagged.agg(
                    F.count(F.lit(1)).alias("n_input"),
                    *[F.sum(c).alias(f"n_{c}") for c in flag_cols],
                    F.sum(keep_all.cast("int")).alias("n_retained"),
                )
                .first()
                .asDict()
            )
            stats = {k: (0 if v is None else v) for k, v in row.items()}
        # r13 observability: which verify path the near-dup stage actually
        # took. The auto decision (narrow_verify=None) runs its counts at
        # flag-plan BUILD time (minhash_lsh_pairs body), so by now the
        # module-level record is this run's decision; an explicit True/False
        # never writes one, so report the override instead. A separate
        # result field, NOT a stats entry — stats values are integer counts
        # by contract (gates int()-coerce every one).
        from ..operators import dedup as _dd

        decision = (
            dict(_dd.LAST_NARROW_VERIFY_DECISION)
            if neardup_narrow_verify is None
            and _dd.LAST_NARROW_VERIFY_DECISION is not None
            else {"narrow": neardup_narrow_verify, "override": True}
        )
        return CorpusPipelineResult(
            out_path=out_path, stats=stats, narrow_verify_decision=decision
        )
