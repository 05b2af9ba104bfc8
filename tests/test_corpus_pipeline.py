from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from mapping_timeseries_spark.plans.corpus_pipeline import (
    flag_corpus,
    run_corpus_pipeline,
)

from .conftest import job_group

BASE = (
    "the quick brown fox jumps over a lazy dog while data engines process "
    "streams of tokens and the careful reader checks every invariant with "
    "patience and some healthy skepticism about benchmark results"
)
OTHER = (
    "an entirely different document about distributed query planning and "
    "the cost of shuffles where partitions spill to disk and the optimizer "
    "chooses a broadcast join over a sort merge join for small tables"
)
BENCH_ITEM = "what is the tallest mountain on earth measured from sea level"


def _corpus(spark):
    near_dup = BASE.replace("patience", "speed")  # 1-token mutation
    contaminated = (
        "some scraped page full of quiz answers saying "
        + BENCH_ITEM
        + " and then rambling on about other topics for a while longer"
    )
    low_quality = "x x x x x"
    rows = [
        (0, BASE, "en"),
        (1, BASE, "en"),            # exact duplicate -> dropped
        (2, near_dup, "en"),        # near duplicate -> dropped
        (3, contaminated, "en"),    # embeds the benchmark item -> dropped
        (4, low_quality, "en"),     # fails the quality floor -> dropped
        (5, OTHER, "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _holdout(spark):
    return spark.createDataFrame([(900, BENCH_ITEM)], "doc_id long, text string")


def test_flag_corpus_attributes_rejections(spark):
    flags = {
        r["doc_id"]: (
            r["pass_exact"], r["pass_neardup"], r["pass_clean"], r["pass_quality"]
        )
        for r in flag_corpus(_corpus(spark), _holdout(spark)).collect()
    }
    assert flags[0] == (1, 1, 1, 1)
    assert flags[1][0] == 0          # exact-dup loser
    assert flags[1][1] == 0          # and not the cluster keeper either
    assert flags[2][1] == 0          # near-dup loser
    assert flags[3][2] == 0          # contaminated
    assert flags[3][0] == 1 and flags[3][3] == 1  # ...but fails ONLY that stage
    assert flags[4][3] == 0          # low quality
    assert flags[5] == (1, 1, 1, 1)


def test_corpus_pipeline_optional_repetition_and_pii_stages(spark, tmp_path):
    """With thresholds set, the repetition and PII stages join the flag
    set, their counts appear in the stats, and offending docs are
    rejected; without thresholds the base contract is unchanged."""
    rows = [
        (0, BASE, "en"),
        (1, "buy now " * 30, "en"),                       # boilerplate
        # PII-laden but otherwise unrelated prose (must not near-dup doc 3)
        (2, "please send the quarterly finance report to a@b.com or "
            "c@d.org before the friday deadline and copy the operations "
            "team on the final version", "en"),
        (3, OTHER, "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "shards_opt")
    res = run_corpus_pipeline(
        docs,
        _holdout(spark),
        out,
        max_top_bigram_share=0.3,
        max_pii_hits=1,
        n_shards=2,
    )
    assert res.stats["n_pass_repetition"] == 3  # doc 1 rejected
    assert res.stats["n_pass_pii"] == 3         # doc 2 rejected (2 emails > 1)
    assert res.stats["n_retained"] == 2
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [0, 3]


def test_corpus_pipeline_optional_boilerplate_stage(spark, tmp_path):
    """Across-doc template detection: 5 distinct docs sharing a footer
    are rejected by the boilerplate stage (corpus-frequent trigrams)
    even though none of them trips WITHIN-doc repetition or near-dup."""
    footer = "subscribe to our newsletter for weekly updates and offers"
    bodies = [
        "solar panels convert photons into current through silicon junctions",
        "medieval scribes copied manuscripts by candlelight in cold rooms",
        "tidal forces stretch orbiting moons and heat their icy interiors",
        "sourdough fermentation depends on wild yeast and lactic bacteria",
        "compilers lower abstract syntax trees into optimized machine code",
    ]
    rows = [(i, f"{body} {footer}", "en") for i, body in enumerate(bodies)]
    rows += [(10, BASE, "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "shards_bp")
    res = run_corpus_pipeline(
        docs,
        _holdout(spark),
        out,
        max_boilerplate_frac=0.15,
        n_shards=2,
    )
    # footer docs: 7 shared footer trigrams over ~16 grams each (> 0.15);
    # BASE has no corpus-frequent trigrams at all
    assert res.stats["n_pass_boilerplate"] == 1
    assert res.stats["n_retained"] == 1
    got = [r["doc_id"] for r in spark.read.parquet(out).collect()]
    assert got == [10]


def test_run_corpus_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "shards")
    res = run_corpus_pipeline(
        _corpus(spark), _holdout(spark), out, n_shards=4
    )
    assert res.stats["n_input"] == 6
    assert res.stats["n_pass_exact"] == 5      # doc 1 loses
    assert res.stats["n_pass_neardup"] == 4    # docs 1, 2 lose
    assert res.stats["n_pass_clean"] == 5      # doc 3 loses
    assert res.stats["n_pass_quality"] == 5    # doc 4 loses
    assert res.stats["n_retained"] == 2
    got = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 5]
    assert any(e.startswith("shard=") for e in os.listdir(out))
    # stats came from the export's single materialization: flags are gone
    # from the written output, quality_score is retained
    assert "pass_exact" not in got.columns and "quality_score" in got.columns


#: Spark jobs one run_corpus_pipeline call on the _corpus/_holdout
#: fixture may start (local[4], 4 shuffle partitions). Measured: 51
#: while decontamination built a bitmap pre-filter in front of its
#: broadcast join and re-shingled the corpus; 41-42 once the join alone
#: decides membership and the train side reads the MinHash stage's
#: pinned sets. The export action went from 22 jobs to 12-13.
CORPUS_PIPELINE_JOB_BUDGET = 45


def test_run_corpus_pipeline_job_budget(spark, tmp_path):
    with job_group(spark.sparkContext, "corpus-pipeline-budget") as jobs:
        res = run_corpus_pipeline(
            _corpus(spark), _holdout(spark), str(tmp_path / "shards"),
            n_shards=4,
        )
    assert res.stats["n_retained"] == 2
    assert len(jobs) <= CORPUS_PIPELINE_JOB_BUDGET, len(jobs)


def _sql_executions(spark) -> list:
    """The SQL executions the status store holds, after the listener bus
    has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [ex.apply(i) for i in range(ex.size())]


def test_run_corpus_pipeline_shingles_the_corpus_once(spark, tmp_path):
    """One 2-shingle pass per corpus operation: the MinHash stage and
    the decontamination train side read one pinned set frame. Across
    every SQL execution of the operation, the tokens(...) projections
    over the docs scan are that one pass, and the export plan reads it.
    A projection is over the holdout scan when it trims the holdout's
    own text attribute; the docs side may appear under re-aliased
    attributes (the flag joins reuse the docs subtree)."""
    holdout = _holdout(spark)
    holdout_text = re.search(
        r"\btext#(\d+)",
        holdout._jdf.queryExecution().analyzed().output().toString(),
    ).group(1)
    toks = re.compile(r"trim\(text#(\d+), None\).* AS __toks#(\d+)")

    def docs_passes(plan: str) -> set[str]:
        return {t for text, t in toks.findall(plan) if text != holdout_text}

    before = max((e.executionId() for e in _sql_executions(spark)), default=-1)
    run_corpus_pipeline(
        _corpus(spark), holdout, str(tmp_path / "shards"), n_shards=4
    )
    plans = [
        e.physicalPlanDescription()
        for e in _sql_executions(spark)
        if e.executionId() > before
    ]
    export = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(export) == 1
    in_export = docs_passes(export[0])
    assert len(in_export) == 1
    assert set().union(*map(docs_passes, plans)) == in_export


def test_run_corpus_pipeline_releases_pins(spark, tmp_path):
    """r8 cache hygiene: run_corpus_pipeline owns a dedup_cache_scope —
    nothing lazy escapes it (export written, stats materialized
    inside), so every stage-pinned intermediate (canonicalized corpus,
    line-deduped text, shingle/band tables) must be unpersisted by the
    time it returns. A long-lived service looping over corpora
    otherwise accumulates pinned RDDs until eviction thrash."""
    import time as _time

    # eager-clean cache left by earlier tests in this shared session;
    # earlier UNSCOPED flag_corpus calls may additionally have live
    # localCheckpoint RDDs that clearCache cannot see (documented
    # behavior for direct flag_corpus use) — so the assertion below is
    # DELTA-based: the pipeline call must add nothing to the baseline.
    spark.catalog.clearCache()
    _time.sleep(1)  # async unpersist settle
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    res = run_corpus_pipeline(
        _corpus(spark),
        _holdout(spark),
        str(tmp_path / "shards"),
        n_shards=2,
        canonicalize="NFC",
        line_dedup_mode="keep_first",
    )
    assert res.stats["n_input"] == 6
    # unpersist is asynchronous: entries linger in getPersistentRDDs
    # for a moment after the scope exit (same caveat as the cache-scope
    # test in test_llm_ops) — poll briefly before judging
    leaked = set()
    for _ in range(40):
        leaked = (
            set(dict(spark.sparkContext._jsc.getPersistentRDDs())) - before
        )
        if not leaked:
            break
        _time.sleep(0.25)
    assert leaked == set(), f"pinned RDDs leaked by the pipeline: {leaked}"


def test_corpus_pipeline_langless_and_all_rejected(spark, tmp_path):
    """Two input-shape edges: a bare (doc_id, text) corpus (no lang
    column) must run — the quality stage's lang passthrough is optional
    — and a corpus where EVERY doc is rejected must still return stats
    (AQE's empty-relation propagation wipes the CollectMetrics node, so
    obs.get dies; the pipeline recomputes directly on that path)."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"word{i}x{j}" for j in range(15))) for i in range(6)],
        "doc_id long, text string",
    )
    hold = spark.createDataFrame([(99, "held out item")], "doc_id long, text string")
    ok = run_corpus_pipeline(
        docs, hold, str(tmp_path / "langless"), min_quality=0.2, n_shards=2
    )
    assert ok.stats["n_retained"] == 6

    docs_lang = docs.withColumn("lang", docs.doc_id.cast("string"))
    rejected = run_corpus_pipeline(
        docs_lang, hold, str(tmp_path / "allrej"), min_quality=0.99, n_shards=2
    )
    assert rejected.stats["n_input"] == 6
    assert rejected.stats["n_retained"] == 0
    assert rejected.stats["n_pass_quality"] == 0

    # reserved namespace: pre-existing pass_* columns are refused loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pass_"):
        run_corpus_pipeline(
            docs.withColumn("pass_manual", docs.doc_id % 2),
            hold, str(tmp_path / "ns"),
        )


def test_corpus_pipeline_model_stages(spark, tmp_path):
    """The three r5 model/substring stages: a copied passage trips
    pass_dupspan, out-of-reference gibberish trips pass_ppl (LM trained
    on a trusted reference corpus), and a trained NB classifier rejects
    spam-vocabulary docs — each rejection attributed to exactly its own
    stage; a mis-specified perplexity stage is refused."""
    import pytest

    from mapping_timeseries_spark.operators.textmodels import nb_train

    passage = "shared licensing paragraph that recurs across scraped pages verbatim"
    spammy = "buy cheap pills online now with free shipping deals"
    rows = [
        (0, BASE, "en"),
        (1, OTHER, "en"),
        # two docs embedding the same passage -> dup_frac high in both
        (2, passage + " plus a little extra context of its own", "en"),
        (3, "different intro words then " + passage, "en"),
        # gibberish: every bigram unseen by the reference LM -> ppl near
        # the k*V smoothing ceiling (~60 here), far above in-domain ~20
        (4, "zorp blick quent mizzle fro gnash plerb wost", "en"),
        # spam vocabulary for the classifier stage
        (5, spammy + " " + spammy, "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    lm_ref = spark.createDataFrame(
        [(100, BASE), (101, OTHER)], "doc_id long, text string"
    )
    nb_model = nb_train(
        spark.createDataFrame(
            [(200, BASE, 1), (201, OTHER, 1), (202, spammy, 0),
             (203, "cheap pills buy now free deals", 0)],
            "doc_id long, text string, y int",
        ),
        "y",
    )
    out = str(tmp_path / "shards_model")
    res = run_corpus_pipeline(
        docs,
        _holdout(spark),
        out,
        max_dup_frac=0.5,
        lm_ref=lm_ref,
        max_ppl=40.0,
        nb_model=nb_model,
        n_shards=2,
    )
    s = res.stats
    assert s["n_input"] == 6
    # stages overlap by design (flag semantics, not a cascade): the
    # reference LM is tiny, so EVERY out-of-reference doc (2,3,4,5)
    # saturates near the k*V smoothing ceiling (~54 here) while
    # in-domain docs score ~18 — the ppl stage rejects all four, and
    # dupspan/classifier still attribute their own rejections
    assert s["n_pass_dupspan"] == 4       # docs 2 and 3 rejected
    assert s["n_pass_ppl"] == 2           # only in-reference 0 and 1 pass
    assert s["n_pass_classifier"] == 5    # doc 5 rejected
    assert s["n_retained"] == 2           # 0 and 1 survive everything
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [0, 1]

    with pytest.raises(ValueError, match="BOTH lm_ref and max_ppl"):
        run_corpus_pipeline(
            docs, _holdout(spark), out + "_bad", max_ppl=10.0
        )


def test_corpus_pipeline_semantic_contamination_stage(spark, tmp_path):
    """Paraphrased benchmark leakage: a doc whose EMBEDDING sits next to
    a holdout item is rejected by pass_semclean even though its TEXT
    shares no n-grams with the holdout (the lexical pass_clean stage
    keeps it); docs without a vector pass; a half-specified stage is
    refused."""
    import numpy as np
    import pytest

    rng = np.random.default_rng(5)
    d = 12

    def unit(v):
        return (v / np.linalg.norm(v)).tolist()

    hvec = rng.normal(size=d)
    rows = [
        (0, BASE, "en"),
        (1, OTHER, "en"),
        # paraphrase: lexically clean (no shared n-grams with the
        # holdout text), semantically adjacent (embedding ~ holdout's)
        (2, "peak elevation measured relative to the ocean surface", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    corpus_vecs = spark.createDataFrame(
        [
            (0, unit(rng.normal(size=d))),
            (2, unit(hvec + rng.normal(scale=0.02, size=d))),
            # doc 1 has NO vector -> passes by construction
        ],
        "vec_id long, embedding array<double>",
    )
    holdout_vecs = spark.createDataFrame(
        [(900, unit(hvec))], "vec_id long, embedding array<double>"
    )
    out = str(tmp_path / "shards_sem")
    res = run_corpus_pipeline(
        docs,
        _holdout(spark),
        out,
        corpus_vecs=corpus_vecs,
        holdout_vecs=holdout_vecs,
        semantic_contam_threshold=0.95,
        n_shards=2,
    )
    s = res.stats
    assert s["n_pass_clean"] == 3       # lexical stage sees nothing
    assert s["n_pass_semclean"] == 2    # doc 2 caught semantically
    assert s["n_retained"] == 2
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [0, 1]

    with pytest.raises(ValueError, match="BOTH corpus_vecs"):
        run_corpus_pipeline(
            docs, _holdout(spark), out + "_bad", corpus_vecs=corpus_vecs
        )


def test_corpus_pipeline_canonicalize_pre_step(spark, tmp_path):
    """With canonicalize='NFC', a decomposed-accent variant of an
    existing doc is caught by exact dedup (it evades every stage
    without it), and a ligature/space-variant copy of the benchmark
    item is caught by decontamination."""
    composed = (
        "l'école est ouverte aujourd'hui pour tout le monde sans exception "
        "ni réservation particulière"
    )
    decomposed = composed.replace("\u00e9", "e\u0301")
    rows = [
        (0, BASE, "en"),
        (1, composed, "fr"),
        (2, decomposed, "fr"),   # same text, different encoding
        (3, OTHER, "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "shards_canon")

    # without canonicalization the variant passes exact dedup
    res0 = run_corpus_pipeline(docs, _holdout(spark), out + "0", n_shards=2)
    assert res0.stats["n_pass_exact"] == 4

    res = run_corpus_pipeline(
        docs, _holdout(spark), out, canonicalize="NFC", n_shards=2
    )
    assert res.stats["n_pass_exact"] == 3   # doc 2 now an exact dup of 1
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 3]


def test_corpus_pipeline_line_dedup_pre_step(spark, tmp_path):
    """With line_dedup_mode='keep_first', a boilerplate banner line
    repeated across docs survives only at its first occurrence: later
    docs' text is rewritten WITHOUT the banner before any stage, so two
    docs whose unique content is identical but whose banners differ
    become exact duplicates (caught by pass_exact), and the exported
    text is the cleaned text."""
    banner_a = "accept all cookies to continue reading this site"
    banner_b = "subscribe to our newsletter for updates and offers"
    rows = [
        (0, f"{banner_a}\n{BASE}", "en"),
        # same body, different banner: the BASE line dedups away here
        # (doc 0 owns its first occurrence), banner_b survives as this
        # doc's own first occurrence
        (1, f"{banner_b}\n{BASE}", "en"),
        # nothing but repeats: both banners and BASE are owned by
        # earlier docs, so the cleaned text is empty
        (2, f"{banner_a}\n{BASE}\n{banner_b}", "en"),
        (3, OTHER, "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "shards_linededup")
    res = run_corpus_pipeline(
        docs,
        _holdout(spark),
        out,
        line_dedup_mode="keep_first",
        n_shards=2,
    )
    exported = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    # doc 0 keeps banner_a (first occurrence), doc 1 keeps banner_b
    # (BASE stripped — doc 0 owns it), doc 2 lost every line (both
    # banners and BASE are repeats) and is then REJECTED by the quality
    # floor on its now-empty text — the boilerplate-only page is
    # exactly what the stage stack should drop
    assert exported[0] == f"{banner_a}\n{BASE}"
    assert exported[1] == banner_b
    assert 2 not in exported
    assert exported[3] == OTHER
    assert res.stats["n_input"] == 4 and res.stats["n_retained"] == 3
    assert res.stats["n_pass_quality"] == 3


def test_corpus_pipeline_redact_and_gopher_stages(spark, tmp_path):
    """redact=True rewrites PII before every stage (the export carries
    placeholders); gopher_filter=True rejects the degenerate-repetition
    doc via the published thresholds while leaving prose alone."""
    looping = " ".join(["w1 w2 w3 w4 w5"] * 6)  # every 5-gram duplicated
    # pad the prose docs past ~50 words: Gopher's thresholds presume a
    # min-length prefilter — a singleton 4-gram in a 27-word doc
    # already covers ~17% of its characters (> the 0.16 bound)
    pad_a = " ".join(f"filler{i} gram{i}" for i in range(15))
    pad_b = " ".join(f"unique{i} token{i}" for i in range(15))
    rows = [
        (0, BASE + " " + pad_a, "en"),
        (1, OTHER + " write to team.lead@example.com for details", "en"),
        (2, looping, "en"),
        (3, BASE.replace("patience", "care") + " contact 10.1.2.3 " + pad_b,
         "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "shards_redact_gopher")
    res = run_corpus_pipeline(
        docs,
        _holdout(spark),
        out,
        redact=True,
        gopher_filter=True,
        n_shards=2,
    )
    exported = {
        r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
    }
    # the looping doc fails ONLY the gopher stage (it is unique text,
    # decent length, no PII)
    assert 2 not in exported
    assert res.stats["n_pass_gopher"] == 3
    # exported text carries placeholders, never the raw PII
    assert "<EMAIL>" in exported[1] and "team.lead" not in exported[1]
    assert "<IP>" in exported[3] and "10.1.2.3" not in exported[3]
    assert res.stats["n_retained"] == len(exported)


def test_corpus_pipeline_dsir_stage(spark, tmp_path):
    """dsir_target + dsir_keep keeps only the Gumbel-top-k docs drawn
    toward the target's hashed-n-gram distribution; the stage composes
    with the base flags (an exact-duplicate selected by DSIR is still
    dropped by pass_exact)."""
    import pytest as _pytest

    target = spark.createDataFrame(
        [(100, BASE), (101, BASE.replace("fox", "hare"))],
        "doc_id long, text string",
    )
    rows = [
        (0, BASE, "en"),
        (1, BASE, "en"),  # exact duplicate of 0
        (2, OTHER, "en"),
        (3, "query planning and shuffle costs in distributed engines "
            "with broadcast joins and spilled partitions and optimizers", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "shards_dsir")
    res = run_corpus_pipeline(
        docs, _holdout(spark), out, dsir_target=target, dsir_keep=2,
        n_shards=2,
    )
    assert res.stats["n_pass_dsir"] == 2
    exported = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # target-like docs are 0 and 1; DSIR picks both, exact-dedup then
    # drops doc 1 — independent flags compose
    assert exported <= {0, 1}
    assert res.stats["n_retained"] == len(exported)

    # half-specified stage fails loudly
    with _pytest.raises(ValueError, match="BOTH dsir_target and dsir_keep"):
        flag_corpus(docs, _holdout(spark), dsir_target=target)
