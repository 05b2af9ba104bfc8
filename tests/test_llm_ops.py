from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapping_timeseries_spark.materialize import dedup_cache_scope, scoped_pin
from mapping_timeseries_spark.operators.dedup import (
    content_hash_dedup,
    exact_dedup,
    line_dedup,
    minhash_lsh_pairs,
    ngram_decontaminate,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from mapping_timeseries_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    parse_wav,
    synth_wav,
)
from mapping_timeseries_spark.operators.similarity import (
    ann_bucketed_topk,
    cosine_topk,
    embedding_near_dups,
    semantic_dedup,
)
from mapping_timeseries_spark.sources.readers import read_table
from mapping_timeseries_spark.operators.textstats import quality_score, text_stats

from .conftest import job_group, new_persisted_rdds, persisted_rdd_ids

WORDS = [
    "data", "table", "row", "batch", "query", "spark", "join", "merge",
    "scan", "filter", "sort", "hash", "agg", "window", "stream", "value",
]


@pytest.fixture(scope="module")
def noisy_docs(spark):
    """Corpus with planted near-duplicates: each base doc gets a mutated
    twin (a few words substituted) and an unrelated doc."""
    rng = np.random.default_rng(17)
    rows = []
    doc_id = 0
    for base in range(30):
        words = list(rng.choice(WORDS, 40))
        rows.append((doc_id, " ".join(words), "en")); doc_id += 1
        twin = list(words)
        for _ in range(3):  # ~7% token mutation -> Jaccard stays high
            twin[int(rng.integers(0, 40))] = str(rng.choice(WORDS))
        rows.append((doc_id, " ".join(twin), "en")); doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dedup_cache_scope_releases_pins(spark, noisy_docs):
    """The enforceable cache contract (r4 verdict wart): inside a
    dedup_cache_scope the operators' persisted intermediates are live;
    after exit, no RDD persisted inside the scope is left — a pipeline
    wrapping each corpus pass leaks nothing. Results inside the scope
    equal the bare-operator results. Compared by RDD id, not by count:
    the ContextCleaner may retire localCheckpoint RDDs of earlier tests
    while this one runs."""
    spark.catalog.clearCache()
    before = persisted_rdd_ids(spark)
    with dedup_cache_scope():
        scoped = sorted(
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_pairs(noisy_docs, threshold=0.6).collect()
        )
        assert persisted_rdd_ids(spark) - before  # pins live inside
        # nested scope: inner pins release at inner exit only
        with dedup_cache_scope():
            simhash_near_dups(noisy_docs, max_hamming=6).collect()
    assert persisted_rdd_ids(spark) - before == set()
    bare = sorted(
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(noisy_docs, threshold=0.6).collect()
    )
    assert scoped == bare
    spark.catalog.clearCache()  # release the bare run's pins


def test_cache_scope_releases_boilerplate_pin(spark, noisy_docs):
    """boilerplate_signals pins its gram-hash frame through the dedup
    cache scope, so nothing it persisted outlives the scope."""
    from mapping_timeseries_spark.operators.textstats import boilerplate_signals

    before = persisted_rdd_ids(spark)
    with dedup_cache_scope():
        assert boilerplate_signals(noisy_docs).count() == 60
        assert persisted_rdd_ids(spark) - before  # the pin is live inside
    assert persisted_rdd_ids(spark) - before == set()


def test_cache_scope_teardown_survives_failed_release(spark):
    """One failed unpersist must not abort the rest of the scope
    teardown — every remaining pin is still released."""
    events = []

    class FakeFrame:
        def __init__(self, name, explode):
            self.name, self.explode = name, explode

        def persist(self):
            return self

        def unpersist(self):
            if self.explode:
                raise RuntimeError("gateway torn down")
            events.append(f"unpersist:{self.name}")
            return self

    with dedup_cache_scope():
        scoped_pin(FakeFrame("bad", explode=True))
        scoped_pin(FakeFrame("good", explode=False))
    assert "unpersist:good" in events, "release after the failure skipped"


def test_cache_scope_releases_pins_when_consumer_raises(spark):
    """A consumer that raises inside dedup_cache_scope still gets every
    pin released on the way out: the frame is no longer cached and no
    RDD persisted inside the scope is left."""
    before = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="consumer failed"):
        with dedup_cache_scope():
            df = scoped_pin(spark.range(1000).selectExpr("id", "id * id AS sq"))
            assert df.count() == 1000
            assert df.is_cached
            assert persisted_rdd_ids(spark) - before
            raise RuntimeError("consumer failed")
    assert not df.is_cached
    assert persisted_rdd_ids(spark) - before == set()


def test_ngram_decontaminate_planted_containment(spark):
    """A long training doc embedding a benchmark item verbatim scores
    containment 1.0 (where symmetric Jaccard would dilute it); partial
    quotes score their exact shingle fraction; unrelated docs are absent."""
    bench = spark.createDataFrame(
        [(100, "what is the capital of france"),
         (101, "compute the sum of one and two")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # benchmark item 100 pasted inside a longer page (long enough
            # that symmetric Jaccard 5/n_bigrams drops under the 0.3 bar)
            (1, "intro text here what is the capital of france more filler "
                "words about completely different subjects like storage "
                "formats shuffle services and adaptive execution plans"),
            # quotes 3 of item 101's 6 bigrams: "compute the", "the sum", "sum of"
            (2, "please compute the sum of something else entirely today"),
            (3, "completely unrelated content about spark joins and shuffles"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["train_doc"], r["holdout_doc"]): (r["shared_ngrams"], r["overlap"])
        for r in ngram_decontaminate(train, bench, min_overlap=0.2).collect()
    }
    assert got[(1, 100)] == (5, 1.0)
    assert got[(2, 101)] == (3, 0.5)
    assert not any(t == 3 for t, _h in got)
    # symmetric Jaccard on the same pair stays below the near-dup bar --
    # the asymmetric containment is what catches leakage
    j = ngram_jaccard_pairs(train.unionByName(bench), threshold=0.3).collect()
    assert not any({r["doc_a"], r["doc_b"]} == {1, 100} for r in j)


def test_ngram_decontaminate_short_holdout_unmatchable(spark):
    """Holdout docs with fewer than n tokens yield no shingles and cannot
    be flagged (no divide-by-zero, no rows)."""
    bench = spark.createDataFrame([(9, "word")], "doc_id long, text string")
    train = spark.createDataFrame([(1, "word word word")], "doc_id long, text string")
    assert ngram_decontaminate(train, bench).count() == 0


def test_ngram_decontaminate_exact_containment_sf0001(spark):
    """Every row of the hashed broadcast join equals holdout containment
    over STRING 2-shingle sets computed in Python: the join on the
    64-bit shingle hash is the whole membership test, with no pre-filter
    in front of it, and it neither drops nor invents a pair."""
    from mapping_timeseries_spark.operators.dedup import _shingled

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # holdout: a handful of real docs (guaranteed contamination) -- the
    # registry uses the same construction
    holdout = docs.where(F.col("doc_id") % 100 == 7).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    got = {
        (r["train_doc"], r["holdout_doc"]): (
            r["shared_ngrams"], r["holdout_ngrams"], r["overlap"]
        )
        for r in ngram_decontaminate(
            docs, holdout, "text", n=2, min_overlap=0.2
        ).collect()
    }

    def string_sets(frame):
        return {
            r["doc_id"]: set(r["shingles"])
            for r in _shingled(frame, "text", 2).collect()
        }

    train_sets, holdout_sets = string_sets(docs), string_sets(holdout)
    want = {}
    for h, hs in holdout_sets.items():
        if not hs:
            continue  # no shingles: nothing to contain
        for t, ts in train_sets.items():
            shared = len(ts & hs)
            if shared / len(hs) >= 0.2:
                want[(t, h)] = (shared, len(hs), shared / len(hs))
    assert got == want and got  # exact, non-empty


def test_ngram_decontaminate_plan_starts_no_jobs(spark):
    """Building the decontamination plan runs no Spark job: everything
    happens when an action consumes it, so explain/audit stays
    action-free and a timed leg times the work where it runs."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    holdout = spark.createDataFrame(
        [(9, "alpha beta gamma")], "doc_id long, text string"
    )
    with job_group(spark.sparkContext, "decontam-lazy-probe") as jobs:
        df = ngram_decontaminate(docs, holdout, min_overlap=0.2)
    assert jobs == []
    # and the plan still evaluates correctly when consumed
    got = {(r["train_doc"], r["holdout_doc"]) for r in df.collect()}
    assert got == {(1, 9)}


def test_exact_dedup_with_real_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    rows = {r["keeper_doc_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert rows == {1: 2, 3: 1}
    hashed = {r["keeper_doc_id"]: r["n_copies"] for r in content_hash_dedup(docs).collect()}
    assert hashed == {1: 2, 3: 1}


def test_ngram_jaccard_bruteforce_fuzz_adversarial_vocab(spark):
    """Completeness/exactness of the PPJoin filter stack against a
    brute-force all-pairs oracle on an ADVERSARIAL fixture: a 30-word
    vocabulary over 80 docs of wildly varying length, so prefixes
    collide constantly and the length/pair-grouped-positional bounds do
    real work at several thresholds. Guards the r6 refinement (grouped
    c + min(|A|-maxPosA, |B|-maxPosB) bound): any over-pruning of a
    true pair fails here before it could reach the driver gate."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (
            i,
            " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 25))
            ),
        )
        for i in range(60)
    ]
    # planted near-dup twins: one word substituted / one appended —
    # true pairs exist at every tested threshold, not only collisions
    for i in range(0, 60, 6):
        ws = rows[i][1].split()
        k = rng.randrange(len(ws))
        mutated = ws[:k] + [rng.choice(vocab)] + ws[k + 1 :]
        rows.append((1000 + i, " ".join(mutated)))
        rows.append((2000 + i, rows[i][1] + " " + rng.choice(vocab)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shingle_set(text):
        ws = text.split()
        return {f"{ws[i]} {ws[i + 1]}" for i in range(len(ws) - 1)}

    for t in (0.3, 0.5, 0.8):
        got = {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        want = set()
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                sa, sb = shingle_set(rows[i][1]), shingle_set(rows[j][1])
                if not sa or not sb:
                    continue
                jac = len(sa & sb) / len(sa | sb)
                if jac >= t:
                    want.add((rows[i][0], rows[j][0], round(jac, 6)))
        assert got == want, (t, len(got), len(want))
        assert want, t  # non-vacuous at every threshold


def test_line_dedup_keep_first_matches_duckdb_twin(spark):
    """Corpus-wide line dedup (C4/RefinedWeb boilerplate stage): the
    repeated cookie-banner line survives only at its globally first
    (doc_id, pos); blank lines are structural and never deduped; docs
    reassemble in original order; a doc reduced to nothing yields ''.
    A DuckDB twin recomputes the whole operator from scratch on the
    line STRINGS (no hashes), so a 60-bit collision or ordering bug on
    the engine side cannot self-certify."""
    import duckdb

    banner = "Accept cookies to continue"
    rows = [
        (0, f"{banner}\nunique zero body\n\nfooter text"),
        (1, f"intro one\n{banner}\nunique one body\nfooter text"),
        (2, f"{banner}\nfooter text"),          # nothing unique left
        (3, "standalone document\n\n\ntail line"),
        (4, None),                                # NULL text survives
        (5, banner),                              # single-line dup doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
        for r in line_dedup(docs).collect()
    }
    assert len(got) == 6
    assert got[0] == (f"{banner}\nunique zero body\n\nfooter text", 4, 0)
    assert got[1] == ("intro one\nunique one body", 4, 2)
    assert got[2] == ("", 2, 2)
    assert got[3] == ("standalone document\n\n\ntail line", 4, 0)
    assert got[4] == ("", 1, 0)
    assert got[5] == ("", 1, 1)

    con = duckdb.connect()
    con.register(
        "docs",
        __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]),
    )
    want = {
        int(r[0]): (r[1], int(r[2]), int(r[3]))
        for r in con.execute(
            """
            WITH lines AS (
              SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos,
                     unnest(l) AS line
              FROM (SELECT doc_id,
                           string_split(coalesce(text, ''), chr(10)) AS l
                    FROM docs)
            ),
            owners AS (
              SELECT line, count(*) AS n,
                     min(struct_pack(doc_id := doc_id, pos := pos)) AS first
              FROM lines WHERE trim(line) != '' GROUP BY line
            ),
            verdicts AS (
              SELECT l.doc_id, l.pos, l.line,
                     coalesce(o.n > 1 AND NOT (l.doc_id = o.first.doc_id
                              AND l.pos = o.first.pos), false) AS dropped
              FROM lines l LEFT JOIN owners o ON l.line = o.line
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                            chr(10) ORDER BY pos), '') AS text,
                   count(*) AS n_lines,
                   sum(dropped::INT) AS n_removed
            FROM verdicts GROUP BY doc_id
            """
        ).fetchall()
    }
    assert got == want

    # drop_all mode: every occurrence of a duplicated line goes
    aggressive = {
        r["doc_id"]: r["text"]
        for r in line_dedup(docs, mode="drop_all").collect()
    }
    assert banner not in aggressive[0]
    assert "footer text" not in aggressive[1]
    assert aggressive[3] == "standalone document\n\n\ntail line"
    with pytest.raises(ValueError, match="mode"):
        line_dedup(docs, mode="bogus")

    # layout determinism: same verdicts under a different partitioning
    again = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
        for r in line_dedup(docs.repartition(7, "text")).collect()
    }
    assert again == got


def test_line_dedup_hash_collision_never_drops_unique_lines(spark):
    """ADVICE r6: drops must be decided on the line STRING, not the
    60-bit hash alone — two distinct lines colliding in hash space must
    both survive. Staged with an injected always-colliding hash (a real
    60-bit collision can't be constructed): under hash-only dedup every
    line here would collide into one key and keep_first would delete
    unique content; the phase-2 string verification keeps all of it."""
    docs = spark.createDataFrame(
        [(0, "alpha unique\nbeta unique"), (1, "gamma unique\nalpha unique")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed"])
        for r in line_dedup(docs, _hash_fn=lambda c: F.lit(7)).collect()
    }
    # only the genuinely repeated line ("alpha unique") is deduped
    assert got[0] == ("alpha unique\nbeta unique", 0)
    assert got[1] == ("gamma unique", 1)
    # drop_all: the repeated line goes everywhere, unique lines stay
    agg = {
        r["doc_id"]: r["text"]
        for r in line_dedup(
            docs, mode="drop_all", _hash_fn=lambda c: F.lit(7)
        ).collect()
    }
    assert agg[0] == "beta unique" and agg[1] == "gamma unique"


def test_minhash_recall_vs_exact(spark, noisy_docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(noisy_docs, threshold=0.5).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(noisy_docs, threshold=0.5).collect()
    }
    assert exact, "planted twins must register as near-dups"
    # LSH candidates are Jaccard-verified -> no false positives
    assert approx <= exact
    # S-curve with r=4,b=8 at J>=0.5: expect high recall on planted twins
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, (recall, len(exact))


def test_simhash_finds_planted_twins(spark, noisy_docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dups(noisy_docs, max_hamming=16, prefix_bits=4).collect()
    }
    twins = {(i, i + 1) for i in range(0, 60, 2)}
    # most mutated twins should land within hamming 16 and share the prefix
    assert len(pairs & twins) >= len(twins) * 0.5, len(pairs & twins)


def test_ann_recall_vs_exact(spark):
    # clustered corpus: true nearest neighbors are same-cluster (cosine
    # ~0.99), whose sign buckets agree with high probability — the regime
    # sign-LSH is designed for (random-gaussian neighbors at cosine ~0.5
    # would only sign-agree ~(1 - acos(.5)/pi)^bits ≈ 0.19)
    rng = np.random.default_rng(23)
    centers = rng.standard_normal((20, 16)) * 3
    vecs = []
    for i in range(200):
        c = centers[i % 20]
        vecs.append((int(i), [float(x) for x in c + rng.standard_normal(16) * 0.1],
                     int(i % 20)))
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    )
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=3)
    approx = ann_bucketed_topk(emb, queries, k=3, bits=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert e and a
    recall = len(a & e) / len(e)
    assert recall >= 0.9, recall

    # multi-probe: probing the smallest-margin bit-flip bucket can only
    # add candidates -> recall must not drop, and must stay >= 0.9
    multi = ann_bucketed_topk(emb, queries, k=3, bits=4, nprobe=2)
    m = {(r["query_id"], r["vec_id"]) for r in multi.collect()}
    recall_multi = len(m & e) / len(e)
    assert recall_multi >= recall, (recall_multi, recall)
    assert recall_multi >= 0.9, recall_multi


def test_ann_multiprobe_recovers_border_misses(spark):
    # adversarial corpus: true neighbor pairs straddle one hyperplane (a
    # tiny first coordinate of opposite sign) -> single-probe misses them,
    # the smallest-margin one-bit flip recovers them
    import numpy as np

    rng = np.random.default_rng(31)
    rows = []
    for i in range(0, 40, 2):
        base = rng.standard_normal(8) * 2
        base[0] = 0.0
        a = base.copy(); a[0] = 0.01
        b = base.copy(); b[0] = -0.01
        rows.append((i, [float(x) for x in a], i // 2))
        rows.append((i + 1, [float(x) for x in b], i // 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = emb.where(F.col("vec_id") % 2 == 0)
    single = ann_bucketed_topk(emb, queries, k=1, bits=4, nprobe=1)
    multi = ann_bucketed_topk(emb, queries, k=1, bits=4, nprobe=2)
    want = {(i, i + 1) for i in range(0, 40, 2)}  # each query's twin
    got_single = {(r["query_id"], r["vec_id"]) for r in single.collect()}
    got_multi = {(r["query_id"], r["vec_id"]) for r in multi.collect()}
    # twins sit in a different bucket (bit 0 flipped) -> single-probe finds none
    assert not (got_single & want)
    # the flipped-bit probe is exactly bit 0 (margin 0.01 is the smallest)
    assert got_multi >= want


def test_embedding_near_dups_finds_planted(spark):
    rng = np.random.default_rng(29)
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.01
    far = rng.standard_normal(16)
    emb = spark.createDataFrame(
        [
            (0, [float(x) for x in base], 0),
            (1, [float(x) for x in near], 0),
            (2, [float(x) for x in far], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = embedding_near_dups(emb, threshold=0.95, bits=4).collect()
    assert [(p["vec_a"], p["vec_b"]) for p in pairs] == [(0, 1)]


def test_text_stats_values(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat", "en")], "doc_id long, text string, lang string"
    )
    r = text_stats(docs).collect()[0]
    assert r["n_tokens"] == 3
    assert r["n_unique_tokens"] == 3
    assert r["avg_token_len"] == pytest.approx((3 + 3 + 3) / 3)
    assert r["stopword_ratio"] == pytest.approx(1 / 3)
    q = quality_score(docs).collect()[0]
    assert 0.0 <= q["quality_score"] <= 1.0


def test_multimodal_wav_pipeline(spark):
    docs = spark.createDataFrame(
        [(1, "hello", "en"), (2, "worlds", "en")],
        "doc_id long, text string, lang string",
    )
    media = attach_binary_payload(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = {r["doc_id"]: r for r in extract_features(media).collect()}
    # 44-byte canonical WAV header + 2 bytes per sample (1 sample per char)
    assert feats[1]["n_bytes"] == 44 + 2 * 5
    assert feats[2]["n_bytes"] == 44 + 2 * 6
    assert feats[1]["mime"] == "audio/wav"
    assert feats[1]["sample_rate"] == 8000
    # parser recovers the exact synthesized samples
    expected = [
        ((ord(c) * 257 + i * 7919 + 1 * 31) % 65536) - 32768
        for i, c in enumerate("hello")
    ]
    assert feats[1]["n_samples"] == 5
    assert feats[1]["pcm_sum"] == sum(expected)
    assert feats[1]["pcm_sumsq"] == sum(s * s for s in expected)
    assert feats[1]["pcm_min"] == min(expected)
    assert feats[1]["pcm_max"] == max(expected)


def test_wav_parser_rejects_malformed():
    wav = synth_wav(7, "abcdef")
    assert parse_wav(wav)["n_samples"] == 6
    # empty text -> header-only container still parses
    empty = parse_wav(synth_wav(7, ""))
    assert empty["n_samples"] == 0 and empty["pcm_min"] is None
    with pytest.raises(ValueError):
        parse_wav(None)
    with pytest.raises(ValueError):
        parse_wav(b"JUNK" + wav[4:])
    with pytest.raises(ValueError):
        parse_wav(wav[:-1])  # RIFF size mismatch
    with pytest.raises(ValueError):
        parse_wav(wav[:12])  # no fmt/data chunks
    # fmt chunk whose declared size is smaller than its struct must raise
    # the documented ValueError, not a raw struct.error (callers
    # quarantine bad payloads by catching ValueError per record)
    import struct as _struct

    short_fmt = (
        b"RIFF" + _struct.pack("<I", 4 + 8 + 8) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 8) + b"\x00" * 8
    )
    with pytest.raises(ValueError, match="truncated"):
        parse_wav(short_fmt)


def test_multimodal_mixed_modality_pipeline(spark):
    """Audio + image rows through ONE extract_features pass: mime
    dispatch, union schema (cross-modality columns null), and the BMP
    padded-row walk recovering exact channel sums."""
    from mapping_timeseries_spark.operators.multimodal import (
        attach_image_payload,
        parse_bmp,
        synth_bmp,
    )

    text = "hello world this text spans two bmp rows easily padded"
    docs = spark.createDataFrame(
        [(3, text, "en")], "doc_id long, text string, lang string"
    )
    media = attach_binary_payload(docs).unionByName(attach_image_payload(docs))
    feats = {r["mime"]: r for r in extract_features(media).collect()}
    wav, bmp = feats["audio/wav"], feats["image/bmp"]
    # union schema: each modality's foreign columns are null
    assert wav["width"] is None and wav["sum_r"] is None
    assert bmp["pcm_sum"] is None and bmp["sample_rate"] is None
    # bmp geometry: width 15, height ceil(n/15), 3-byte row padding real
    n = len(text)
    height = -(-n // 15)
    assert (bmp["width"], bmp["height"], bmp["n_px"]) == (15, height, 15 * height)
    assert bmp["n_bytes"] == 54 + 48 * height
    # channel sums match the synthesis formula exactly
    assert bmp["sum_r"] == sum((ord(c) * 7 + k * 17) % 256 for k, c in enumerate(text))
    assert bmp["sum_g"] == sum((ord(c) * 5 + k * 13) % 256 for k, c in enumerate(text))
    assert bmp["sum_b"] == sum((ord(c) * 3 + k * 11 + 3) % 256 for k, c in enumerate(text))


def test_multimodal_extract_safe_arrow_conversion(spark):
    """r4 advice: cross-modality missing features were float64 NaN that
    Arrow had to unsafely down-cast to int columns — raising on sessions
    with convertToArrowArraySafely=true. The nullable-Int coercion must
    survive the strict conf."""
    from mapping_timeseries_spark.operators.multimodal import (
        attach_image_payload,
    )

    docs = spark.createDataFrame(
        [(9, "strict arrow conversion row", "en")],
        "doc_id long, text string, lang string",
    )
    media = attach_binary_payload(docs).unionByName(attach_image_payload(docs))
    key = "spark.sql.execution.pandas.convertToArrowArraySafely"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        rows = {r["mime"]: r for r in extract_features(media).collect()}
    finally:
        spark.conf.set(key, before)
    assert rows["audio/wav"]["width"] is None
    assert rows["image/bmp"]["pcm_sum"] is None
    assert rows["image/bmp"]["width"] == 15


def test_bmp_parser_rejects_malformed():
    from mapping_timeseries_spark.operators.multimodal import parse_bmp, synth_bmp

    bmp = synth_bmp(5, "some pixels here")
    got = parse_bmp(bmp)
    assert got["width"] == 15 and got["n_px"] == 15 * got["height"]
    # empty text still yields one black row (height floor 1)
    empty = parse_bmp(synth_bmp(5, ""))
    assert empty["height"] == 1 and empty["sum_r"] == 0
    with pytest.raises(ValueError):
        parse_bmp(None)
    with pytest.raises(ValueError):
        parse_bmp(b"XX" + bmp[2:])       # bad magic
    with pytest.raises(ValueError):
        parse_bmp(bmp[:-1])              # file size mismatch
    with pytest.raises(ValueError):
        parse_bmp(bmp[:53])              # too short
    import struct as _struct

    # declared dims larger than the actual pixel data must raise, not
    # read out of bounds
    grown = bytearray(bmp)
    _struct.pack_into("<i", grown, 22, 99)  # height = 99
    _struct.pack_into("<I", grown, 2, len(grown))
    with pytest.raises(ValueError, match="truncated"):
        parse_bmp(bytes(grown))


def test_video_frame_sampling_and_resize(spark):
    from mapping_timeseries_spark.operators.multimodal import (
        AVI_FRAMES,
        AVI_HEIGHT,
        AVI_WIDTH,
        attach_image_payload,
        attach_video_payload,
        parse_avi,
        parse_bmp,
        resize_images,
        sample_video_frames,
        synth_avi,
    )

    text = "video fixture content with enough characters to vary frames"
    docs = spark.createDataFrame(
        [(4, text, "en")], "doc_id long, text string, lang string"
    )

    # frame sampling: 1 video row -> ceil(n_frames/stride) frame rows
    media = attach_video_payload(docs)
    frames = sample_video_frames(media, stride=3).collect()
    assert [r["frame_idx"] for r in frames] == list(range(0, AVI_FRAMES, 3))
    assert all(
        (r["width"], r["height"]) == (AVI_WIDTH, AVI_HEIGHT) for r in frames
    )
    # per-frame sums reassemble the full-stride parse exactly
    full = parse_avi(synth_avi(4, text))
    picked = parse_avi(synth_avi(4, text), frame_stride=3)
    assert sum(r["sum_r"] for r in frames) == picked["sum_r"]
    assert full["n_frames"] == AVI_FRAMES and picked["n_sampled"] == len(frames)

    # resize: payload->payload transform halving dims, round-trips parse
    imgs = attach_image_payload(docs)
    small = resize_images(imgs, factor=2)
    row = small.first()
    dec = parse_bmp(bytes(row["payload"]))
    assert dec["width"] == 8 and dec["height"] == -(-parse_bmp_height(text) // 2)
    assert row["meta"]["n_bytes"] == len(bytes(row["payload"]))
    assert row["meta"]["mime"] == "image/bmp"


def parse_bmp_height(text: str) -> int:
    # fixture geometry: width 15, one row per 15 chars (max 256), floor 1
    return max(1, -(-min(len(text), 256) // 15))


def test_avi_parser_rejects_malformed():
    from mapping_timeseries_spark.operators.multimodal import parse_avi, synth_avi

    avi = synth_avi(1, "abc")
    assert parse_avi(avi)["n_frames"] == 8
    with pytest.raises(ValueError):
        parse_avi(None)
    with pytest.raises(ValueError):
        parse_avi(b"RIFF" + avi[4:8] + b"WAVE" + avi[12:])  # wrong form type
    with pytest.raises(ValueError):
        parse_avi(avi[:-1])  # RIFF size mismatch
    with pytest.raises(ValueError):
        parse_avi(avi, frame_stride=0)
    # a frame chunk shorter than width*height must surface, not wrap
    import struct as _struct

    broken = bytearray(avi)
    idx = bytes(broken).find(b"00db")
    _struct.pack_into("<I", broken, idx + 4, 4)  # lie about frame size
    with pytest.raises(ValueError):
        parse_avi(bytes(broken))


def _clustered_embeddings(spark, n=200, n_centers=10, dim=16, seed=31):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_centers, dim)) * 3
    vecs = [
        (int(i),
         [float(x) for x in centers[i % n_centers]
          + rng.standard_normal(dim) * 0.1],
         int(i % n_centers))
        for i in range(n)
    ]
    return spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    )


def test_ivf_recall_vs_exact(spark):
    from mapping_timeseries_spark.operators.similarity import ivf_topk

    emb = _clustered_embeddings(spark)
    queries = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=3)
    approx = ivf_topk(emb, queries, k=3, nlist=16, nprobe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert e and a
    recall = len(a & e) / len(e)
    # a query's true neighbors share its cluster; with nprobe=4 the home
    # list is probed, so same-cluster candidates are found
    assert recall >= 0.9, recall


def test_ivf_full_probe_is_exact(spark):
    from mapping_timeseries_spark.operators.similarity import ivf_topk

    emb = _clustered_embeddings(spark, n=80, n_centers=5)
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    # nprobe == nlist scans every inverted list -> identical to brute force
    full = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in ivf_topk(emb, queries, k=3, nlist=8, nprobe=8).collect()
    }
    assert full == exact


def test_ivf_index_append_equals_rebuild_and_guards(spark, tmp_path):
    """IVF incremental maintenance: append a new embedding batch
    against the FROZEN centroids — queries over the appended index must
    equal queries over a rebuild from the union (assignment is per-row,
    so the contract is exact). Torn appends, centroid drift and vec_id
    reuse are all refused loudly."""
    import json
    import os

    import pytest as _pytest

    from mapping_timeseries_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_append,
        ivf_index_load,
        ivf_seed_centroids,
        ivf_topk_indexed,
    )

    emb = _clustered_embeddings(spark, n=160, n_centers=8)
    old = emb.where(F.col("vec_id") % 4 != 0)
    new = emb.where(F.col("vec_id") % 4 == 0)
    cents = ivf_seed_centroids(old, nlist=16)
    path = str(tmp_path / "ivf_idx")

    with _pytest.raises(FileNotFoundError):
        ivf_index_append(new, cents, path)

    ivf_build_index(old, cents, path)
    ivf_index_append(new, cents, path)
    assert ivf_index_load(spark, path).count() == emb.count()

    queries = emb.where(F.col("vec_id").isin(1, 2, 5))

    def key(df):
        return {
            (r["query_id"], r["vec_id"], r["rank"], r["similarity"])
            for r in df.collect()
        }

    appended = key(ivf_topk_indexed(spark, path, queries, cents, k=3, nprobe=2))
    rebuilt_path = str(tmp_path / "ivf_rebuilt")
    ivf_build_index(emb, cents, rebuilt_path)
    rebuilt = key(
        ivf_topk_indexed(spark, rebuilt_path, queries, cents, k=3, nprobe=2)
    )
    assert appended == rebuilt and appended

    # compaction: fragmented appended lists rewritten; marker
    # recommitted, served results identical
    from mapping_timeseries_spark.operators.similarity import (
        ivf_index_compact,
    )

    files_before = len(ivf_index_load(spark, path).inputFiles())
    ivf_index_compact(spark, path, target_file_mb=64)
    assert len(ivf_index_load(spark, path).inputFiles()) <= files_before
    assert (
        key(ivf_topk_indexed(spark, path, queries, cents, k=3, nprobe=2))
        == appended
    )

    # vec_id reuse refused
    with _pytest.raises(ValueError, match="vec_id reuse"):
        ivf_index_append(new, cents, path)
    # centroid drift refused (different quantizer -> different fingerprint)
    drifted = ivf_seed_centroids(emb, nlist=12)
    fresh = new.withColumn("vec_id", F.col("vec_id") + 100000)
    with _pytest.raises(ValueError, match="fingerprint"):
        ivf_index_append(fresh, drifted, path)
    # torn append detected: stale committed count -> loud load + refusal
    meta_path = os.path.join(path, "_ivf_meta.json")
    meta = json.load(open(meta_path))
    meta["n_rows"] -= 1
    json.dump(meta, open(meta_path, "w"))
    with _pytest.raises(ValueError, match="interrupted"):
        ivf_index_load(spark, path)
    with _pytest.raises(ValueError, match="interrupted"):
        ivf_index_append(fresh, cents, path)


def test_ivf_partitioned_index_prunes_and_matches(spark, tmp_path):
    """The IVF scale claim, demonstrated: a corpus written PARTITIONED BY
    centroid_id is read back touching only the probed partitions, and the
    indexed search returns exactly what the in-query ivf_topk returns."""
    from mapping_timeseries_spark.operators.similarity import (
        ivf_build_index,
        ivf_seed_centroids,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = _clustered_embeddings(spark, n=160, n_centers=8)
    cents = ivf_seed_centroids(emb, nlist=16)
    path = str(tmp_path / "ivf_index")
    ivf_build_index(emb, cents, path)
    queries = emb.where(F.col("vec_id") < 3)

    def key(df):
        return {(r["query_id"], r["vec_id"], r["rank"]) for r in df.collect()}

    inquery = ivf_topk(emb, queries, k=3, nprobe=2, centroids=cents)
    dyn = ivf_topk_indexed(spark, path, queries, cents, k=3, nprobe=2)
    static = ivf_topk_indexed(
        spark, path, queries, cents, k=3, nprobe=2, static_prune=True
    )
    assert key(dyn) == key(inquery)
    assert key(static) == key(inquery)

    # dynamic mode: the index scan's PartitionFilters carry a DPP subquery
    plan = dyn._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()

    # static mode: the executed scan's numPartitions metric proves it read
    # at most nprobe * n_queries of the nlist inverted lists
    # (inputFiles() can't show this — it lists the unpruned relation)
    n_read = _scan_num_partitions(static)
    assert n_read is not None, "index scan metrics missing from static plan"
    assert n_read <= 2 * 3, n_read  # nprobe * n_queries upper bound
    assert n_read < 16  # strictly fewer than nlist


def _scan_num_partitions(df):
    """numPartitions SQL metric of the plan's (only) partitioned file scan
    after executing ``df`` — recursing through AQE query-stage wrappers,
    whose collectLeaves() stops at stage boundaries. (Scan toString()
    abbreviates long paths, so the metric's presence is the marker: only
    partitioned FileSourceScans carry numPartitions.)"""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if "AdaptiveSparkPlan" in plan.nodeName():
        plan = plan.executedPlan()

    def walk(node):
        if "Scan" in node.nodeName():
            opt = node.metrics().get("numPartitions")
            if opt.isDefined():
                return opt.get().value()
        kids = node.children()
        for i in range(kids.length()):
            found = walk(kids.apply(i))
            if found is not None:
                return found
        if "QueryStage" in node.nodeName():
            return walk(node.plan())
        return None

    return walk(plan)


def test_ivf_lloyd_refinement_improves_recall(spark):
    from mapping_timeseries_spark.operators.similarity import (
        ivf_refine_centroids,
        ivf_seed_centroids,
        ivf_topk,
    )

    emb = _clustered_embeddings(spark, n=300, n_centers=10, seed=37)
    queries = emb.where(F.col("vec_id") < 15)
    exact = {(r["query_id"], r["vec_id"])
             for r in cosine_topk(emb, queries, k=3).collect()}

    seeds = ivf_seed_centroids(emb, nlist=10)
    refined = ivf_refine_centroids(emb, seeds, iterations=2)
    assert refined.count() == 10  # empty lists keep their previous centroid

    def recall(cents):
        a = {(r["query_id"], r["vec_id"])
             for r in ivf_topk(emb, queries, k=3, nprobe=2,
                               centroids=cents).collect()}
        return len(a & exact) / len(exact)

    r_seed, r_refined = recall(seeds), recall(refined)
    # Lloyd steps move centroids toward true cluster means; recall at a
    # fixed small nprobe must not degrade and normally improves
    assert r_refined >= r_seed, (r_seed, r_refined)
    assert r_refined >= 0.9, r_refined


def test_dedup_clusters_components_and_singletons(spark):
    from mapping_timeseries_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # components: {0,1,2} (path), {4,5}; singletons: 3, 6
    pairs = spark.createDataFrame(
        [(1, 2), (0, 1), (4, 5)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert got == {
        0: (0, 1), 1: (0, 0), 2: (0, 0),
        3: (3, 1),
        4: (4, 1), 5: (4, 0),
        6: (6, 1),
    }


def test_dedup_clusters_long_chain_converges(spark):
    """A 200-node path graph (diameter 199) converges at the default
    round bound: star rounds contract subtrees, so the round count grows
    with log n, not with the chain's length."""
    from mapping_timeseries_spark.operators.dedup import dedup_clusters

    n = 200
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    rows = dedup_clusters(docs, pairs).collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}
    assert sum(r["is_keeper"] for r in rows) == 1


def test_dedup_clusters_raises_on_non_convergence(spark):
    """Running out of rounds raises instead of returning a split
    component, and leaves no checkpoint of the loop persisted."""
    from mapping_timeseries_spark.operators.dedup import dedup_clusters

    n = 10
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    before = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, max_rounds=1)
    assert persisted_rdd_ids(spark) == before


def test_dedup_clusters_star_matches_propagation(spark):
    """The star loop gives the labels min-label propagation gave:
    cluster_id is the component minimum and the keeper is that doc, on a
    random sparse graph with components of mixed shapes + singletons
    (union-find ground truth)."""
    from mapping_timeseries_spark.operators.dedup import dedup_clusters

    rng = np.random.default_rng(53)
    n = 80
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(60, 2))
        if a != b
    ]
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    # union-find ground truth
    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent[find(a)] = find(b)
    want = {i: min(j for j in range(n) if find(j) == find(i)) for i in range(n)}

    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert got == {i: (c, int(i == c)) for i, c in want.items()}


def test_dedup_clusters_star_handles_deep_chain(spark):
    """A 120-node path graph (diameter 119) converges within 12 rounds,
    far fewer than the one round per unit of diameter min-label
    propagation needed; a bound below the rounds it takes still raises."""
    from mapping_timeseries_spark.operators.dedup import dedup_clusters

    n = 120
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, max_rounds=2)
    rows = dedup_clusters(docs, pairs, max_rounds=12).collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == 0 for r in rows)
    assert sum(r["is_keeper"] for r in rows) == 1


#: Spark jobs one dedup_clusters call and the collect of its result may
#: start on the clique fixture below (local[4], 4 shuffle partitions,
#: AQE on). Measured 20 in one star round; under AQE each query stage of
#: the two eager localCheckpoints, the probe and the collect is its own
#: job. A rise fails here before it shows in a benchmark.
DEDUP_CLUSTERS_JOB_BUDGET = 20


def test_dedup_clusters_job_budget(spark):
    from mapping_timeseries_spark.operators.dedup import dedup_clusters

    # disjoint cliques of 3, 4, 5 and 6 docs, then 5 singletons
    edges, start = [], 0
    for k in (3, 4, 5, 6):
        members = range(start, start + k)
        edges += [(a, b) for a in members for b in members if a < b]
        start += k
    n = start + 5
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with job_group(spark.sparkContext, "dedup-clusters-budget") as jobs:
        rows = dedup_clusters(docs, pairs).collect()
    assert len(rows) == n
    assert sum(r["is_keeper"] for r in rows) == 4 + 5
    assert len(jobs) <= DEDUP_CLUSTERS_JOB_BUDGET, len(jobs)


def test_repetition_stats_flags_boilerplate(spark):
    from mapping_timeseries_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "buy now " * 10),              # one bigram dominates
            (2, "a b c d e f g h"),            # all bigrams distinct
            (3, "word"),                        # < 2 tokens: no bigrams
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            round(r["top_bigram_share"], 4), round(r["dup_bigram_fraction"], 4)
        )
        for r in repetition_stats(docs).collect()
    }
    # "buy now "*10 -> 19 bigrams: 10x "buy now", 9x "now buy"
    assert got[1] == (round(10 / 19, 4), round(17 / 19, 4))
    assert got[2] == (round(1 / 7, 4), 0.0)
    assert got[3] == (0.0, 0.0)


def test_gopher_repetition_planted_values(spark):
    from mapping_timeseries_spark.operators.textstats import gopher_repetition

    # doc 1 "ab cd ab cd ab cd" (17 chars): 2-grams "ab cd"x3 (len 5,
    # cover 15), "cd ab"x2 (10) -> top2 15/17; 3-grams both x2 len 8 ->
    # top3 16/17; 4-grams "ab cd ab cd"x2 len 11 -> 22/17 clamps to 1;
    # every 5..10-gram is unique -> dup fracs 0. top4 1.0 > 0.16 so the
    # Gopher filter fails the doc.
    docs = spark.createDataFrame(
        [
            (1, "ab cd ab cd ab cd"),
            # long enough that a singleton n-gram stays under the top-n
            # thresholds (Gopher assumes a min-length prefilter; a
            # 7-word doc "fails" because one bigram covers >20% of it)
            (2, " ".join(f"tok{i}" for i in range(60))),
            (3, "solo"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    assert len(got) == 5
    d1 = got[1]
    assert d1["top_2gram_char_frac"] == pytest.approx(round(15 / 17, 6))
    assert d1["top_3gram_char_frac"] == pytest.approx(round(16 / 17, 6))
    assert d1["top_4gram_char_frac"] == 1.0
    assert all(d1[f"dup_{n}gram_char_frac"] == 0.0 for n in range(5, 11))
    assert d1["gopher_repetition_pass"] == 0
    # natural prose: everything distinct, passes
    d2 = got[2]
    assert d2["gopher_repetition_pass"] == 1
    assert d2["top_2gram_char_frac"] > 0.0
    assert all(d2[f"dup_{n}gram_char_frac"] == 0.0 for n in range(5, 11))
    # degenerate docs report all-zero fractions and pass
    for i in (3, 4, 5):
        assert got[i]["gopher_repetition_pass"] == 1
        assert got[i]["top_2gram_char_frac"] == 0.0


def test_gopher_repetition_dup_ngram_family(spark):
    from mapping_timeseries_spark.operators.textstats import gopher_repetition

    # "w1 .. w5" repeated 3x: every 5-gram occurs >= 2 times (cyclic),
    # total dup cover far exceeds the text -> clamp at 1.0 and fail
    docs = spark.createDataFrame(
        [(1, " ".join(["w1 w2 w3 w4 w5"] * 3))], "doc_id long, text string"
    )
    row = gopher_repetition(docs).collect()[0]
    assert row["dup_5gram_char_frac"] == 1.0
    assert row["gopher_repetition_pass"] == 0


def test_line_repetition_stats_planted(spark):
    from mapping_timeseries_spark.operators.textstats import (
        line_repetition_stats,
    )

    # doc 1: lines [aaa, bbb, aaa, ccc, aaa, bbb] -> 6 lines, 4 distinct
    # -> dup_line_frac 2/6... wait: duplicates = occurrences after the
    # first = (3-1)+(2-1) = 3 -> 3/6; char dup = 3*3 / 18 = 0.5.
    # paragraphs (blank-line split): [aaa\nbbb\naaa, ccc, aaa\nbbb] all
    # distinct -> 0.
    docs = spark.createDataFrame(
        [
            (1, "aaa\nbbb\naaa\n\nccc\n\naaa\nbbb"),
            (2, "x\n\ny\n\nx"),  # paragraphs [x, y, x] -> dup 1/3
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in line_repetition_stats(docs).collect()
    }
    assert got[1]["dup_line_frac"] == pytest.approx(0.5)
    assert got[1]["dup_line_char_frac"] == pytest.approx(0.5)
    assert got[1]["dup_paragraph_frac"] == 0.0
    assert got[2]["dup_paragraph_frac"] == pytest.approx(round(1 / 3, 6))
    assert got[2]["dup_paragraph_char_frac"] == pytest.approx(round(1 / 3, 6))
    assert got[3]["dup_line_frac"] == 0.0


def test_gopher_repetition_fuzz_vs_python_reference(spark):
    """Independent pure-Python reference on adversarial random docs: a
    tiny vocabulary forces heavy n-gram repetition (collision-prone
    counts, clamping, ties), plus whitespace-run and degenerate-length
    edges. Pins the relational formulation — counts over hashed grams,
    conditional max/sum aggregation — against the direct dictionary
    computation."""
    import random

    from mapping_timeseries_spark.operators.textstats import (
        GOPHER_DUP_THRESHOLDS,
        GOPHER_TOP_THRESHOLDS,
        gopher_repetition,
    )

    rng = random.Random(20260815)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    rows = []
    for doc_id in range(60):
        n_words = rng.choice([0, 1, 2, 3, 5, 9, 10, 11, 30, 80])
        sep = rng.choice([" ", "  ", " \t "])
        rows.append(
            (doc_id, sep.join(rng.choice(vocab) for _ in range(n_words)))
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    assert len(got) == 60

    for doc_id, text in rows:
        toks = text.split()
        chars = max(len(text), 1)
        want_pass = True
        for kind, ths in (
            ("top", GOPHER_TOP_THRESHOLDS),
            ("dup", GOPHER_DUP_THRESHOLDS),
        ):
            for n, th in ths.items():
                counts: dict[str, int] = {}
                for i in range(len(toks) - n + 1):
                    g = " ".join(toks[i : i + n])
                    counts[g] = counts.get(g, 0) + 1
                if kind == "top":
                    cover = max(
                        (c * len(g) for g, c in counts.items()), default=0
                    )
                else:
                    cover = sum(
                        c * len(g) for g, c in counts.items() if c >= 2
                    )
                want = round(min(cover / chars, 1.0), 6)
                have = got[doc_id][f"{kind}_{n}gram_char_frac"]
                assert have == pytest.approx(want, abs=1e-9), (
                    doc_id, kind, n, text,
                )
                want_pass = want_pass and want <= th
        assert got[doc_id]["gopher_repetition_pass"] == int(want_pass), (
            doc_id, text,
        )


def test_gopher_thresholds_match_duckdb_twin(spark):
    """The operator's fractions on a small real slice must equal an
    independent DuckDB computation (the driver gates the full fold; this
    pins the pure leg at test speed)."""
    import duckdb

    from mapping_timeseries_spark.operators.textstats import gopher_repetition

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
    docs.createOrReplaceTempView("__gop_docs")
    spark_rows = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition(docs).collect()
    }
    pdf = docs.select("doc_id", "text").toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    import __spark_entry__ as em

    sql = f"""
    WITH gop_pern AS (
      SELECT doc_id, n, max(cnt * glen) AS top_cover,
             sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END) AS dup_cover
      FROM (
        SELECT doc_id, n, ('0x' || substring(md5(g), 1, 15))::BIGINT AS gh,
               length(g) AS glen, count(*) AS cnt
        FROM (
          SELECT doc_id, n,
                 unnest(CASE WHEN len(t) >= n
                   THEN list_transform(range(1, len(t) - n + 2),
                        i -> array_to_string(list_slice(t, i, i + n - 1), ' '))
                   ELSE [] END) AS g
          FROM (SELECT doc_id, {em._SQL_TOKENS} AS t FROM documents),
               (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n)
        ) GROUP BY doc_id, n, gh, glen
      ) GROUP BY doc_id, n
    )
    SELECT b.doc_id, {em._GOPHER_FRAC_SQL}, {em._GOPHER_PASS_SQL} AS gopher_repetition_pass
    FROM (SELECT doc_id, greatest(length(text), 1) AS chars FROM documents) b
    LEFT JOIN gop_pern p ON b.doc_id = p.doc_id
    GROUP BY b.doc_id, b.chars
    """
    duck = con.execute(sql).fetch_df().set_index("doc_id").to_dict("index")
    assert set(duck) == set(spark_rows)
    for doc_id, want in duck.items():
        have = spark_rows[doc_id]
        for k, v in want.items():
            assert have[k] == pytest.approx(v, abs=1e-9), (doc_id, k)


def test_redact_pii_planted_and_duckdb_twin(spark):
    import duckdb

    from mapping_timeseries_spark.operators.textstats import (
        PII_PATTERNS,
        PII_REPLACEMENTS,
        redact_pii,
    )

    rows = [
        (1, "contact john.doe@example.com or call +1 (555) 123-4567 now"),
        (2, "server at 10.0.42.7 handles mail for a@b.io and c@d.org"),
        # digit run INSIDE an email local part: consumed by the email
        # pattern, must not double-count as a phone
        (3, "user123456789@example.com"),
        (4, "no pii here at all"),
        (5, ""),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert got[1]["text"] == "contact <EMAIL> or call <PHONE> now"
    assert got[1]["n_redactions"] == 2
    assert got[2]["text"] == "server at <IP> handles mail for <EMAIL> and <EMAIL>"
    assert got[2]["n_redactions"] == 3
    assert got[3]["text"] == "<EMAIL>" and got[3]["n_redactions"] == 1
    assert got[4]["n_redactions"] == 0
    assert got[5]["n_redactions"] == 0 and got[5]["text"] == ""
    assert got[6]["text"] is None and got[6]["n_redactions"] is None

    # DuckDB twin: same chained replace order, same counts
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    red, cnt = "text", []
    for name, pat in PII_PATTERNS.items():
        cnt.append(f"len(regexp_extract_all({red}, '{pat}'))")
        red = f"regexp_replace({red}, '{pat}', '{PII_REPLACEMENTS[name]}', 'g')"
    duck = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {red}, {'+'.join(cnt)} FROM d"
        ).fetchall()
    }
    for doc_id in (1, 2, 3, 4, 5):
        assert duck[doc_id] == (
            got[doc_id]["text"],
            got[doc_id]["n_redactions"],
        ), doc_id


def test_boilerplate_signals_planted_template(spark):
    from mapping_timeseries_spark.operators.textstats import boilerplate_signals

    footer = "copyright acme corp all rights reserved"  # 6 tokens
    rows = [
        # 5 docs sharing the footer: its 4 trigrams hit doc-frequency 5
        (i, f"unique words number{i} alpha{i} beta{i} {footer}")
        for i in range(5)
    ]
    rows += [
        (10, "entirely fresh prose with no repeated trigram structure"),
        (11, "xy"),  # < 3 tokens: zero grams, fraction 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_boiler_grams"], r["boilerplate_frac"])
        for r in boilerplate_signals(docs, n=3, min_docs=4).collect()
    }
    # each footer doc: 11 tokens -> 9 trigrams, 4 of them the shared
    # footer trigrams (the doc-specific prefix keeps the other 5 unique,
    # including the 2 straddling the prefix/footer boundary)
    for i in range(5):
        n, b, frac = got[i]
        assert n == 9 and b == 4 and frac == round(4 / 9, 6), got[i]
    assert got[10] == (6, 0, 0.0)
    assert got[11] == (0, 0, 0.0)
    # raising min_docs above the template multiplicity clears the signal
    clean = boilerplate_signals(docs, n=3, min_docs=6)
    assert clean.agg(F.sum("n_boiler_grams")).first()[0] == 0


def test_edge_docs_empty_null_whitespace(spark):
    """Edge contract sweep the review demanded: empty / whitespace-only /
    null documents must not fabricate tokens, vanish from chunk output,
    or earn a nonzero quality score."""
    from mapping_timeseries_spark.operators.textstats import (
        chunk_documents,
        quality_score,
        text_stats,
    )

    docs = spark.createDataFrame(
        [(1, "real words here", "en"), (2, "", "en"),
         (3, "   ", "en"), (4, None, "en")],
        "doc_id long, text string, lang string",
    )
    stats = {r["doc_id"]: r for r in text_stats(docs).collect()}
    # split(trim('')) = [''] would have counted ONE token for 2 and 3
    assert stats[1]["n_tokens"] == 3
    assert stats[2]["n_tokens"] == 0 and stats[3]["n_tokens"] == 0
    q = {r["doc_id"]: r["quality_score"] for r in quality_score(docs).collect()}
    assert q[2] == 0.0 and q[3] == 0.0  # blank docs score zero
    # chunking keeps every doc: null/empty text -> exactly one empty chunk
    ch = chunk_documents(docs).groupBy("doc_id").count().collect()
    assert {r["doc_id"]: r["count"] for r in ch} == {1: 1, 2: 1, 3: 1, 4: 1}


def test_vocab_counts_matches_duckdb_and_plans_topk(spark, sf_dir="/root/testdata/sf0.001"):
    """Corpus token-frequency table vs the DuckDB twin (same gate shape
    the driver applies, run locally), plus the plan assertion that top-k
    is TakeOrderedAndProject (heap + driver merge of k rows), not a full
    global Sort."""
    import sys

    import duckdb

    from mapping_timeseries_spark.operators.textstats import vocab_counts

    sys.path.insert(0, "/root/repo")
    from tools.compare_oracle import frame_hash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = vocab_counts(docs, k=50)
    con = duckdb.connect()
    want = con.sql(
        rf"""
        SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
          FROM '{sf_dir}/documents.parquet'
        ) WHERE token != ''
        GROUP BY token
        ORDER BY n_occurrences DESC, token ASC LIMIT 50
        """
    ).df()
    assert frame_hash(got.toPandas()) == frame_hash(want)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pii_counts_planted(spark):
    from mapping_timeseries_spark.operators.textstats import pii_counts

    docs = spark.createDataFrame(
        [
            (1, "contact a.b@example.com or c@d.org from 10.0.0.1 "
                "or call +1 (555) 123-4567"),
            (2, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_emails"], r["n_ipv4s"], r["n_phoneish"])
        for r in pii_counts(docs).collect()
    }
    assert got[1] == (2, 1, 1)
    assert got[2] == (0, 0, 0)


def test_chunk_documents_windows_overlap_reconstruction(spark):
    from mapping_timeseries_spark.operators.textstats import chunk_documents

    words = [f"w{i}" for i in range(300)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b c")], "doc_id long, text string"
    )
    rows = sorted(
        (
            (r["doc_id"], r["chunk_id"], r["chunk_text"].split(" "),
             r["chunk_n_tokens"])
            for r in chunk_documents(
                docs, chunk_tokens=128, overlap_tokens=16
            ).collect()
        )
    )
    d1 = [r for r in rows if r[0] == 1]
    # n=300, stride=112 -> 1 + ceil(172/112) = 3 chunks
    assert [r[1] for r in d1] == [0, 1, 2]
    assert d1[0][2] == words[0:128]
    assert d1[1][2] == words[112:240]
    assert d1[2][2] == words[224:300] and d1[2][3] == 76  # short tail kept
    # the overlap region is literally repeated
    assert d1[1][2][:16] == d1[0][2][-16:]
    # overlap-aware concatenation reconstructs the document exactly
    recon = d1[0][2] + d1[1][2][16:] + d1[2][2][16:]
    assert recon == words
    # short doc -> exactly one (short) chunk
    d2 = [r for r in rows if r[0] == 2]
    assert len(d2) == 1 and d2[0][2] == ["a", "b", "c"]
    with pytest.raises(ValueError, match="must be <"):
        chunk_documents(docs, chunk_tokens=16, overlap_tokens=16)


def test_lang_trigram_scores(spark):
    from mapping_timeseries_spark.operators.textstats import (
        lang_marker_scores,
        lang_trigram_scores,
    )
    from mapping_timeseries_spark.sources.readers import read_table

    docs = spark.createDataFrame(
        [
            (1, "the king of the hill and the thing", "en"),
            (2, "der fischer und ich sich einig", "de"),
            (3, "les parents entendent que la nuit était", "fr"),
            (4, "los perros adorados en la región", "es"),
            (5, "zzz qqq xxx", "en"),  # no profile hits -> unknown
        ],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r["trigram_lang"]
           for r in lang_trigram_scores(docs).collect()}
    assert got[1] == "en" and got[2] == "de"
    assert got[3] == "fr" and got[4] == "es"
    assert got[5] == "unknown"

    # the synthetic corpus text carries no real language signal (shared
    # tech vocabulary across every lang label, 'the'/'a' sprinkled into
    # all of them), so accuracy vs the label is not a valid assertion
    # there — the crafted docs above are the accuracy check. On the
    # corpus we assert the scorer is total and well-formed: every doc
    # classified, predictions within the known label set.
    corpus = read_table(spark, "/root/testdata/sf0.001", "documents")
    preds = lang_trigram_scores(corpus)
    assert preds.count() == corpus.count()
    labels = {r["trigram_lang"] for r in preds.select("trigram_lang").distinct().collect()}
    assert labels <= {"en", "de", "fr", "es", "unknown"}


# ---------------------------------------------------------------------------
# SemDeDup semantic deduplication (r5)
# ---------------------------------------------------------------------------


def _semdedup_fixture(spark):
    """Planted corpus for semantic_dedup with nlist=2: vec 0/1 seed the
    two centroids (lowest vec_ids); 2-4 are a near-dup chain in cluster
    A, 5 sits in A but far from everything, 6/7 are a near-dup pair in
    cluster B, and 8/9 are nearly identical to EACH OTHER but land in
    different clusters — the pair SemDeDup must NOT emit (edges are
    in-cluster only)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.010, 0.0, 0.0]),
        (3, [1.0, 0.011, 0.0, 0.0]),
        (4, [0.9, 0.005, 0.1, 0.0]),
        (5, [0.7, 0.0, 0.7, 0.1]),
        (6, [0.0, 1.0, 0.010, 0.0]),
        (7, [0.0, 1.0, 0.012, 0.0]),
        (8, [0.72, 0.69, 0.0, 0.0]),
        (9, [0.69, 0.72, 0.0, 0.0]),
    ]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _semdedup_numpy_oracle(rows, nlist, threshold):
    """Independent numpy re-derivation: assignment by rounded cosine,
    in-cluster edges, union-find components, farthest-from-centroid
    keeper."""
    ids = [r[0] for r in rows]
    vecs = {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}
    cents = {i: vecs[i] for i in sorted(ids)[:nlist]}

    def cos(a, b):
        return round(
            float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    assign, csim = {}, {}
    for i in ids:
        best = sorted(
            ((-cos(vecs[i], cv), cid) for cid, cv in cents.items())
        )[0]
        assign[i], csim[i] = best[1], -best[0]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in ids:
        for b in ids:
            if a < b and assign[a] == assign[b]:
                ua = vecs[a] / np.linalg.norm(vecs[a])
                ub = vecs[b] / np.linalg.norm(vecs[b])
                if round(float(np.dot(ua, ub)), 6) >= threshold:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for i in ids:
        groups.setdefault(find(i), []).append(i)
    keepers = {
        min(members, key=lambda m: (csim[m], m)): root
        for root, members in groups.items()
    }
    return assign, csim, groups, set(keepers)


def test_semantic_dedup_planted(spark):
    rows, emb = _semdedup_fixture(spark)
    out = {r["vec_id"]: r for r in semantic_dedup(emb, nlist=2, threshold=0.95).collect()}
    assign, csim, groups, keepers = _semdedup_numpy_oracle(rows, 2, 0.95)
    assert set(out) == set(assign)
    for i, r in out.items():
        assert r["centroid_id"] == assign[i]
        assert r["centroid_sim"] == pytest.approx(csim[i], abs=2e-6)
        assert r["group_id"] == min(groups[_root_of(groups, i)])
        assert r["group_size"] == len(groups[_root_of(groups, i)])
        assert r["is_keeper"] == (1 if i in keepers else 0)
    # the discriminating SemDeDup property: 8 and 9 are near-identical
    # (cos ~0.9991) but straddle the centroid boundary -> separate
    # singleton groups, both kept
    assert out[8]["group_id"] == 8 and out[9]["group_id"] == 9
    assert out[8]["is_keeper"] == 1 and out[9]["is_keeper"] == 1
    assert out[8]["centroid_id"] != out[9]["centroid_id"]
    # the in-cluster chain collapsed to one group with ONE keeper, and
    # that keeper is the member farthest from the centroid
    chain = [out[i] for i in (2, 3, 4)]
    assert len({r["group_id"] for r in chain}) == 1
    assert sum(r["is_keeper"] for r in chain) == 1
    kept = [r for r in chain if r["is_keeper"]][0]
    assert kept["centroid_sim"] == min(r["centroid_sim"] for r in chain)


def _root_of(groups, i):
    for root, members in groups.items():
        if i in members:
            return root
    raise AssertionError(i)


def test_semantic_dedup_invariants_and_determinism(spark):
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = semantic_dedup(emb, nlist=16, threshold=0.4)
    rows = a.collect()
    n = emb.count()
    # total coverage, exactly one keeper per group, keeper is the
    # farthest-from-centroid member
    assert len(rows) == n
    by_group = {}
    for r in rows:
        by_group.setdefault(r["group_id"], []).append(r)
    for members in by_group.values():
        assert sum(m["is_keeper"] for m in members) == 1
        assert all(m["group_size"] == len(members) for m in members)
        kept = [m for m in members if m["is_keeper"]][0]
        assert (kept["centroid_sim"], kept["vec_id"]) == min(
            (m["centroid_sim"], m["vec_id"]) for m in members
        )
        # group members share a centroid (edges are in-cluster; a CC
        # group is connected through in-cluster edges only)
        assert len({m["centroid_id"] for m in members}) == 1
    # layout determinism: a 7-partition shuffle of the input changes
    # nothing (portable rounding + id tie-breaks)
    b = semantic_dedup(emb.repartition(7), nlist=16, threshold=0.4)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b.collect()))


def test_semantic_dedup_shuffle_join_branch_matches_broadcast(spark):
    """The 100 TB configuration (broadcast_pairs=False, nlist='auto') is
    a real code path, not a docstring: the pair self-join actually plans
    WITHOUT a broadcast (the corpus side could never broadcast at
    scale), and its output is bitwise-equal to the broadcast plan at
    fixture scale. nlist='auto' applies the paper's nlist ~ sqrt(N)
    sizing."""
    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    bcast = semantic_dedup(emb, nlist=16, threshold=0.4)
    shuf = semantic_dedup(
        emb, nlist=16, threshold=0.4, broadcast_pairs=False
    )
    plan = shuf._jdf.queryExecution().executedPlan().toString()
    # the nlist-ary self-join must not be broadcast in this branch (the
    # tiny seed-centroid broadcast inside ivf_assign is expected; it is
    # bounded by nlist, never by the corpus). The self-join is the only
    # equi-join on centroid_id=centroid_id, so: no sort-merge/shuffle
    # join anywhere would mean the pair join still broadcast.
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    assert sorted(map(tuple, bcast.collect())) == sorted(
        map(tuple, shuf.collect())
    )

    # nlist='auto': isqrt(500) = 22 seed centroids; spot-check the
    # sizing surfaced in the output's centroid vocabulary and the
    # invariants (one keeper per group, full coverage) hold
    auto = semantic_dedup(
        emb, nlist="auto", threshold=0.4, broadcast_pairs=False
    )
    arows = auto.collect()
    assert len(arows) == emb.count()
    assert {r["centroid_id"] for r in arows} <= set(range(22))
    by_group = {}
    for r in arows:
        by_group.setdefault(r["group_id"], []).append(r)
    assert all(
        sum(m["is_keeper"] for m in members) == 1
        for members in by_group.values()
    )
    with pytest.raises(ValueError, match="nlist"):
        semantic_dedup(emb, nlist="bogus")


# ---------------------------------------------------------------------------
# Incremental MinHash dedup against a persisted index
# ---------------------------------------------------------------------------


def test_minhash_incremental_index_roundtrip(spark, tmp_path):
    from mapping_timeseries_spark.operators.dedup import (
        append_minhash_index,
        build_minhash_index,
        load_minhash_index,
        minhash_dedup_incremental_path,
        minhash_lsh_pairs,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "lsh_index")

    # loading an uncommitted index must fail loudly, not return empties
    with pytest.raises(FileNotFoundError):
        load_minhash_index(spark, str(tmp_path / "nowhere"))

    build_minhash_index(old, path)

    # exactness contract: incremental(new, index(old)) == full-batch
    # pairs over old+new restricted to >= 1 new side
    incr = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
        for r in minhash_dedup_incremental_path(
            spark, new, path, threshold=0.5
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
        if r["doc_a"] % 5 == 0 or r["doc_b"] % 5 == 0
    }
    assert incr == full and incr  # non-vacuous: the fixture has new-side dups

    # append invariant: build(old) + append(new) == build(old ∪ new)
    append_minhash_index(new, path)
    bands_df, hsets_df, meta = load_minhash_index(spark, path)
    ref_path = str(tmp_path / "lsh_index_ref")
    build_minhash_index(docs, ref_path)
    ref_bands, ref_hsets, _ = load_minhash_index(spark, ref_path)
    assert sorted(map(tuple, bands_df.collect())) == sorted(
        map(tuple, ref_bands.collect())
    )

    def set_rows(df):
        return sorted(
            (r["doc_id"], r["n_shingles"], tuple(r["__hset"]))
            for r in df.collect()
        )

    assert set_rows(hsets_df) == set_rows(ref_hsets)

    # compaction: fragmented bands/hsets rewritten in place,
    # loaded content identical
    from mapping_timeseries_spark.operators.dedup import minhash_index_compact

    minhash_index_compact(spark, path, target_file_mb=64)
    cb, cs, _ = load_minhash_index(spark, path)
    assert sorted(map(tuple, cb.collect())) == sorted(
        map(tuple, ref_bands.collect())
    )
    assert cs.count() == ref_hsets.count()

    # a reused doc_id would alias two documents under one vertex
    with pytest.raises(ValueError, match="already in the index"):
        append_minhash_index(new, path)


def test_dup_span_stats_planted_passages(spark):
    """Lee-et-al substring-dedup proxy: a passage shared verbatim across
    two documents is recovered as ONE maximal merged span covering the
    full passage length in each; unique prose, sub-k docs, and
    WITHIN-doc-only repetition (min_docs counts DISTINCT docs) must all
    report zero."""
    from mapping_timeseries_spark.operators.dedup import dup_span_stats

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            # docs 0/1 embed the 10-token passage at different offsets
            (0, "intro words here " + shared + " trailing tail tokens"),
            (1, shared + " completely different continuation text"),
            # unique prose, >= k tokens, no cross-doc 5-gram
            (2, "unique prose sentence nothing shared with anything else at all"),
            # shorter than k tokens
            (3, "tiny doc"),
            # within-doc repetition only: the repeated 5-gram lives in ONE doc
            (4, "loop loop loop loop loop loop loop loop loop loop"),
        ],
        ["doc_id", "text"],
    )
    res = {
        r["doc_id"]: r
        for r in dup_span_stats(docs, k=5, min_docs=2).collect()
    }
    assert len(res) == 5
    # doc 0: tokens 3..13 covered (10 passage tokens), one span
    assert res[0]["n_dup_spans"] == 1 and res[0]["dup_tokens"] == 10
    # doc 1: passage at offset 0, one span of 10
    assert res[1]["n_dup_spans"] == 1 and res[1]["dup_tokens"] == 10
    assert res[1]["dup_frac"] == round(10 / res[1]["n_tokens"], 6)
    for d in (2, 3, 4):
        assert res[d]["n_dup_spans"] == 0 and res[d]["dup_tokens"] == 0
        assert res[d]["dup_frac"] == 0.0


def test_dup_span_stats_merges_disjoint_and_overlapping(spark):
    """Two separate shared passages in one doc yield two spans; chained
    overlapping shared k-grams merge into one maximal interval (the
    merged length is end-max minus start-min, not the sum of k-sized
    windows). Result is stable under repartitioning."""
    from mapping_timeseries_spark.operators.dedup import dup_span_stats

    p1 = "one two three four five six"          # 6 tokens
    p2 = "red orange yellow green blue indigo violet"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (0, p1 + " xx yy zz ww vv " + p2),   # both passages, split by unique filler
            (1, p1 + " unrelated middle words entirely " + p2),
            (2, "filler opening words then nothing shared here at all today"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dup_span_stats(docs, k=5, min_docs=2).collect()
    }
    # doc 0: spans of 6 and 7 tokens, NOT 2 and 3 disjoint 5-gram windows
    assert out[0]["n_dup_spans"] == 2 and out[0]["dup_tokens"] == 13
    assert out[1]["n_dup_spans"] == 2 and out[1]["dup_tokens"] == 13
    assert out[2]["n_dup_spans"] == 0

    rep = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"], r["dup_frac"])
        for r in dup_span_stats(
            docs.repartition(7, "text"), k=5, min_docs=2
        ).collect()
    }
    assert rep == {
        k: (v["n_dup_spans"], v["dup_tokens"], v["dup_frac"])
        for k, v in out.items()
    }


def test_remove_dup_spans_rewrites_and_reconciles(spark):
    """The dedup ACTION: rewritten token sequence == original minus the
    merged spans, n_removed reconciles with dup_span_stats.dup_tokens,
    min_span_tokens filters short spans, and the rewrite is stable
    under repartitioning."""
    from mapping_timeseries_spark.operators.dedup import (
        dup_span_stats,
        dup_spans,
        remove_dup_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "one two three four five"  # exactly one 5-gram
    docs = spark.createDataFrame(
        [
            (0, "intro words here " + shared + " trailing tail tokens"),
            (1, shared + " completely different continuation text"),
            (2, "unique prose nothing shared here with anything else at all"),
            (3, short + " filler unrelated tail"),
            (4, "prefix words then " + short + " closing"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in remove_dup_spans(docs).collect()}
    assert out[0]["text_clean"] == "intro words here trailing tail tokens"
    assert out[1]["text_clean"] == "completely different continuation text"
    assert out[2]["n_removed_tokens"] == 0
    assert out[3]["text_clean"] == "filler unrelated tail"
    stats = {r["doc_id"]: r for r in dup_span_stats(docs).collect()}
    for d in stats:
        assert stats[d]["dup_tokens"] == out[d]["n_removed_tokens"]

    # Lee-et-al long-span mode: only spans >= 10 tokens removed — the
    # 5-token shared phrase survives, the 10-token passage does not
    long_only = {
        r["doc_id"]: r
        for r in remove_dup_spans(docs, min_span_tokens=10).collect()
    }
    assert long_only[0]["n_removed_tokens"] == 10
    assert long_only[3]["n_removed_tokens"] == 0
    assert short in long_only[3]["text_clean"]

    # span frame contract: 0-based, end-exclusive, non-overlapping
    sp = dup_spans(docs).collect()
    by_doc: dict = {}
    for r in sp:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    for d, spans in by_doc.items():
        spans.sort()
        assert all(s < e for s, e in spans)
        assert all(
            spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
        )

    rep = {
        r["doc_id"]: (r["text_clean"], r["n_removed_tokens"])
        for r in remove_dup_spans(docs.repartition(7, "text")).collect()
    }
    assert rep == {
        d: (v["text_clean"], v["n_removed_tokens"]) for d, v in out.items()
    }


def test_dup_span_plan_single_sort(spark):
    """Structural scale pin: interval merging is ONE doc-partitioned
    sort — both window frames (running max, running sum) share it, and
    the two downstream rollups reuse the doc_id partitioning
    (HashPartitioning(doc_id) satisfies the (doc_id, span_id)
    clustering), so span aggregation adds no exchange after the
    window."""
    import contextlib
    import io
    import re

    from mapping_timeseries_spark.operators.dedup import dup_span_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dup_span_stats(docs).explain("formatted")
    plan = buf.getvalue()
    headers = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
    assert headers.count("Sort") == 1
    assert headers.count("Window") == 2
    assert "CartesianProduct" not in headers


def test_cache_scope_covers_model_operators(spark):
    """The scope contract extends to the model operators: BM25 index
    frames and LM/NB training frames register their pins with
    dedup_cache_scope, so a scoped build-consume cycle persists new
    RDDs inside the scope and leaves none of them cached after it.
    Compared by RDD id, not by count: an unpersist is asynchronous, so
    a count taken right after one can still include leaving RDDs."""
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.operators.search import bm25_index, bm25_topk
    from mapping_timeseries_spark.operators.textmodels import (
        bigram_lm_counts,
        lm_perplexity,
        nb_score,
        nb_train,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    before = persisted_rdd_ids(spark)
    q = spark.createDataFrame([(1, "table value")], ["query_id", "query_text"])
    with dedup_cache_scope():
        assert bm25_topk(bm25_index(docs), q, k=3).count() >= 0
        lm = bigram_lm_counts(docs)
        assert lm_perplexity(docs, lm).count() == 120
        nb = nb_train(
            docs.withColumn("__y", (F.col("doc_id") % 2).cast("int")), "__y"
        )
        assert nb_score(docs, nb).count() == 120
        assert persisted_rdd_ids(spark) - before
    assert new_persisted_rdds(spark, before, settle_s=20) == set()


def test_embedding_decontaminate_planted_paraphrase(spark):
    """Semantic decontamination: a corpus vector that is a tiny
    perturbation of a holdout item (the embedding of a paraphrase)
    is flagged with the right attribution; orthogonal corpus vectors
    are not; output is deterministic under repartitioning and matches
    a DuckDB cosine twin bitwise."""
    import duckdb
    import numpy as np

    from mapping_timeseries_spark.operators.similarity import (
        embedding_decontaminate,
    )

    rng = np.random.default_rng(11)
    d = 16

    def unit(v):
        return (v / np.linalg.norm(v)).tolist()

    h0 = rng.normal(size=d)
    h1 = rng.normal(size=d)
    leak = h0 + rng.normal(scale=0.02, size=d)   # paraphrase of holdout 0
    clean = rng.normal(size=d)                   # unrelated
    corpus = spark.createDataFrame(
        [
            (0, unit(leak), 7),
            (1, unit(clean), 7),
            (2, unit(h1 * 1.5), 7),              # verbatim (scaled) holdout 1
        ],
        "vec_id long, embedding array<double>, label int",
    )
    holdout = spark.createDataFrame(
        [(100, unit(h0)), (101, unit(h1))],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["best_holdout_id"], r["best_sim"])
        for r in embedding_decontaminate(corpus, holdout, 0.95).collect()
    }
    assert set(got) == {0, 2}
    assert got[0][0] == 100 and got[0][1] >= 0.95
    assert got[2][0] == 101 and got[2][1] == 1.0  # scale-invariant cosine

    rep = {
        r["vec_id"]: (r["best_holdout_id"], r["best_sim"])
        for r in embedding_decontaminate(
            corpus.repartition(5), holdout, 0.95
        ).collect()
    }
    assert rep == got

    # DuckDB twin on the real fixture: flag corpus vs the first 10
    # vectors as a stand-in holdout, bitwise row parity. Threshold 0.3
    # sits inside the fixture's real similarity range (max ~0.39) so
    # the comparison is NON-vacuous — 0.9 would compare empty sets.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hold = emb.where(F.col("vec_id") < 10).select("vec_id", "embedding")
    body = emb.where(F.col("vec_id") >= 10)
    got2 = sorted(
        (r["vec_id"], r["best_holdout_id"], r["best_sim"])
        for r in embedding_decontaminate(body, hold, 0.3).collect()
    )
    want = sorted(
        tuple(t)
        for t in duckdb.sql(
            """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM '/root/testdata/sf0.001/embeddings.parquet'
    ),
    p AS (
      SELECT c.vec_id, h.vec_id AS hid,
             round(list_dot_product(c.v, h.v)
                   / (sqrt(list_dot_product(c.v, c.v))
                      * sqrt(list_dot_product(h.v, h.v))), 6) AS sim
      FROM (SELECT * FROM e WHERE vec_id >= 10) c,
           (SELECT * FROM e WHERE vec_id < 10) h
    )
    SELECT vec_id, hid, sim FROM (
      SELECT vec_id, hid, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, hid ASC) AS rn
      FROM p WHERE sim >= 0.3
    ) WHERE rn = 1
    """
        ).fetchall()
    )
    assert got2 == want and got2  # non-vacuous


def test_embedding_decontaminate_zero_norm_guard(spark):
    """Zero-norm vectors (failed embeddings) are excluded on BOTH sides
    instead of silently NULL-dropping (non-ANSI) or throwing
    DIVIDE_BY_ZERO (ANSI): a zero corpus vector is never flagged, a
    zero holdout vector flags nothing, and real pairs still match."""
    from mapping_timeseries_spark.operators.similarity import (
        embedding_decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    holdout = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0]), (101, [2.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["best_holdout_id"], r["best_sim"])
        for r in embedding_decontaminate(corpus, holdout, 0.9).collect()
    }
    assert got == {1: (101, 1.0)}


def test_diversity_profile_recovers_planted_blobs(spark):
    """Three well-separated gaussian blobs with distinct labels: every
    cluster with members is label-pure, shares sum to 1, cohesion is
    high inside blobs, and the profile is deterministic under
    repartitioning. A blob made of near-copies shows higher cohesion
    than a diffuse one — the over-representation signal the audit
    exists to surface."""
    import numpy as np

    from mapping_timeseries_spark.operators.similarity import (
        diversity_profile,
    )

    rng = np.random.default_rng(23)
    d = 8
    centers = [rng.normal(size=d) * 5 for _ in range(3)]
    rows = []
    # INTERLEAVE blobs by vec_id: the deterministic seed quantizer takes
    # the nlist lowest vec_ids as centroids, so ids 0/1/2 must land one
    # per blob for the profile to see three clusters
    for i in range(20):
        for li, c in enumerate(centers):
            scale = 0.01 if li == 0 else 0.6   # blob 0 = near-duplicates
            v = c + rng.normal(scale=scale, size=d)
            rows.append((i * 3 + li, (v / np.linalg.norm(v)).tolist(), li))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    prof = diversity_profile(emb, nlist=3).collect()
    assert sum(r["n_vecs"] for r in prof) == 60
    assert abs(sum(r["share"] for r in prof) - 1.0) < 2e-6  # 6dp thirds
    assert all(r["dominant_share"] == 1.0 for r in prof)  # pure blobs
    by_label = {r["dominant_label"]: r for r in prof}
    assert set(by_label) == {0, 1, 2}
    # near-duplicate blob is more cohesive than the diffuse ones
    assert by_label[0]["mean_centroid_sim"] > by_label[1]["mean_centroid_sim"]
    assert by_label[0]["mean_centroid_sim"] > by_label[2]["mean_centroid_sim"]

    again = diversity_profile(emb.repartition(7), nlist=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, prof))

    # label-free corpora get the size/cohesion profile without the
    # dominance columns
    plain = diversity_profile(
        emb.select("vec_id", "embedding"), nlist=3
    )
    assert plain.columns == [
        "centroid_id", "n_vecs", "share", "mean_centroid_sim"
    ]

    # the Lloyd-refined path actually runs (a kwarg mismatch here once
    # made any refine_iters > 0 a TypeError)
    ref = diversity_profile(emb, nlist=3, refine_iters=1).collect()
    assert sum(r["n_vecs"] for r in ref) == 60

    # zero-norm vectors are excluded (not silently mis-assigned), and
    # an emptied centroid still appears with n_vecs=0 rather than
    # vanishing from the audit
    withzero = emb.unionByName(
        spark.createDataFrame(
            [(999, [0.0] * 8, 9)],
            "vec_id long, embedding array<double>, label int",
        )
    )
    pz = diversity_profile(withzero, nlist=3).collect()
    assert sum(r["n_vecs"] for r in pz) == 60  # the zero vector is out
    lop = diversity_profile(emb, nlist=40)
    rows = lop.collect()
    assert len(rows) == 40                     # one row per centroid
    assert any(r["n_vecs"] == 0 for r in rows)
    empties = [r for r in rows if r["n_vecs"] == 0]
    assert all(
        r["share"] == 0.0 and r["mean_centroid_sim"] is None
        for r in empties
    )


def test_normalize_text_canonicalizes_encoding_variants(spark):
    """Canonicalization closes the encoding-variant dedup hole: composed
    vs decomposed accents become one digest under NFC (DuckDB
    nfc_normalize twin), NFKC folds compatibility ligatures, whitespace
    runs collapse to the same token stream, and exact_dedup AFTER
    normalization catches the planted variant pair it misses before."""
    import duckdb

    from mapping_timeseries_spark.operators.dedup import exact_dedup
    from mapping_timeseries_spark.operators.textstats import normalize_text

    composed = "l'école est ouverte"            # é precomposed
    decomposed = "l'école est ouverte"         # e + combining acute
    rows = [
        (0, composed, "fr"),
        (1, decomposed, "fr"),
        (2, "the  quick\tbrown   fox", "en"),
        (3, "the quick brown fox", "en"),
        (4, "an ﬁne ligature", "en"),           # fi ligature
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    # before: the variant pairs are distinct texts
    assert exact_dedup(docs).count() == 5

    nfc = normalize_text(docs, form="NFC")
    got = {r["doc_id"]: r["text"] for r in nfc.collect()}
    assert got[0] == got[1]                          # accents unified
    assert got[2] == got[3]                          # whitespace collapsed
    assert "ﬁ" in got[4]                        # NFC keeps ligatures
    assert got[1] == duckdb.sql(
        "select trim(regexp_replace(nfc_normalize(?), '[ \t\n\x0b\f\r]+', ' ', 'g'))",
        params=[decomposed],
    ).fetchone()[0]
    # other columns pass through untouched
    assert nfc.columns == ["doc_id", "text", "lang"]
    assert {r["doc_id"]: r["lang"] for r in nfc.collect()}[0] == "fr"

    nfkc = {r["doc_id"]: r["text"] for r in normalize_text(docs, form="NFKC").collect()}
    assert nfkc[4] == "an fine ligature"             # ligature folded

    # dedup after canonicalization: 0/1 and 2/3 collapse
    assert exact_dedup(normalize_text(docs, form="NFC")).count() == 3

    import pytest

    with pytest.raises(ValueError, match="form must be"):
        normalize_text(docs, form="NFX").collect()


def test_ngram_jaccard_rejects_out_of_range_threshold(spark):
    # threshold > 1 makes the PPJoin prefix bound non-positive and
    # F.slice would raise at runtime deep inside the plan; threshold <= 0
    # degenerates to all-pairs. Both rejected at build time (ADVICE r8 #2).
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    for bad in (1.5, 0.0, -0.25):
        with pytest.raises(ValueError, match="threshold"):
            ngram_jaccard_pairs(docs, threshold=bad)


# ---------------------------------------------------------------------------
# Hot-clique candidate bounding (VERDICT r8 #1): star-mode LSH candidates
# ---------------------------------------------------------------------------


def _hot_clique_corpus(spark, k: int, n_noise: int = 25):
    """k near-identical template docs (a ~40-word boilerplate body plus a
    per-doc counter token — they differ byte-wise, so they SURVIVE exact
    dedup, but pairwise bigram Jaccard stays ~0.9) plus n_noise unrelated
    docs. The adversarial input shape for all-pairs LSH candidates."""
    rng = np.random.default_rng(41)
    base = " ".join(rng.choice(WORDS, 40))
    rows = [(i, f"{base} snapshot {i}") for i in range(k)]
    for j in range(n_noise):
        rows.append((10_000 + j, " ".join(rng.choice(WORDS, 40))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_star_candidates_linear_on_hot_clique(spark):
    """On a planted k-clique, all-pairs candidates grow O(k²) while star
    candidates stay bounded by |banded| = docs x bands — the measured
    contract behind the corpus pipeline's neardup_mode='star' default."""
    from mapping_timeseries_spark.operators.dedup import (
        _band_frame,
        _lsh_candidates,
        _shingled,
    )

    k = 120
    docs = _hot_clique_corpus(spark, k)
    sh = _shingled(docs, "text", 2).where(F.col("n_shingles") > 0).persist()
    banded = _band_frame(sh, 32, 8).persist()
    n_banded = banded.count()
    n_pairs = _lsh_candidates(banded, "pairs").count()
    n_star = _lsh_candidates(banded, "star").count()
    # every clique pair agrees on >= 1 band w.p. ~1-(1-0.9^4)^8 ~ 0.9998
    assert n_pairs >= 0.9 * k * (k - 1) / 2, (n_pairs, k)
    # star: at most one edge per (band, bucket) member — linear, and an
    # order of magnitude below all-pairs already at k=120
    assert n_star <= n_banded, (n_star, n_banded)
    assert n_star < n_pairs / 10, (n_star, n_pairs)
    sh.unpersist(); banded.unpersist()

    with pytest.raises(ValueError, match="mode"):
        _lsh_candidates(banded, "both")


def test_lsh_star_clusters_match_all_pairs(spark, noisy_docs):
    """Connected components over verified star edges == components over
    verified all-pairs edges on transitively-similar corpora (the
    planted hot clique AND the mutated-twin fixture) — the recall trade
    documented on _lsh_candidates does not bite when near-dups are
    mutual near-copies."""
    from mapping_timeseries_spark.operators.dedup import dedup_clusters

    for docs in (_hot_clique_corpus(spark, 60), noisy_docs):
        got = {}
        for mode in ("pairs", "star"):
            prs = minhash_lsh_pairs(docs, threshold=0.5, mode=mode)
            got[mode] = sorted(
                (r["doc_id"], r["cluster_id"], r["is_keeper"])
                for r in dedup_clusters(docs, prs).collect()
            )
        assert got["star"] == got["pairs"]


def test_lsh_star_edges_are_verified_subset(spark, noisy_docs):
    """Every star pair is a true verified pair: star output (including
    the jaccard value) is a subset of the all-pairs output."""
    allp = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(noisy_docs, threshold=0.5).collect()
    }
    star = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(
            noisy_docs, threshold=0.5, mode="star"
        ).collect()
    }
    assert star <= allp
    assert star  # non-trivial on the planted-twin fixture


def test_band_keys_exact_with_and_without_carry(spark):
    """_band_frame's bucket key is the band's signature values joined
    with ',' — exact, so no corpus size can saturate the key space —
    and passing columns through (``carry``, the stream's path) leaves
    every (doc_id, band, bucket) row unchanged."""
    from mapping_timeseries_spark.functions.text import (
        MINHASH_PRIME,
        minhash_base_hashes,
        minhash_signature_portable,
    )
    from mapping_timeseries_spark.operators.dedup import _band_frame, _shingled

    docs = _hot_clique_corpus(spark, 30)
    sh = _shingled(docs, "text", 2).where(F.col("n_shingles") > 0).persist()
    plain = {
        (r["doc_id"], r["band"], r["bucket"])
        for r in _band_frame(sh, 32, 8).collect()
    }
    carried = _band_frame(sh, 32, 8, carry=("shingles", "n_shingles"))
    assert carried.columns == [
        "doc_id", "shingles", "n_shingles", "band", "bucket"
    ]
    assert plain == {
        (r["doc_id"], r["band"], r["bucket"])
        for r in carried.select("doc_id", "band", "bucket").collect()
    }
    sigs = {
        r["doc_id"]: r["sig"]
        for r in sh.withColumn("base", minhash_base_hashes(F.col("shingles")))
        .select(
            "doc_id", minhash_signature_portable("base", 32).alias("sig")
        )
        .collect()
    }
    assert len(plain) == 8 * len(sigs)
    for doc_id, band, bucket in plain:
        values = [int(v) for v in bucket.split(",")]
        assert values == sigs[doc_id][band * 4 : band * 4 + 4]
        assert all(0 <= v < MINHASH_PRIME for v in values)
    sh.unpersist()


def test_index_refuses_previous_bucket_key_generation(spark, tmp_path, noisy_docs):
    """An index of the removed seeded-xxhash64 MinHash family
    (meta.json ``portable: false``) has bucket keys that never collide
    with the keys new batches get, so deduping against it would join
    ZERO candidates — silent missed duplicates, not an error. Loading it
    raises with a rebuild message, and so does an index that stores
    string shingles (no ``sets`` in meta.json). An index built now
    loads, and so does a hash-set index whose meta.json has no
    ``bucket_hash`` (its keys are the band values, never re-derived)."""
    import json as _json

    from mapping_timeseries_spark.operators.dedup import (
        build_minhash_index,
        load_minhash_index,
    )

    path = str(tmp_path / "idx")
    build_minhash_index(noisy_docs, path)
    _, _, meta = load_minhash_index(spark, path)  # built now: loads
    assert meta["portable"] is True

    mp = f"{path}/meta.json"
    old_md5 = {k: v for k, v in meta.items() if k != "bucket_hash"}
    with open(mp, "w") as f:
        _json.dump(old_md5, f)
    load_minhash_index(spark, path)  # no bucket_hash: no raise

    with open(mp, "w") as f:
        _json.dump({**meta, "portable": False, "bucket_hash": "xxhash64"}, f)
    with pytest.raises(ValueError, match="rebuild"):
        load_minhash_index(spark, path)

    # an index that stores string shingles (meta.json names no set
    # format) cannot feed the hashed verifier
    with open(mp, "w") as f:
        _json.dump({k: v for k, v in meta.items() if k != "sets"}, f)
    with pytest.raises(ValueError, match="rebuild"):
        load_minhash_index(spark, path)


def test_narrowed_verify_row_identical(spark):
    """narrow_sets_to_participants is candidate-removing-only — the
    hashed verifier joins inner on doc_a/doc_b, so restricting the
    hash-set frame to candidate participants (the broadcast map-side
    filter the x10000 gate runs) must leave the verified edge set
    row-identical, while actually narrowing (the fixture has
    non-candidate docs)."""
    from mapping_timeseries_spark.operators.dedup import (
        _band_frame,
        _lsh_candidates,
        _minhash_sets,
        _verify_jaccard_hashed,
        narrow_sets_to_participants,
    )
    from mapping_timeseries_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    sets = _minhash_sets(docs, "text", 2).persist()
    live = sets.where(F.col("n_shingles") > 0)
    banded = _band_frame(live, 32, 8).persist()
    cand = _lsh_candidates(banded, "star").persist()
    try:
        full = sorted(
            map(tuple, _verify_jaccard_hashed(cand, live, 0.5).collect())
        )
        narrowed = narrow_sets_to_participants(live, cand)
        nv = sorted(
            map(tuple, _verify_jaccard_hashed(cand, narrowed, 0.5).collect())
        )
        assert nv == full and full, "narrowed verify changed the edge set"
        n_narrow, n_full = narrowed.count(), live.count()
        assert n_narrow < n_full, "fixture must have non-candidate docs"
        # the narrowed frame is exactly the participant set
        participants = {
            r[0]
            for r in cand.select("doc_a").union(cand.select("doc_b"))
            .distinct()
            .collect()
        }
        assert n_narrow == len(participants)
    finally:
        sets.unpersist()
        banded.unpersist()
        cand.unpersist()


def test_flag_corpus_plan_starts_no_jobs(spark, noisy_docs, monkeypatch):
    """flag_corpus builds its plan without starting a Spark job outside
    dedup_clusters, whose connected-components rounds must run actions
    to converge. A lazy stand-in replaces dedup_clusters (it still
    reads the pairs), so the job group sees the build of every other
    stage, the MinHash pairs included."""
    from mapping_timeseries_spark.plans import corpus_pipeline

    def lazy_clusters(docs, pairs):
        dup = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        return docs.select("doc_id").join(
            dup.withColumn("__dup", F.lit(1)), "doc_id", "left"
        ).select(
            "doc_id",
            F.lit(0).alias("cluster_id"),
            F.col("__dup").isNull().cast("int").alias("is_keeper"),
        )

    monkeypatch.setattr(corpus_pipeline, "dedup_clusters", lazy_clusters)
    holdout = noisy_docs.where(F.col("doc_id") < 4).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    with dedup_cache_scope():
        with job_group(spark.sparkContext, "flag-corpus-build") as jobs:
            flagged = corpus_pipeline.flag_corpus(noisy_docs, holdout)
        assert jobs == []
        # the plan still evaluates: planted twins lose their neardup flag
        rows = flagged.select("doc_id", "pass_neardup").collect()
    assert len(rows) == 60
    assert 0 < sum(r["pass_neardup"] for r in rows) < 60


#: Spark jobs one minhash_lsh_pairs(mode="star") call and the collect
#: of its result may start on noisy_docs (local[4], 4 shuffle
#: partitions, AQE on). Measured 12: under AQE each query stage of the
#: star candidates and of the two shuffle-hash verify joins is its own
#: job. The auto narrow/wide path it replaced started 14, two of them
#: approx-distinct counts collected while the plan was built. A rise
#: fails here before it shows in a benchmark.
MINHASH_LSH_PAIRS_JOB_BUDGET = 12


def test_minhash_lsh_pairs_job_budget(spark, noisy_docs):
    with dedup_cache_scope():
        with job_group(spark.sparkContext, "minhash-pairs-budget") as jobs:
            rows = minhash_lsh_pairs(noisy_docs, mode="star").collect()
    assert rows
    assert len(jobs) <= MINHASH_LSH_PAIRS_JOB_BUDGET, len(jobs)


def test_minhash_paths_jaccard_equals_string_sets(spark, noisy_docs, tmp_path):
    """Bound on the 64-bit collision approximation of the hashed
    verifier: every pair the MinHash paths emit carries exactly the
    Jaccard of the two docs' STRING shingle sets, computed in Python
    from _shingled rows — batch pairs and star, incremental against a
    stored index, and a stream drain against the same index."""
    import shutil

    from mapping_timeseries_spark.operators.dedup import (
        _shingled,
        build_minhash_index,
        load_minhash_index,
        minhash_dedup_incremental,
        minhash_dedup_stream,
    )
    from mapping_timeseries_spark.streaming.windows import run_to_memory

    sets = {
        r["doc_id"]: set(r["shingles"])
        for r in _shingled(noisy_docs, "text", 2).collect()
    }

    def check(rows):
        assert rows
        for r in rows:
            a, b = sets[r["doc_a"]], sets[r["doc_b"]]
            assert r["jaccard"] == len(a & b) / len(a | b), r

    # planted twins are consecutive ids: even bases indexed, odd twins new
    old = noisy_docs.where(F.col("doc_id") % 2 == 0)
    new = noisy_docs.where(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "idx")
    build_minhash_index(old, path)
    bands_df, hsets_df, meta = load_minhash_index(spark, path)
    with dedup_cache_scope():
        for mode in ("pairs", "star"):
            check(minhash_lsh_pairs(noisy_docs, mode=mode).collect())
        check(minhash_dedup_incremental(new, bands_df, hsets_df).collect())

    src = tmp_path / "stream_src"
    src.mkdir()
    new.coalesce(1).write.parquet(str(tmp_path / "b0"))
    shutil.copy(
        next((tmp_path / "b0").glob("part-*.parquet")), src / "part-0.parquet"
    )
    stream = spark.readStream.schema(new.schema).parquet(str(src))
    out = run_to_memory(
        minhash_dedup_stream(
            stream,
            bands_df,
            hsets_df,
            n=meta["n"],
            num_hashes=meta["num_hashes"],
            bands=meta["bands"],
        ),
        "t_minhash_stream_exact",
        output_mode="append",
    )
    check(out.collect())
