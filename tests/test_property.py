from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from mapping_timeseries_spark.operators.dtw import dtw_align
from mapping_timeseries_spark.operators.correlation import best_lag_correlation

from .oracles import best_lag_oracle, dtw_oracle

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)
series = st.lists(finite, min_size=1, max_size=25)


@settings(max_examples=60, deadline=None)
@given(a=series, b=series, window=st.sampled_from([None, 1, 2, 5]),
       normalize=st.booleans())
def test_dtw_property(a, b, window, normalize):
    a = np.array(a)
    b = np.array(b)
    cost, path = dtw_align(a, b, window=window, normalize=normalize)
    ocost, opath = dtw_oracle(a, b, window=window, normalize=normalize)
    if np.isinf(ocost):
        assert np.isinf(cost)
        return
    # EXACT since r5: wavefront accumulate is bitwise-equal to the
    # sequential DP, so cost and the tie-broken path match exactly
    assert cost == ocost
    assert path == opath
    if window is not None:
        assert all(abs(i - j) <= window for i, j in path)


def test_best_lag_fuzz_adversarial(spark):
    """Nasty entity shapes in one Spark pass: constants, zeros, negatives,
    n=1, n=2, monotones — each must match the numpy reference semantics."""
    rng = np.random.default_rng(41)
    rows = []
    specs = {}
    for e in range(40):
        kind = e % 8
        n = [1, 2, 3, 5, 8, 13, 24, 24][kind]
        if kind == 0:
            txn, rev = [5.0], [1.0]
        elif kind == 1:
            txn, rev = [3.0, 3.0], [7.0, 7.0]          # constants, n=2
        elif kind == 2:
            txn, rev = [0.0] * 3, [0.0] * 3            # all zeros
        elif kind == 3:
            txn = list(range(5)); rev = list(range(5, 0, -1))  # anti-corr
        else:
            txn = rng.uniform(-100, 100, n).tolist()
            rev = rng.uniform(-100, 100, n).tolist()
        cus = f"E{e:03d}"
        specs[cus] = (np.array(txn), np.array(rev))
        for i in range(n):
            rows.append((cus, f"20{10 + i // 12}-{i % 12 + 1:02d}",
                         float(txn[i]), float(rev[i])))
    df = spark.createDataFrame(
        rows, "cus_code string, month string, txn_amount double, revenue double"
    )
    got = {r["cus_code"]: r for r in best_lag_correlation(df, 6).collect()}
    assert set(got) == set(specs)
    for cus, (txn, rev) in specs.items():
        lag, corr = best_lag_oracle(txn, rev, 6)
        assert got[cus]["optimal_lag"] == lag, cus
        assert got[cus]["correlation"] == pytest.approx(corr, abs=1e-9), cus


def _union_find_components(n_docs, pairs):
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min doc id per component
    return {x: min(y for y in range(n_docs) if find(y) == find(x))
            for x in range(n_docs)}


def test_dedup_clusters_fuzz_vs_union_find(spark):
    """Random pair graphs (dense, sparse, self-loop-free) in one Spark
    pass each vs a pure-python union-find oracle, plus an 80-node sparse
    graph of mixed component shapes, the edge set {(7,5), (5,2), (7,1)},
    and the path 2-5-6-9-3, which after one star round has no chained
    edge but one src with two out-edges (a probe that checked only
    chains would stop there with a split component)."""
    from mapping_timeseries_spark.operators.dedup import dedup_clusters

    rng = np.random.default_rng(43)
    graphs = []
    for n_docs, n_pairs in [(30, 50), (40, 12), (25, 0)]:
        pairs = set()
        while len(pairs) < n_pairs:
            a, b = rng.integers(0, n_docs, 2)
            if a != b:
                pairs.add((int(min(a, b)), int(max(a, b))))
        graphs.append((n_docs, pairs))
    mixed = np.random.default_rng(53).integers(0, 80, size=(60, 2))
    graphs.append((80, {(int(a), int(b)) for a, b in mixed if a != b}))
    graphs.append((8, {(7, 5), (5, 2), (7, 1)}))
    graphs.append((10, {(2, 5), (5, 6), (6, 9), (3, 9)}))
    for trial, (n_docs, pairs) in enumerate(graphs):
        docs = spark.createDataFrame([(i,) for i in range(n_docs)], "doc_id long")
        pdf = spark.createDataFrame(
            list(pairs) or [(0, 0)], "doc_a long, doc_b long"
        )
        if not pairs:  # empty-pairs edge: every doc its own cluster
            pdf = pdf.where("doc_a != doc_a")
        rows = dedup_clusters(docs, pdf).collect()
        got = {r["doc_id"]: r["cluster_id"] for r in rows}
        want = _union_find_components(n_docs, pairs)
        assert got == want, (trial, got, want)
        assert all(r["is_keeper"] == (r["doc_id"] == r["cluster_id"]) for r in rows)


@settings(max_examples=120, deadline=None)
@given(
    doc_id=st.integers(min_value=0, max_value=10**9),
    text=st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=400,
    ),
)
def test_wav_roundtrip_property(doc_id, text):
    """synth_wav -> parse_wav is lossless for any unicode text: the real
    RIFF parser must recover exactly the formula-defined PCM samples
    (including >256-char truncation and empty payloads)."""
    from mapping_timeseries_spark.operators.multimodal import (
        parse_wav,
        synth_wav,
    )

    feats = parse_wav(synth_wav(doc_id, text))
    samples = [
        ((ord(c) * 257 + i * 7919 + doc_id * 31) % 65536) - 32768
        for i, c in enumerate(text[:256])
    ]
    assert feats["n_samples"] == len(samples)
    assert feats["sample_rate"] == 8000
    assert feats["pcm_sum"] == sum(samples)
    assert feats["pcm_sumsq"] == sum(s * s for s in samples)
    assert feats["pcm_min"] == (min(samples) if samples else None)
    assert feats["pcm_max"] == (max(samples) if samples else None)


@settings(max_examples=40, deadline=None)
@given(
    doc_id=st.integers(min_value=0, max_value=10**9),
    text=st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=400,
    ),
    factor=st.sampled_from([1, 2, 3, 5]),
)
def test_bmp_roundtrip_and_resize_property(doc_id, text, factor):
    """synth_bmp -> parse_bmp recovers the formula-exact channel sums
    for any unicode text (incl. empty -> one black row), and
    nearest-neighbor resize emits a valid container whose dims are
    ceil(dim/factor) and whose pixels are a subset of the source's."""
    from mapping_timeseries_spark.operators.multimodal import (
        parse_bmp,
        resize_bmp,
        synth_bmp,
    )

    bmp = synth_bmp(doc_id, text)
    got = parse_bmp(bmp)
    n = min(len(text), 256)
    height = max(1, -(-n // 15))
    assert (got["width"], got["height"], got["n_px"]) == (15, height, 15 * height)
    assert got["sum_r"] == sum(
        (ord(c) * 7 + k * 17) % 256 for k, c in enumerate(text[:256])
    )
    assert got["sum_g"] == sum(
        (ord(c) * 5 + k * 13) % 256 for k, c in enumerate(text[:256])
    )
    assert got["sum_b"] == sum(
        (ord(c) * 3 + k * 11 + doc_id) % 256 for k, c in enumerate(text[:256])
    )
    small = parse_bmp(resize_bmp(bmp, factor))
    assert small["width"] == -(-15 // factor)
    assert small["height"] == -(-height // factor)
    # channel sums of a sampled subset never exceed the full image's
    assert small["sum_r"] <= got["sum_r"]
    if factor == 1:
        assert small == got


@settings(max_examples=25, deadline=None)
@given(
    doc_id=st.integers(min_value=0, max_value=10**9),
    text=st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=120,
    ),
    stride=st.sampled_from([1, 2, 3, 7, 8]),
)
def test_avi_roundtrip_property(doc_id, text, stride):
    """synth_avi -> parse_avi recovers the formula-exact sums for any
    text and any sampling stride; stride=1 equals the per-frame sums
    accumulated by hand."""
    from mapping_timeseries_spark.operators.multimodal import (
        AVI_FRAMES,
        AVI_HEIGHT,
        AVI_WIDTH,
        parse_avi,
        synth_avi,
    )

    avi = synth_avi(doc_id, text)
    got = parse_avi(avi, frame_stride=stride)
    n = len(text)
    npx = AVI_WIDTH * AVI_HEIGHT
    frames = range(0, AVI_FRAMES, stride)

    def cp(f, k):
        return ord(text[(f + k) % n]) if n else 97

    assert got["n_frames"] == AVI_FRAMES
    assert got["n_sampled"] == len(frames)
    assert got["sum_r"] == sum(
        (cp(f, k) * 7 + k * 17 + f * 29) % 256
        for f in frames for k in range(npx)
    )
    assert got["sum_g"] == sum(
        (cp(f, k) * 5 + k * 13 + f * 23) % 256
        for f in frames for k in range(npx)
    )
    assert got["sum_b"] == sum(
        (cp(f, k) * 3 + k * 11 + f * 19 + doc_id) % 256
        for f in frames for k in range(npx)
    )


def test_exact_median_fuzz_one_pass(spark):
    """Random group shapes — odd/even sizes, duplicate-heavy, tiny — in
    ONE Spark pass vs np.median per group."""
    from mapping_timeseries_spark.operators.relational import (
        exact_median_grouped,
    )

    rng = np.random.default_rng(47)
    rows, want = [], {}
    for g in range(40):
        n = int(rng.integers(1, 60))
        if g % 3 == 0:  # duplicate-heavy: few distinct values
            vals = rng.choice([1.0, 2.0, 2.5, 9.0], size=n).tolist()
        else:
            vals = rng.normal(0, 100, n).round(3).tolist()
        key = f"G{g:02d}"
        want[key] = float(np.median(vals))
        rows += [(key, float(v)) for v in vals]
    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    got = {
        r["k"]: r["median"]
        for r in exact_median_grouped(df, ["k"], "v").collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=0.0), k


def test_dup_span_fuzz_vs_bruteforce(spark):
    """Random small-vocab corpus (collisions everywhere) in one Spark
    pass: per-doc span stats and the rewrite must match a brute-force
    positional-k-gram/interval-merge oracle exactly, including docs
    shorter than k and the empty doc."""
    from mapping_timeseries_spark.operators.dedup import (
        dup_span_stats,
        remove_dup_spans,
    )

    rng = np.random.default_rng(73)
    vocab = ["ax", "bo", "cu", "de", "ek", "fi"]
    k, min_docs = 3, 2
    texts = {}
    for d in range(30):
        n = int(rng.integers(0, 15))
        texts[d] = " ".join(rng.choice(vocab, size=n)) if n else ""
    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], ["doc_id", "text"]
    )

    # brute-force oracle
    grams: dict = {}
    for d, t in texts.items():
        ws = t.split()
        for i in range(len(ws) - k + 1):
            grams.setdefault(" ".join(ws[i : i + k]), set()).add(d)
    expect = {}
    for d, t in texts.items():
        ws = t.split()
        covered = set()
        for i in range(len(ws) - k + 1):
            if len(grams[" ".join(ws[i : i + k])]) >= min_docs:
                covered.update(range(i, i + k))
        spans = 0
        prev = None
        for p in sorted(covered):
            if prev is None or p > prev + 1:
                spans += 1
            prev = p
        clean = " ".join(w for i, w in enumerate(ws) if i not in covered)
        expect[d] = (len(ws), spans, len(covered), clean)

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
        for r in dup_span_stats(docs, k=k, min_docs=min_docs).collect()
    }
    assert got == {d: v[:3] for d, v in expect.items()}
    clean = {
        r["doc_id"]: (r["text_clean"], r["n_removed_tokens"])
        for r in remove_dup_spans(docs, k=k, min_docs=min_docs).collect()
    }
    assert clean == {d: (v[3], v[2]) for d, v in expect.items()}
    assert any(v[2] > 0 for v in expect.values())  # non-vacuous


def test_bm25_fuzz_vs_bruteforce(spark):
    """Random corpus + random queries in one Spark pass vs a from-scratch
    Python BM25 with the identical integer micro-score contract: full
    ranked lists (ids, ranks, hit counts, 6dp scores) must be equal."""
    import math

    from mapping_timeseries_spark.operators.search import (
        SCORE_SCALE,
        bm25_index,
        bm25_topk,
    )

    rng = np.random.default_rng(97)
    vocab = ["red", "blue", "iron", "silk", "moon", "rock", "tide", "fern"]
    texts = {
        d: " ".join(rng.choice(vocab, size=int(rng.integers(1, 12))))
        for d in range(25)
    }
    queries = {
        q: " ".join(rng.choice(vocab, size=int(rng.integers(1, 3)), replace=False))
        for q in range(1, 5)
    }
    k1, b, k = 1.2, 0.75, 6

    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    qdf = spark.createDataFrame(list(queries.items()), ["query_id", "query_text"])
    got = sorted(
        map(tuple, bm25_topk(bm25_index(docs), qdf, k=k, k1=k1, b=b).collect())
    )

    # oracle
    tf: dict = {}
    dl = {}
    for d, t in texts.items():
        ws = t.split()
        dl[d] = len(ws)
        for w in ws:
            tf[(w, d)] = tf.get((w, d), 0) + 1
    df = {}
    for (w, d) in tf:
        df[w] = df.get(w, 0) + 1
    n = len(texts)
    avgdl = sum(dl.values()) / n
    want = []
    for q, qt in queries.items():
        scores = {}
        hits = {}
        for w in set(qt.split()):
            if w not in df:
                continue
            idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
            for d in texts:
                if (w, d) in tf:
                    t = tf[(w, d)]
                    c = idf * (t * (k1 + 1.0) / (t + k1 * (1 - b + b * dl[d] / avgdl)))
                    scores[d] = scores.get(d, 0) + int(round(c * SCORE_SCALE))
                    hits[d] = hits.get(d, 0) + 1
        ranked = sorted(scores, key=lambda d: (-scores[d], d))[:k]
        for r, d in enumerate(ranked, 1):
            want.append((q, d, r, hits[d], round(scores[d] / SCORE_SCALE, 6)))
    assert got == sorted(want) and got


def test_line_dedup_fuzz_vs_duckdb_twin(spark):
    """Randomized multi-line corpora (repeated boilerplate lines, blank
    runs, NULLs, whitespace-only lines) through BOTH line_dedup modes,
    compared against a from-scratch DuckDB recomputation on the line
    STRINGS — hardens the r7 two-phase (hash count -> string-verified)
    formulation on shapes the planted fixtures don't cover."""
    import random

    import duckdb
    import pandas as pd

    from mapping_timeseries_spark.operators.dedup import line_dedup

    rng = random.Random(20260815)
    boiler = [f"boiler {i} line" for i in range(4)]
    uniq_id = [0]

    def rand_doc():
        n = rng.randint(0, 6)
        lines = []
        for _ in range(n):
            r = rng.random()
            if r < 0.35:
                lines.append(rng.choice(boiler))
            elif r < 0.45:
                lines.append("")
            elif r < 0.52:
                lines.append("   ")
            else:
                uniq_id[0] += 1
                lines.append(f"unique content {uniq_id[0]}")
        return "\n".join(lines)

    for trial in range(3):
        rows = [
            (i, None if rng.random() < 0.05 else rand_doc())
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        con = duckdb.connect()
        con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))

        def twin(mode):
            drop = (
                "o.n > 1 AND NOT (l.doc_id = o.first.doc_id "
                "AND l.pos = o.first.pos)"
                if mode == "keep_first"
                else "o.n > 1"
            )
            return {
                int(r[0]): (r[1], int(r[2]), int(r[3]))
                for r in con.execute(f"""
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
                             coalesce({drop}, false) AS dropped
                      FROM lines l LEFT JOIN owners o ON l.line = o.line
                    )
                    SELECT doc_id,
                           coalesce(string_agg(
                               CASE WHEN NOT dropped THEN line END,
                               chr(10) ORDER BY pos), '') AS text,
                           count(*) AS n_lines,
                           sum(dropped::INT) AS n_removed
                    FROM verdicts GROUP BY doc_id
                """).fetchall()
            }

        for mode in ("keep_first", "drop_all"):
            got = {
                r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
                for r in line_dedup(docs, mode=mode).collect()
            }
            assert got == twin(mode), (trial, mode)


def test_word_shingles_fuzz_vs_python_reference(spark):
    """The r8 zip_with-over-slices shingle builder must emit EXACTLY the
    arrays the straightforward Python formulation does — same grams,
    same order (array_distinct keeps first occurrences, so order is
    part of the contract every hash consumer sees) — across n values,
    duplicate-heavy text, short docs, and empty/whitespace docs. Guards
    the rewrite (the old element_at form was O(grams^2) under explode;
    a future 'optimization' must not change a single array)."""
    import random

    from pyspark.sql import functions as F

    from mapping_timeseries_spark.functions.text import (
        tokens,
        word_shingles_from_tokens,
    )

    rng = random.Random(80)
    vocab = ["a", "b", "c", "dd", "eee", "f9", "longword"]
    rows = [(0, ""), (1, "   "), (2, "solo"), (3, "a a a a a a a a")]
    rows += [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(4, 60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def py_shingles(text: str, n: int) -> list:
        toks = text.split()
        if len(toks) < n:
            return []
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        seen, out = set(), []
        for g in grams:
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    for n in (1, 2, 3, 5):
        got = {
            r["doc_id"]: list(r["sh"])
            for r in docs.select(
                "doc_id", tokens(F.col("text")).alias("__t")
            )
            .select(
                "doc_id",
                word_shingles_from_tokens(F.col("__t"), n).alias("sh"),
            )
            .collect()
        }
        want = {i: py_shingles(t, n) for i, t in rows}
        assert got == want, f"n={n}"


def test_char_shingles_contract(spark):
    """char_shingles' documented edges: blank docs yield EMPTY arrays
    (never a degenerate [''] that would clique blank docs together),
    docs shorter than n yield their whole trimmed text as the single
    shingle, and grams are distinct in first-occurrence order."""
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.functions.text import char_shingles

    rows = [
        (0, ""),
        (1, "   "),
        (2, "ab"),
        (3, "abcab"),
        (4, "  xyz  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["sh"])
        for r in docs.select(
            "doc_id", char_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert got[0] == [] and got[1] == []
    assert got[2] == ["ab"]                      # shorter than n
    assert got[3] == ["abc", "bca", "cab"]       # distinct, in order
    assert got[4] == ["xyz"]                     # trimmed first
