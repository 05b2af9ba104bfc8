"""BM25 retrieval: ranking sanity on planted corpora, a DuckDB hash
twin over the real documents fixture (same pattern as vocab_counts —
hashes must match bitwise, proving the integer micro-score contract),
and layout determinism."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from mapping_timeseries_spark.operators.search import (
    SCORE_SCALE,
    bm25_index,
    bm25_topk,
)

SF = "/root/testdata/sf0.001"


def test_bm25_ranks_relevance(spark):
    """A doc matching both query terms outranks single-term docs; a
    rare term outweighs a common one at equal tf; longer docs are
    penalized at equal matches."""
    docs = spark.createDataFrame(
        [
            (0, "spark shuffle spill tuning"),
            (1, "spark overview and intro basics"),
            (2, "shuffle service deep dive"),
            (3, "cooking pasta recipes tonight"),
            (4, "spark shuffle " + "padding " * 30),
        ],
        ["doc_id", "text"],
    )
    idx = bm25_index(docs)
    q = spark.createDataFrame([(1, "spark shuffle")], ["query_id", "query_text"])
    res = bm25_topk(idx, q, k=10).orderBy("rank").collect()
    ranked = [r["doc_id"] for r in res]
    assert ranked[0] == 0                      # both terms, short doc
    assert 3 not in ranked                     # no query term -> never a candidate
    assert ranked.index(0) < ranked.index(4)   # length normalization bites
    by_doc = {r["doc_id"]: r for r in res}
    assert by_doc[0]["n_hit_terms"] == 2
    assert by_doc[1]["n_hit_terms"] == 1
    assert all(r["score"] > 0 for r in res)


def test_bm25_rare_term_beats_common(spark):
    docs = spark.createDataFrame(
        [(i, "common filler words here") for i in range(8)]
        + [(8, "common zebra"), (9, "common aardvark")],
        ["doc_id", "text"],
    )
    idx = bm25_index(docs)
    q = spark.createDataFrame(
        [(1, "common zebra")], ["query_id", "query_text"]
    )
    res = bm25_topk(idx, q, k=3).orderBy("rank").collect()
    assert res[0]["doc_id"] == 8  # the doc with the rare term wins


def test_bm25_matches_duckdb_twin_on_fixture(spark):
    """Full-pipeline hash parity on the real corpus: DuckDB recomputes
    postings/df/dl/idf/tf-saturation with the same md5 60-bit hashes and
    the same integer micro-score accumulation. Bitwise-equal scores and
    identical ranked sets prove the determinism contract end-to-end."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = bm25_index(docs)
    queries = spark.createDataFrame(
        [(1, "table scan filter"), (2, "spark shuffle join"), (3, "value row")],
        ["query_id", "query_text"],
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["n_hit_terms"], r["score"])
        for r in bm25_topk(idx, queries, k=5).collect()
    )

    want = sorted(
        tuple(t)
        for t in duckdb.sql(
            f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
      FROM '{SF}/documents.parquet'
    ),
    words AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS wh
      FROM (SELECT doc_id, unnest(t) AS w FROM docs)
    ),
    postings AS (SELECT wh, doc_id, count(*)::BIGINT AS tf FROM words GROUP BY wh, doc_id),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM words GROUP BY doc_id),
    dfq AS (SELECT wh, count(*)::BIGINT AS df FROM postings GROUP BY wh),
    tot AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS tl FROM dl),
    q(query_id, query_text) AS (VALUES (1, 'table scan filter'), (2, 'spark shuffle join'), (3, 'value row')),
    qt AS (
      SELECT DISTINCT query_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS wh
      FROM (SELECT query_id,
                   unnest(list_filter(string_split_regex(trim(query_text), '\\s+'), t -> t != '')) AS w
            FROM q)
    ),
    cand AS (
      SELECT qt.query_id, p.doc_id, count(*)::BIGINT AS n_hit_terms,
             sum(round(
               ln(1.0 + (tot.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * (p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / (tot.tl * 1.0 / tot.n))))
               * {SCORE_SCALE})::BIGINT) AS micro
      FROM qt JOIN dfq USING (wh) JOIN postings p USING (wh)
              JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN tot
      GROUP BY qt.query_id, p.doc_id
    )
    SELECT query_id,
           row_number() OVER (PARTITION BY query_id ORDER BY micro DESC, doc_id ASC)::INT AS rank,
           doc_id, n_hit_terms, round(micro / {float(SCORE_SCALE)}, 6) AS score
    FROM cand
    QUALIFY rank <= 5
    """
        ).fetchall()
    )
    assert got == want and got  # non-vacuous


def test_bm25_layout_determinism_and_empty_index(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    q = spark.createDataFrame([(1, "table value")], ["query_id", "query_text"])
    a = sorted(map(tuple, bm25_topk(bm25_index(docs), q, k=5).collect()))
    b = sorted(
        map(
            tuple,
            bm25_topk(
                bm25_index(docs.repartition(13, "text")),
                q.repartition(3),
                k=5,
            ).collect(),
        )
    )
    assert a == b and a

    # empty index: no postings -> no candidates -> empty result (the
    # lazy-totals contract means emptiness is not knowable at call time)
    empty = docs.where(F.lit(False))
    assert bm25_topk(bm25_index(empty), q).count() == 0


def _plan_headers(df):
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return re.findall(r"^\(\d+\) (\w+)", buf.getvalue(), flags=re.M)


def test_bm25_plan_shape(spark):
    """Structural scale pins: the df join and the candidate probe are
    broadcast joins (the vocabulary-sized tables never shuffle to meet
    the tiny query side), and nothing in the plan is a cartesian
    product over corpus-sized inputs (the totals cross join is 1-row
    broadcast by construction)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = spark.createDataFrame([(1, "table value")], ["query_id", "query_text"])
    plan = _plan_headers(bm25_topk(bm25_index(docs), q, k=5))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # BroadcastNestedLoopJoin appears ONLY for the 1-row totals frame
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_bm25_index_append_equals_rebuild(spark, tmp_path):
    """Incremental index maintenance: build on the 80% slice, append
    the 20% batch — queries over the loaded index are bitwise-equal to
    a full rebuild over the union (postings/dl are the only persisted
    state and appended rows are disjoint, so the re-derived df/totals
    cannot drift). Commit-marker and id-reuse contracts enforced."""
    import json
    import os

    from mapping_timeseries_spark.operators.search import (
        bm25_index_append,
        bm25_index_load,
        bm25_index_write,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "bm25_idx")

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        bm25_index_load(spark, path)
    with _pytest.raises(FileNotFoundError):
        bm25_index_append(new, path)

    bm25_index_write(old, path)
    bm25_index_append(new, path)

    q = spark.createDataFrame(
        [(1, "table scan filter"), (2, "spark shuffle join")],
        ["query_id", "query_text"],
    )
    cols = ["query_id", "rank", "doc_id", "n_hit_terms", "score"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in bm25_topk(bm25_index_load(spark, path), q, k=5).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in bm25_topk(bm25_index(docs), q, k=5).collect()
    )
    assert got == want and got

    # compaction: appended indexes fragment; the rewrite must not
    # change what the index serves, and the commit marker stays valid
    from mapping_timeseries_spark.operators.search import bm25_index_compact

    files_before = len(
        spark.read.parquet(os.path.join(path, "postings")).inputFiles()
    )
    bm25_index_compact(spark, path, target_file_mb=64)
    files_after = len(
        spark.read.parquet(os.path.join(path, "postings")).inputFiles()
    )
    assert files_after <= files_before
    got_compacted = sorted(
        tuple(r[c] for c in cols)
        for r in bm25_topk(bm25_index_load(spark, path), q, k=5).collect()
    )
    assert got_compacted == want

    # id reuse refused (appending the same batch twice)
    with _pytest.raises(ValueError, match="doc_id reuse"):
        bm25_index_append(new, path)

    # interrupted append detected: stale committed count -> loud load
    # failure, never a silently-partial index
    meta_path = os.path.join(path, "meta.json")
    meta = json.load(open(meta_path))
    good_meta = dict(meta)
    meta["n_docs"] -= 1
    json.dump(meta, open(meta_path, "w"))
    with _pytest.raises(ValueError, match="interrupted"):
        bm25_index_load(spark, path)
    json.dump(good_meta, open(meta_path, "w"))

    # the postings-first crash window: postings landed, dl
    # did not. dl count still equals meta n_docs, so the old dl-only
    # check passed and a re-run append double-counted the batch. Now:
    # load fails on the postings count, and append REFUSES the torn
    # index (it validates both counts before the doc_id probe).
    stored_postings = spark.read.parquet(os.path.join(path, "postings"))
    orphan = spark.createDataFrame(
        [(123456789, 999999999, 1)], ["wh", "doc_id", "tf"]
    ).select(
        *[F.col(f.name).cast(f.dataType) for f in stored_postings.schema.fields]
    )
    orphan.write.mode("append").parquet(os.path.join(path, "postings"))
    with _pytest.raises(ValueError, match="postings"):
        bm25_index_load(spark, path)
    fresh = docs.where(F.col("doc_id") % 7 == 3).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    with _pytest.raises(ValueError, match="interrupted"):
        bm25_index_append(fresh, path)
