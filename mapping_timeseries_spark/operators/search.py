"""Keyword search: BM25 top-k retrieval over a DataFrame inverted index
(SURVEY §2.11) — the lexical counterpart to the embedding-side
cosine/ANN/IVF family in ``similarity.py``.

Scale design
------------
- The "index" is the classic inverted layout as a DataFrame:
  (term-hash, doc_id, tf) plus a per-doc length table and a per-term
  document-frequency table — all derived in ONE corpus scan and keyed by
  60-bit portable hashes so no shuffle ever carries term strings.
- Candidate generation is an equi-join from query terms to postings on
  the term hash: only documents containing at least one query term are
  ever touched (inverted-index semantics, not a corpus scan per query).
  The query-term side is tiny (queries × terms) and broadcasts.
- Per-(query, doc) accumulation is a groupBy that partial-aggregates
  map-side; the final top-k is a per-query window over candidate rows
  only (bounded by postings hit, not corpus size).

Determinism contract: a BM25 score is a float SUM of per-term
contributions, and float sums are partition-order-dependent — so each
term contribution is scaled to an integer micro-score
(``round(score * 1e9)`` bigint) before aggregation, exactly like the
micro-nat move in ``textmodels``. Ranking orders by the integer sum
with doc_id as the total tie-break, so result sets and ranks are
bitwise-stable across engines and layouts.

BM25 variant: Lucene/Robertson non-negative idf
``ln(1 + (N - df + 0.5) / (df + 0.5))`` with the standard tf saturation
``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``; ``avgdl`` uses exact
integer corpus totals (sum of lengths / N as one IEEE division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import portable_hash64, tokens
from ..materialize import dedup_cache_scope, scoped_pin
from ..sources.index_store import IndexStore
from ..sources.readers import ensure_parallel

__all__ = [
    "bm25_index",
    "bm25_topk",
    "bm25_index_write",
    "bm25_index_load",
    "bm25_index_append",
    "bm25_index_compact",
]

#: Integer scale for per-term BM25 contributions (order-independent sums).
SCORE_SCALE = 1_000_000_000


def bm25_index(docs: DataFrame, text_col: str = "text") -> dict:
    """Build the inverted index frames from one corpus scan: postings
    (wh, doc_id, tf), doc lengths (doc_id, dl), document frequencies
    (wh, df) and the corpus totals (n_docs, total_len) as a LAZY 1-row
    frame — building the index triggers no Spark job (the totals are
    cross-joined into the scoring expression at query time, not
    collected to the driver), so an index build composes into larger
    plans without eager side effects, and a benched cold query pays the
    REAL full cost including this scan.

    Postings/df are vocabulary×doc-bounded; the corpus text itself is
    never referenced again after this scan — at 100 TB the index frames
    are what you persist, not the documents.
    """
    words = (
        ensure_parallel(docs)
        .select("doc_id", F.explode(tokens(F.col(text_col))).alias("__w"))
        .select("doc_id", portable_hash64(F.col("__w")).alias("wh"))
    )
    postings = words.groupBy("wh", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # vocab-key gate: postings has FOUR consumers in a
    # cold scoring plan (dl, df, totals via dl, and the probe join), and
    # Spark materializes a cold cache CONCURRENTLY from every consumer's
    # first stage — profiled at sf0.1, one cold bm25_topk action ran the
    # corpus tokenize+aggregate FOUR times in parallel ("Block already
    # exists; not re-adding" warnings, 4x ~7 s executor time). Routing
    # every consumer through one hash exchange on the term key makes AQE
    # stage reuse materialize the pin exactly once per action; the
    # exchange moves only the narrow (wh, doc_id, tf) rows — never the
    # corpus text — and dfreq's groupBy("wh") reuses the partitioning.
    # Two independent interleaved A/Bs at sf0.1 (rows identical): warm
    # medians 2.11/1.91 -> 1.96/1.68 s, and on a decaying-load box
    # medians 2.57 -> 2.35 s with tied quiet-floor mins (2.10/2.12,
    # artifacts/r13_shape_ab_results.json) — never worse, and at scale the
    # three redundant corpus passes it removes dominate.
    postings = scoped_pin(postings).repartition(F.col("wh"))
    # aggregate before you shuffle: dl derives from
    # POSTINGS (sum of per-term tf per doc == the doc's token count —
    # identical bigint arithmetic), not from the raw token stream. The
    # exploded corpus-token frame then has exactly ONE consumer, so its
    # pin is gone: before, `words` (corpus-token-sized, the largest
    # frame in the operator) was persisted just to feed two groupBys;
    # now the only frame ever cached or re-read is the vocabulary×doc
    # bounded postings table. At 100 TB that removes a corpus-scale
    # cache and replaces a second full-token aggregation with one over
    # the much smaller postings. Results bitwise identical
    # (append==rebuild and query pins unchanged, pytest).
    dl = postings.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("dl")
    )
    totals = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("total_len"),
    )
    dfreq = postings.groupBy("wh").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    return {"postings": postings, "dl": dl, "df": dfreq, "totals": totals}


def bm25_topk(
    index: dict,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "query_text",
) -> DataFrame:
    """BM25 top-``k`` documents per query. ``queries`` is
    (query_id, query_text); scoring uses DISTINCT query terms (the
    standard bag-of-query simplification).

    Output: (query_id, doc_id, rank, n_hit_terms, score) — ``score``
    is the integer-accumulated BM25 value rounded to 6dp, ``rank`` is
    ``row_number`` (a TOTAL order: score desc, then doc_id asc as the
    tie-break) limited to k. An empty index yields an empty result (no
    postings → no candidates) rather than an error — the lazy-totals
    contract means emptiness is not knowable at call time.
    """
    n = F.col("n_docs").cast("double")
    avgdl = F.col("total_len").cast("double") / n
    qterms = (
        queries.select(
            "query_id", F.explode(tokens(F.col(text_col))).alias("__w")
        )
        .select("query_id", portable_hash64(F.col("__w")).alias("wh"))
        .distinct()
    )
    idf = F.log(
        F.lit(1.0)
        + (n - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    dl_norm = F.lit(1.0 - b) + F.lit(b) * (
        F.col("dl").cast("double") / avgdl
    )
    contrib = idf * (
        tf * F.lit(k1 + 1.0) / (tf + F.lit(k1) * dl_norm)
    )
    micro = F.round(contrib * F.lit(SCORE_SCALE), 0).cast("bigint")
    cand = (
        # broadcast the tiny query side INTO the df join (the df table is
        # vocabulary-sized and must not shuffle for it), then broadcast
        # the tiny joined result into the postings probe
        F.broadcast(F.broadcast(qterms).join(index["df"], "wh"))
        .join(index["postings"], "wh")
        .join(index["dl"], "doc_id")
        .crossJoin(F.broadcast(index["totals"]))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hit_terms"),
            F.sum(micro).alias("__micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__micro").desc(), F.col("doc_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "n_hit_terms",
            F.round(
                F.col("__micro") / F.lit(float(SCORE_SCALE)), 6
            ).alias("score"),
        )
    )


#: postings (wh, doc_id, tf) and doc lengths (doc_id, dl); meta.json
#: commits ``text_col`` and both row counts (sources/index_store.py).
_STORE = IndexStore("meta.json", {"postings": "n_postings", "dl": "n_docs"})


def bm25_index_write(
    docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Persist the inverted index for serving and INCREMENTAL
    maintenance: ``path/postings`` (wh, doc_id, tf) and ``path/dl``
    (doc_id, dl) as parquet, plus ``path/meta.json`` — the commit
    marker, written last with both committed row counts
    (sources/index_store.py), so an interrupted write or append is
    refused at load instead of silently serving a partial index.

    Only the two ADDITIVE frames are persisted; document frequencies
    and corpus totals are derived at load time (one groupBy over the
    vocabulary-sized postings). That is what makes append exact: new
    documents contribute disjoint (wh, doc_id) postings rows, so
    re-derived df/totals over the union are identical to a full
    rebuild — there is no stored aggregate to drift.
    """
    with dedup_cache_scope():  # the postings pin ends with the write
        idx = bm25_index(docs, text_col)
        _STORE.write(
            path,
            {"text_col": text_col},
            {"postings": idx["postings"], "dl": idx["dl"]},
        )


def bm25_index_load(spark, path: str) -> dict:
    """Load a persisted index -> the same frame dict :func:`bm25_index`
    returns (postings/dl stored; df/totals re-derived lazily). Raises
    on a missing commit marker or a row-count mismatch (interrupted
    append)."""
    _, stored = _STORE.load(spark, path)
    postings, dl = stored["postings"], stored["dl"]
    totals = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("total_len"),
    )
    dfreq = postings.groupBy("wh").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    return {"postings": postings, "dl": dl, "df": dfreq, "totals": totals}


def bm25_index_compact(
    spark, path: str, target_file_mb: int = 128
) -> dict:
    """Rewrite the index's postings/dl into ~``target_file_mb`` files —
    the maintenance pass for an append-maintained index, where every
    batch leaves one file per write task and file COUNT eventually
    dominates planning. Returns per-frame output file counts."""
    return _STORE.compact(spark, path, target_file_mb)


def bm25_index_append(new_docs: DataFrame, path: str) -> None:
    """Append a new-document batch to a persisted index — continuous
    corpus ingestion without re-reading old text: the batch is
    tokenized once and its postings/dl rows land in append mode. An
    index left torn by an earlier crash, or a batch reusing a stored
    doc_id (it would double-count its postings in every derived df/tf),
    is refused (sources/index_store.py); recovery from a torn index is
    a full rebuild.

    Exactness contract (pytest-pinned): queries over
    load(build(old) + append(new)) are bitwise-equal to queries over
    build(old ∪ new).
    """
    meta, stored = _STORE.load(new_docs.sparkSession, path)
    _STORE.refuse_reuse(stored["dl"], new_docs, "doc_id", path)
    with dedup_cache_scope():
        idx = bm25_index(new_docs, meta["text_col"])
        _STORE.write(
            path, meta, {"postings": idx["postings"], "dl": idx["dl"]}, "append"
        )
