"""BPE tokenizer training and encoding over a document corpus
(SURVEY §2.11 extension — completes the tokenizer-training arc that
``textstats.vocab_counts`` is the precursor of).

Algorithm: byte-pair-encoding over word histograms (Sennrich et al.,
ACL 2016 — "Neural Machine Translation of Rare Words with Subword
Units"): pre-tokenize to words, count DISTINCT words once, then
iteratively merge the most frequent adjacent symbol pair. The key
scale fact the design leans on: after the word count, training state
is VOCABULARY-sized (distinct words), not corpus-sized — the 100 TB
corpus is scanned exactly once.

Two training modes, same result (pytest-pinned equal):

- ``mode="histogram"`` (default, the production shape): the corpus-
  scale part — the word histogram — runs distributed (one explode +
  one skew-safe map-side-combining groupBy); the merge loop then runs
  driver-side on the collected histogram. This is a DOCUMENTED
  driver-side exception of the same class as the IVF centroid collect:
  a natural-language word vocabulary is bounded (~10^6-10^7 distinct
  words even at web scale — Heaps' law), i.e. MBs, while the loop over
  it needs thousands of sequential rank-dependent iterations that
  would cost one Spark job each.
- ``mode="distributed"``: every merge round is a Spark job over the
  distinct-word table (adjacent-pair explode -> count -> 1-row argmax
  collect -> expression-only fold merge). For the case the histogram
  genuinely cannot be collected; cost is O(num_merges) jobs, so use
  moderate merge counts. The greedy left-to-right merge is a pure
  ``F.aggregate`` fold — no Python in the per-word hot path.

Tie-break (both modes, engine-portable): max pair count, then
lexicographically smallest (left, right). Determinism is layout-
independent because counts are exact integers.

Encoding (``encode_bpe``) applies ranked merges per word until none
apply — an inherently iterative per-word loop, so it runs as an
Arrow-batched ``mapInPandas`` (the documented pandas exception class)
with a per-batch word cache; at corpus scale the cache hit rate is the
Zipf mass of the vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokens
from ..materialize import dedup_cache_scope, release, scoped_checkpoint
from ..sources.readers import ensure_parallel

__all__ = [
    "bpe_word_histogram",
    "train_bpe",
    "encode_bpe",
    "END_OF_WORD",
]

#: End-of-word marker symbol (Sennrich's </w>): distinguishes "est" in
#: "estimate" from "est</w>" in "lowest", so merges learned at word
#: ends don't leak into word interiors.
END_OF_WORD = "</w>"

_MERGE_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def bpe_word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct-word frequency table: (word, freq). The ONE corpus-scale
    pass of BPE training. Word counts are algebraic, so the Zipf-skewed
    hot words collapse map-side (the vocab_counts lesson — no salting
    needed)."""
    return (
        ensure_parallel(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def _initial_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (END_OF_WORD,)


def _merge_word(sym: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    """Greedy left-to-right non-overlapping merge of one pair type —
    the classic BPE step (shared by the histogram trainer and the
    encoder; the distributed mode's F.aggregate fold implements the
    same scan and is pytest-pinned equal)."""
    out: list[str] = []
    i = 0
    n = len(sym)
    while i < n:
        if i + 1 < n and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _train_on_histogram(
    hist: list[tuple[str, int]], num_merges: int, min_pair_count: int
) -> list[tuple[str, str, int]]:
    """Exact Sennrich merge loop over a (word, freq) histogram.
    Incremental pair-count maintenance: each round only re-counts the
    words the merge actually touched (the standard optimization —
    without it every round re-scans the whole vocabulary)."""
    words: dict[tuple[str, ...], int] = {}
    for word, freq in hist:
        sym = _initial_symbols(word)
        words[sym] = words.get(sym, 0) + freq

    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[tuple[str, ...]]] = {}

    def add_word(sym: tuple[str, ...], freq: int) -> None:
        for a, b in zip(sym, sym[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + freq
            where.setdefault((a, b), set()).add(sym)

    def drop_word(sym: tuple[str, ...], freq: int) -> None:
        for a, b in zip(sym, sym[1:]):
            pair_counts[(a, b)] -= freq
            if pair_counts[(a, b)] == 0:
                del pair_counts[(a, b)]
            s = where.get((a, b))
            if s is not None:
                s.discard(sym)
                if not s:
                    del where[(a, b)]

    for sym, freq in words.items():
        add_word(sym, freq)

    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        # max count, then lexicographically smallest pair — the
        # engine-portable tie-break both modes share
        (left, right), count = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if count < min_pair_count:
            break
        merges.append((left, right, count))
        touched = list(where.get((left, right), ()))
        for sym in touched:
            freq = words.pop(sym)
            drop_word(sym, freq)
            new_sym = _merge_word(sym, left, right)
            if new_sym in words:
                # merged form collides with an existing entry (two
                # spellings converge): fold the frequencies
                drop_word(new_sym, words[new_sym])
                new_freq = words[new_sym] + freq
            else:
                new_freq = freq
            words[new_sym] = new_freq
            add_word(new_sym, new_freq)
    return merges


def _merge_pair_expr(arr, left: str, right: str):
    """Expression-only greedy left-to-right merge of (left, right) in a
    symbol array — a single ``F.aggregate`` fold with a one-symbol
    pending slot, bitwise the same scan as :func:`_merge_word`."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == F.lit(left)) & (x == F.lit(right)),
                F.struct(
                    F.concat(
                        acc["out"], F.array(F.lit(left + right))
                    ).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(arr, init, step, finish)


def train_bpe(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    mode: str = "histogram",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Train BPE merges over the corpus; returns the ordered merge table
    ``(rank, left, right, pair_count)`` as a DataFrame.

    See the module docstring for the two modes; results are identical.
    """
    spark = docs.sparkSession
    hist_df = bpe_word_histogram(docs, text_col)

    if mode == "histogram":
        hist = [(r["word"], r["freq"]) for r in hist_df.collect()]
        merges = _train_on_histogram(hist, num_merges, min_pair_count)
    elif mode == "distributed":
        # merges is a plain list, so no round's checkpoint outlives the
        # loop: the scope frees the live one on return and on a raise
        with dedup_cache_scope():
            merges = _train_distributed(
                spark, hist_df, num_merges, min_pair_count, checkpoint_every
            )
    else:
        raise ValueError("mode must be 'histogram' or 'distributed'")

    rows = [
        (rank, left, right, count)
        for rank, (left, right, count) in enumerate(merges)
    ]
    return spark.createDataFrame(rows, _MERGE_SCHEMA)


def _train_distributed(
    spark: SparkSession,
    hist_df: DataFrame,
    num_merges: int,
    min_pair_count: int,
    checkpoint_every: int,
) -> list[tuple[str, str, int]]:
    # symbol table: one row per DISTINCT word — vocabulary-sized state
    words = hist_df.select(
        F.concat(
            # split-to-chars; the empty-string filter guards the
            # trailing "" some Spark versions emit from split(x, "")
            F.filter(
                F.split(F.col("word"), ""), lambda t: t != F.lit("")
            ),
            F.array(F.lit(END_OF_WORD)),
        ).alias("sym"),
        "freq",
    )
    merges: list[tuple[str, str, int]] = []
    prev_ckpt = None
    for rank in range(num_merges):
        n = F.size("sym")
        pairs = (
            words.where(n >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice("sym", 1, n - 1).alias("left"),
                        F.slice("sym", 2, n - 1).alias("right"),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("c"))
        )
        # 1-row argmax to the driver — the loop-control exception, same
        # class as dedup_clusters' convergence count
        best = (
            pairs.where(F.col("c") >= min_pair_count)
            .orderBy(F.col("c").desc(), F.col("left").asc(), F.col("right").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, count = best[0]["left"], best[0]["right"], int(best[0]["c"])
        merges.append((left, right, count))
        words = words.select(
            _merge_pair_expr(F.col("sym"), left, right).alias("sym"), "freq"
        )
        if (rank + 1) % checkpoint_every == 0:
            # each round nests another fold expression; truncate the
            # plan before Catalyst analysis cost compounds (same
            # pattern as dedup_clusters' per-round localCheckpoint).
            # The superseded checkpoint is dead once the new one is
            # materialized — release it eagerly so the rounds never
            # hold every checkpoint at once
            words = scoped_checkpoint(words)
            if prev_ckpt is not None:
                release(prev_ckpt)
            prev_ckpt = words
    return merges


def encode_bpe(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize documents with a trained merge table: adds
    ``bpe_tokens: array<string>`` (ranked merges applied per word until
    none apply, END_OF_WORD kept on word-final symbols).

    Arrow-batched ``mapInPandas`` with the merge ranks as a broadcast
    dict and a per-batch distinct-word cache — per-word iterative
    merging is the documented pandas exception (no expression form
    exists for rank-ordered convergent merging); the corpus never
    shuffles."""
    import pandas as pd

    rank_rows = [
        ((r["left"], r["right"]), r["rank"]) for r in merges.collect()
    ]
    ranks = dict(rank_rows)
    bc = docs.sparkSession.sparkContext.broadcast(ranks)

    out_schema = T.StructType(
        docs.schema.fields
        + [T.StructField("bpe_tokens", T.ArrayType(T.StringType()), False)]
    )
    in_cols = [f.name for f in docs.schema.fields]

    def encode_word(word: str, rank_map) -> list[str]:
        sym = list(word) + [END_OF_WORD]
        while len(sym) >= 2:
            best_rank, best_pair = None, None
            for a, b in zip(sym, sym[1:]):
                r = rank_map.get((a, b))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, (a, b)
            if best_pair is None:
                break
            sym = list(_merge_word(tuple(sym), *best_pair))
        return sym

    def run(batches):
        # NOT str.split() (all-Unicode whitespace): training pre-
        # tokenizes with tokens() = Java \s+ (ASCII-only), so encoding
        # must split on the identical class — _py_tokens is its pinned
        # Python twin (see encode_unigram for the divergence example)
        from mapping_timeseries_spark.operators.textmodels import _py_tokens

        rank_map = bc.value
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            for text in pdf[text_col]:
                doc_tokens: list[str] = []
                for w in _py_tokens(text):
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w, rank_map)
                        cache[w] = enc
                    doc_tokens.extend(enc)
                toks.append(doc_tokens)
            out = pdf[in_cols].copy()
            out["bpe_tokens"] = toks
            yield out

    return docs.mapInPandas(run, out_schema)
