"""Data Selection with Importance Resampling (DSIR) — Xie et al. 2023
(arXiv:2302.03169), the hashed-n-gram data-selection stage of a
pretraining pipeline: score every raw document by how target-like its
hashed n-gram feature distribution is, then sample the corpus toward
the target domain with seeded Gumbel-top-k (= sampling without
replacement proportional to the importance weights).

Engine-portable by construction, so the whole stage is DuckDB-oracle
checkable:

- features are word unigrams + bigrams reduced to ``n_buckets`` hashed
  buckets via ``portable_hash64 % n_buckets`` (same md5-derived hash in
  both engines);
- the bucket log-ratio table stores ``round(ln(p_target/p_raw) *
  NAT_SCALE)`` as bigint (the textmodels integer-nat contract: per-doc
  SUMS are order-independent, so the shuffle layout can never change a
  weight);
- Gumbel noise derives from ``portable_hash64(doc_id || ':' || seed)``
  — a deterministic uniform in (0,1), not an engine RNG — and the final
  score is rounded to 6dp before the (score desc, doc_id asc) top-k
  rank, the same float-comparison discipline as the other hash-gated
  queries.

Scale shape: the bucket table is ``n_buckets`` rows (KBs — broadcast
join); per-doc scoring is one explode + two-level map-side-combining
aggregation over (doc, bucket) — the corpus never shuffles raw text.
The target corpus is typically tiny (a quality reference like
Wikipedia); both probability tables are vocabulary-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textmodels import NAT_SCALE, _micro_nats
from ..functions.text import portable_hash64, tokens

__all__ = [
    "dsir_feature_counts",
    "dsir_logratio",
    "dsir_weights",
    "dsir_weights_map",
    "dsir_gumbel_topk",
]


def dsir_feature_counts(
    docs: DataFrame, text_col: str = "text", n_buckets: int = 4096
) -> DataFrame:
    """Hashed n-gram feature counts per document: word unigrams and
    bigrams, bucketed to ``portable_hash64(gram) % n_buckets``. Returns
    (doc_id, bucket, cnt); docs with no tokens contribute no rows.
    Gram construction is explode(n) × explode(positions) +
    codegen'd ``slice``/``array_join`` — no higher-order-function
    lambdas, which evaluate interpreted (the measured 6x of the Gopher
    operator, SCALE.md); counts collapse map-side."""
    # same single-scan-partition fix as gopher_repetition (guide
    # §2.5) — the unigram+bigram explode is expression-heavy per-row
    # work that a one-partition local scan serializes onto one core;
    # round-robin the docs across cores first (no-op on a wide scan).
    from ..sources.readers import ensure_parallel

    t, n_col = F.col("__t"), F.col("__n")
    positions = F.when(
        F.size(t) >= n_col, F.sequence(F.lit(1), F.size(t) - n_col + 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        ensure_parallel(docs)
        .select("doc_id", tokens(F.col(text_col)).alias("__t"))
        .select(
            "doc_id",
            "__t",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("__n"),
        )
        .select("doc_id", "__t", "__n", F.explode(positions).alias("__p"))
        .select(
            "doc_id",
            (
                portable_hash64(
                    F.array_join(F.slice(t, F.col("__p"), n_col), " ")
                )
                % n_buckets
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_logratio(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
    alpha: float = 0.5,
) -> DataFrame:
    """Dense bucket table (bucket, logratio_nats bigint): ``round(
    ln(p_target(b) / p_raw(b)) * NAT_SCALE)`` with add-``alpha``
    smoothing over ``n_buckets`` buckets, p(b) = (count(b) + alpha) /
    (total + alpha * n_buckets). Dense (every bucket 0..n_buckets-1
    present) so scoring is a plain inner join with no missing-key
    coalesce to drift between engines."""
    spark = target_docs.sparkSession

    def bucket_counts(d: DataFrame) -> DataFrame:
        return (
            dsir_feature_counts(d, text_col, n_buckets)
            .groupBy("bucket")
            .agg(F.sum("cnt").alias("n"))
        )

    all_buckets = spark.range(n_buckets).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    tc = bucket_counts(target_docs)
    rc = bucket_counts(raw_docs)
    t_total = tc.agg(F.sum("n")).collect()[0][0] or 0
    r_total = rc.agg(F.sum("n")).collect()[0][0] or 0
    a, B = F.lit(alpha), F.lit(float(n_buckets))
    p_t = (F.coalesce(F.col("tn"), F.lit(0)) + a) / (
        F.lit(float(t_total)) + a * B
    )
    p_r = (F.coalesce(F.col("rn"), F.lit(0)) + a) / (
        F.lit(float(r_total)) + a * B
    )
    return (
        all_buckets.join(tc.withColumnRenamed("n", "tn"), "bucket", "left")
        .join(rc.withColumnRenamed("n", "rn"), "bucket", "left")
        .select(
            "bucket",
            (_micro_nats(p_t) - _micro_nats(p_r)).alias("logratio_nats"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    logratio: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-document importance log-weight: sum over the doc's feature
    occurrences of the bucket log-ratio, as an exact bigint in
    NAT_SCALE units — (doc_id, n_features, dsir_logw_nats). Zero-token
    docs report (0, 0). The bucket table broadcasts (n_buckets rows);
    the aggregation reuses the feature frame's doc clustering."""
    fc = dsir_feature_counts(docs, text_col, n_buckets)
    scored = fc.join(F.broadcast(logratio), "bucket").groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_features"),
        F.sum(F.col("cnt") * F.col("logratio_nats"))
        .cast("bigint")
        .alias("dsir_logw_nats"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            F.coalesce("dsir_logw_nats", F.lit(0)).alias("dsir_logw_nats"),
        )
    )


def dsir_weights_map(
    docs: DataFrame,
    logratio: DataFrame,
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Map-only twin of :func:`dsir_weights` for STREAMING scoring,
    where no shuffle or state may run: the dense bucket table is collected once
    (``n_buckets`` rows — KBs) and broadcast into one Arrow-batched
    ``mapInPandas``; each document's unigram+bigram buckets are hashed
    in Python (md5 reduction == ``portable_hash64``) and the integer
    nat weights summed exactly, so the output is BITWISE-equal to the
    joined+grouped batch operator (pytest pins stream == batch) while
    touching no shuffle and carrying no state — it runs unchanged on a
    Structured Streaming source in append mode. Same output schema:
    (doc_id, n_features, dsir_logw_nats)."""
    import hashlib

    spark = docs.sparkSession
    table = {r["bucket"]: r["logratio_nats"] for r in logratio.collect()}
    if len(table) != n_buckets:
        raise ValueError(
            f"logratio table has {len(table)} buckets, expected the dense "
            f"{n_buckets} — was it built with a different n_buckets?"
        )
    btable = spark.sparkContext.broadcast(table)

    def run(batches):
        import pandas as pd

        # absolute import: the closure is rebuilt by cloudpickle on the
        # worker, where a relative import has no package context
        from mapping_timeseries_spark.operators.textmodels import _py_tokens

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = _py_tokens(text)
                n_features = 0
                nats = 0
                for n in (1, 2):
                    for i in range(len(toks) - n + 1):
                        g = " ".join(toks[i : i + n])
                        b = (
                            int(
                                hashlib.md5(g.encode("utf-8")).hexdigest()[:15],
                                16,
                            )
                            % n_buckets
                        )
                        nats += btable.value[b]
                        n_features += 1
                out.append((doc_id, n_features, nats))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_features", "dsir_logw_nats"]
            )

    return docs.mapInPandas(
        run, "doc_id long, n_features bigint, dsir_logw_nats bigint"
    )


def dsir_gumbel_topk(
    weights: DataFrame,
    k: int,
    temperature: float = 1.0,
    seed: int = 20260815,
    full_rank: bool = False,
) -> DataFrame:
    """Seeded Gumbel-top-k selection = sampling ``k`` docs without
    replacement with probability proportional to ``exp(logw / T)``
    (Kool et al. 2019). The Gumbel noise is a pure function of
    (doc_id, seed): u = (h + 1) / (2^60 + 2) with h =
    ``portable_hash64(doc_id || ':' || seed)``, g = -ln(-ln(u)) — no
    engine RNG, so the draw replays bit-identically in the oracle.
    Scores round to 6dp before the (score desc, doc_id asc) order.

    The DEFAULT (``full_rank=False``) is the corpus-scale path: it
    returns ONLY the ``k`` selected rows via ``orderBy().limit(k)``,
    which Catalyst plans as TakeOrderedAndProject — each partition
    keeps a k-row heap and the driver merges, no global sort, no
    single hot partition (plan-asserted in pytest, selected set pinned
    equal to the full-rank path). ``full_rank=True`` is the
    audit/oracle shape: it adds (dsir_score, dsir_rank, dsir_selected)
    to EVERY row via a global ``row_number`` window — a
    single-partition sort of (doc, score) pairs, opt-in only because a
    scale-first library must not default to a plan that funnels the
    corpus through one partition."""
    h = portable_hash64(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}"))
    )
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(2**60) + 2.0)
    gumbel = -F.log(-F.log(u))
    score = F.round(
        F.col("dsir_logw_nats")
        / F.lit(float(NAT_SCALE))
        / F.lit(float(temperature))
        + gumbel,
        6,
    )
    w = weights.withColumn("dsir_score", score)
    if not full_rank:
        return (
            w.orderBy(F.col("dsir_score").desc(), F.col("doc_id").asc())
            .limit(k)
            .withColumn("dsir_selected", F.lit(1))
        )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.orderBy(F.col("dsir_score").desc(), F.col("doc_id").asc())
    )
    return w.withColumn("dsir_rank", rk).withColumn(
        "dsir_selected", (F.col("dsir_rank") <= k).cast("int")
    )
