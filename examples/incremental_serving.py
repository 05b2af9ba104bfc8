"""Continuous-ingestion serving walkthrough, runnable end to end
(executed by tests/test_examples.py so it cannot rot).

    python examples/incremental_serving.py

The batch-pipeline story (training_export.py) cleans a corpus ONCE.
This example is the day-2 story: a corpus that keeps growing, where
every serving structure must absorb a new-document batch WITHOUT
re-reading the history:

1. **Near-dup dedup** — build the persisted MinHash-LSH index on the
   standing corpus; dedup the incoming batch against it (bucket join +
   stored-shingle verification) and append the batch into the index
   for the next cycle.
2. **Keyword search** — build the persisted BM25 inverted index;
   append the batch (postings/doc-lengths are the only state, so
   append == rebuild exactly); serve a query over the combined corpus.
3. **Corpus telemetry** — advance per-source distinct-vocabulary HLL
   sketch state from the batch alone (register union; KB-sized state,
   history never re-read).

Everything here is the incremental twin of an operator whose full-batch
form is hash-gated in the driver registry.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def main(spark=None, out_root: str | None = None, show: bool = True) -> dict:
    own_session = spark is None
    if own_session:
        from mapping_timeseries_spark.session import get_spark

        spark = get_spark(
            "incremental-serving", master="local[4]", shuffle_partitions=4
        )
    out_root = out_root or tempfile.mkdtemp(prefix="mts_serving_")

    from mapping_timeseries_spark.operators.dedup import (
        append_minhash_index,
        build_minhash_index,
        minhash_dedup_incremental_path,
    )
    from mapping_timeseries_spark.operators.search import (
        bm25_index_append,
        bm25_index_load,
        bm25_index_write,
        bm25_topk,
    )
    from mapping_timeseries_spark.operators.sketches import (
        advance_distinct_state,
        sketch_estimate,
    )
    from mapping_timeseries_spark.functions.text import portable_hash64, tokens

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    standing = docs.where(F.col("doc_id") % 5 != 0)   # the ingested corpus
    batch = docs.where(F.col("doc_id") % 5 == 0)      # today's arrivals

    # ── 1: near-dup dedup of the batch against the standing index ──────
    lsh_root = os.path.join(out_root, "lsh_index")
    build_minhash_index(standing, lsh_root)
    dup_pairs = minhash_dedup_incremental_path(
        spark, batch, lsh_root, threshold=0.5
    )
    n_dup_pairs = dup_pairs.count()
    # fold today's batch into the index so tomorrow's cycle sees it
    append_minhash_index(batch, lsh_root)
    dup_batch_ids = {
        r["d"]
        for r in dup_pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("d")
        ).collect()
        if r["d"] % 5 == 0
    }

    # ── 2: BM25 serving index, append-maintained ───────────────────────
    bm25_root = os.path.join(out_root, "bm25_index")
    bm25_index_write(standing, bm25_root)
    bm25_index_append(batch, bm25_root)
    hits = bm25_topk(
        bm25_index_load(spark, bm25_root),
        spark.createDataFrame(
            [(1, "table scan filter")], ["query_id", "query_text"]
        ),
        k=5,
    )
    top = hits.orderBy("rank").collect()

    # ── 3: per-source vocabulary telemetry from sketch state ───────────
    def _words(df):
        return df.select(
            "source",
            F.explode(tokens(F.col("text"))).alias("__w"),
        ).select("source", portable_hash64(F.col("__w")).alias("wh"))

    state = advance_distinct_state(None, _words(standing), ["source"], "wh")
    state = advance_distinct_state(state, _words(batch), ["source"], "wh")
    vocab = {
        r["source"]: r["n_distinct"]
        for r in sketch_estimate(state).collect()
    }

    stats = {
        "n_standing": standing.count(),
        "n_batch": batch.count(),
        "n_dup_pairs": n_dup_pairs,
        "n_dup_batch_docs": len(dup_batch_ids),
        "bm25_top_doc": int(top[0]["doc_id"]) if top else None,
        "n_bm25_hits": len(top),
        "vocab_estimates": vocab,
    }
    if show:
        for k, v in stats.items():
            print(f"{k}: {v}")
    if own_session:
        spark.stop()
    return stats


if __name__ == "__main__":
    main()
