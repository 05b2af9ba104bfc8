"""Sequence packing for training-data export.

A pretraining dataloader consumes fixed-length token sequences, not
documents; the export step must therefore assign documents to packs.
Two standard disciplines, both implemented distributed:

- **Concat-and-chunk** (:func:`concat_pack_spans`): concatenate all
  documents in a deterministic pseudo-random order and cut every
  ``budget`` tokens; documents may straddle pack boundaries (GPT-2/T5
  style packing). Zero padding waste by construction. The whole
  computation is a global running token total — implemented WITHOUT a
  single-partition global window (see below) and exactly reproducible
  in any engine (the order key is the portable md5 hash, the cumsum is
  integer arithmetic), so it carries a DuckDB hash gate.
- **First-fit-decreasing bin packing** (:func:`pack_greedy_ffd`):
  documents never straddle packs; each pack is filled greedily to the
  budget (BERT-style / "best-fit" packing, Krell et al., 2021-style
  NNLSHP being the fancier cousin). Inherently sequential per bin set,
  so it runs per-shard: documents are sharded by portable hash (the
  same shuffle-and-shard primitive the export uses), and each shard
  packs independently inside one ``applyInPandas`` group. Padding waste
  is bounded and reported, not hidden.

Scale posture (100 TB): concat packing is one range shuffle on the hash
order key plus a P-row offset broadcast — the same two-phase pattern as
``avg_rank_distributed`` (no "No Partition Defined" WindowExec anywhere
in the plan). FFD packing is one hash shuffle into n_shards groups;
per-group state is the open-bin fill array (O(bins) ints), and bins
never cross shards so the result is embarrassingly shard-parallel and
stable under input repartitioning. A straight
``orderBy(rand())`` + global window formulation would funnel every row
through one task at the cumsum — the exact anti-pattern this module
replaces.

Reference anchor: the reference engine exports flat mapping tables
(mapping_engine.py:629-644); packing is the north-star training-export
extension (BASELINE.json) with no reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .recommend import _range_offsets


def _ordered_token_offsets(
    df: DataFrame,
    key_col: str,
    token_col: str,
    salt: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global exclusive/inclusive token offsets (``tok_start``/``tok_end``)
    of each document in deterministic pseudo-random order, distributed.

    Order key: ``h = portable_hash64(salt:key)`` with ``key`` as the tie
    break — a total order that is a pure function of content keys, so the
    "shuffle" is reproducible across engines, re-runs, and input layouts.

    The running total uses the two-phase pattern (range-partition by the
    order key → per-partition window cumsum → broadcast cumulative
    partition offsets, ``recommend._range_offsets``), NOT a global
    ``Window.orderBy`` — the latter plans a single-partition WindowExec
    that moves the whole corpus through one task.
    """
    from ..functions.text import portable_hash64

    h = portable_hash64(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    r, offsets = _range_offsets(
        df.withColumn("__h", h).withColumn(
            "__tok", F.col(token_col).cast("bigint")
        ),
        [F.col("__h"), F.col(key_col)],
        F.sum("__tok"),
        num_partitions,
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.col("__h").asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = r.withColumn("__run", F.sum("__tok").over(w))
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn("tok_end", (F.col("__off") + F.col("__run")).cast("bigint"))
        .withColumn("tok_start", (F.col("tok_end") - F.col("__tok")).cast("bigint"))
        .drop("__h", "__tok", "__pid", "__run", "__off")
    )


def concat_pack_spans(
    df: DataFrame,
    key_col: str,
    token_col: str,
    budget: int,
    salt: str = "pack",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk pack assignment: global token offsets plus the
    pack span each document occupies.

    Output columns (added): ``tok_start``, ``tok_end`` (global token
    offsets, end-exclusive), ``pack_first``, ``pack_last`` (0-based pack
    ids of the first/last token; a zero-token document sits at
    ``pack_first == pack_last == floor(tok_start/budget)``), ``n_packs``
    (packs spanned). Every token position maps to exactly one pack, and
    pack ``p`` holds global positions ``[p*budget, (p+1)*budget)`` —
    full packs everywhere except the tail, zero padding.

    Engine-portable: the DuckDB twin is
    ``SUM(tokens) OVER (ORDER BY h, key)`` with the same md5 order key —
    integer arithmetic end to end.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    out = _ordered_token_offsets(df, key_col, token_col, salt, num_partitions)
    b = F.lit(int(budget)).cast("bigint")
    pack_first = F.floor(F.col("tok_start") / b).cast("bigint")
    pack_last = F.greatest(
        pack_first, F.floor((F.col("tok_end") - 1) / b).cast("bigint")
    )
    return (
        out.withColumn("pack_first", pack_first)
        .withColumn("pack_last", pack_last)
        .withColumn(
            "n_packs", (F.col("pack_last") - F.col("pack_first") + 1).cast("int")
        )
    )


def pack_manifest(packed: DataFrame, key_col: str, budget: int) -> DataFrame:
    """Explode concat-pack spans to the (pack, document-slice) grain the
    dataloader reads: one row per (pack_id, document) with the
    within-pack slice offsets.

    ``start_in_pack`` is the slice's first position inside the pack,
    ``len_in_pack`` its length; per pack the slices tile
    ``[0, budget)`` exactly (tail pack excepted), per document the
    slice lengths sum to its token count — both invariants pytest-pinned.
    Map-only on top of the span frame (``sequence`` + ``explode``);
    fan-out per row is ``n_packs``, bounded by ``ceil(tokens/budget)+1``.
    """
    b = F.lit(int(budget)).cast("bigint")
    p = F.col("pack_id")
    lo = F.greatest(F.col("tok_start"), p * b)
    hi = F.least(F.col("tok_end"), (p + 1) * b)
    return (
        packed.where(F.col("tok_end") > F.col("tok_start"))
        .select(
            F.col(key_col),
            "tok_start",
            "tok_end",
            F.explode(
                F.sequence(F.col("pack_first"), F.col("pack_last"))
            ).alias("pack_id"),
        )
        .select(
            "pack_id",
            key_col,
            (lo - p * b).cast("bigint").alias("start_in_pack"),
            (hi - lo).cast("bigint").alias("len_in_pack"),
        )
        .where(F.col("len_in_pack") > 0)
    )


_FFD_SCHEMA = (
    "key string, shard int, bin_id int, tokens bigint, oversize boolean"
)


def pack_greedy_ffd(
    df: DataFrame,
    key_col: str,
    token_col: str,
    budget: int,
    n_shards: int = 32,
    salt: str = "ffdpack",
) -> DataFrame:
    """First-fit-decreasing bin packing, sharded: documents keep their
    boundaries (no straddling); each (shard, bin_id) is one training
    sequence padded to ``budget``.

    Documents are sharded by the portable hash (pure function of the
    key → reproducible, repartition-stable), then each shard packs
    independently with classic FFD: sort by (tokens desc, key asc), put
    each document in the first open bin it fits, else open a new bin.
    FFD guarantees ≤ 11/9·OPT + 6/9 bins (Dósa, 2007) — per shard, and
    since shards are hash-balanced the global waste stays within the
    same factor. A document longer than ``budget`` gets its own bin with
    ``oversize = true`` (the caller truncates or chunk-splits upstream;
    silently dropping it would bias the corpus).

    One hash shuffle into ``n_shards`` groups; per-group state is the
    open-bin capacity segment tree (O(bins) ints — bounded by shard
    tokens/budget), and each placement is an O(log bins) descent, so a
    shard of n docs packs in O(n log bins) — the textbook linear scan
    is O(n·bins), a real stall at millions of docs per shard
    (placements are bit-identical; the differential test pins that).
    The per-shard loop is genuinely sequential (bin state depends on
    every prior placement) — this is the documented ``applyInPandas``
    case, same as the DTW DP: per-group dynamic state, Arrow-batched,
    never row-at-a-time Python.

    Output: (key, shard, bin_id, tokens, oversize), key cast to string.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from ..functions.text import portable_hash64

    budget_i = int(budget)

    def _pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["__tok", "__key"], ascending=[False, True], kind="mergesort"
        )
        # First-fit via a max-segment-tree over bin remaining capacity:
        # "leftmost bin with remaining >= t" is one root-to-leaf descent,
        # O(log B) per document instead of the naive linear scan's O(B)
        # (which is O(n*B) ~ quadratic per shard — a real stall at
        # millions of docs per shard). Identical placements to the
        # textbook scan: the descent always prefers the left child, i.e.
        # the FIRST fitting bin.
        cap = 1
        tree = [0, 0]  # 1-indexed; tree[1] = root max remaining
        n_bins = 0
        first_regular_bin = -1  # lowest non-oversize bin id, -1 = none yet
        bin_ids = []
        oversize = []

        def grow():
            nonlocal cap, tree
            old = tree
            cap *= 2
            tree = [0] * (2 * cap)
            tree[cap : cap + cap // 2] = old[cap // 2 : cap]
            for i in range(cap - 1, 0, -1):
                tree[i] = max(tree[2 * i], tree[2 * i + 1])

        def set_leaf(i: int, value: int):
            i += cap
            tree[i] = value
            i //= 2
            while i:
                tree[i] = max(tree[2 * i], tree[2 * i + 1])
                i //= 2

        for t in pdf["__tok"]:
            t = int(t)
            if t > budget_i:
                # oversize doc: own bin, flagged; remaining stays 0 so no
                # other doc ever lands with it
                if n_bins >= cap:
                    grow()
                bin_ids.append(n_bins)
                n_bins += 1
                oversize.append(True)
                continue
            if t == 0:
                # zero-token doc: the linear scan places it in the first
                # bin with fill + 0 <= budget — i.e. the lowest-id
                # NON-oversize bin (oversize bins have fill > budget and
                # never qualify; full regular bins, remaining 0, DO).
                # The tree can't express that (oversize and full leaves
                # both read 0), so track the first regular bin id
                # directly. No bin yet -> open one, same as the scan.
                if first_regular_bin >= 0:
                    bin_ids.append(first_regular_bin)
                    oversize.append(False)
                    continue
                if n_bins >= cap:
                    grow()
                b = n_bins
                n_bins += 1
                first_regular_bin = b
                set_leaf(b, budget_i)
                bin_ids.append(b)
                oversize.append(False)
                continue
            if tree[1] >= t:
                i = 1
                while i < cap:
                    i = 2 * i if tree[2 * i] >= t else 2 * i + 1
                b = i - cap
                set_leaf(b, tree[i] - t)
            else:
                if n_bins >= cap:
                    grow()
                b = n_bins
                n_bins += 1
                set_leaf(b, budget_i - t)
            if first_regular_bin < 0 or b < first_regular_bin:
                first_regular_bin = b
            bin_ids.append(b)
            oversize.append(False)
        return pd.DataFrame(
            {
                "key": pdf["__key"],
                "shard": pdf["__shard"],
                "bin_id": pd.array(bin_ids, dtype="int32"),
                "tokens": pdf["__tok"],
                "oversize": oversize,
            }
        )

    prepared = df.select(
        F.col(key_col).cast("string").alias("__key"),
        F.col(token_col).cast("bigint").alias("__tok"),
        (
            portable_hash64(
                F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
            )
            % F.lit(n_shards)
        )
        .cast("int")
        .alias("__shard"),
    )
    return prepared.groupBy("__shard").applyInPandas(_pack, _FFD_SCHEMA)


def packing_stats(ffd: DataFrame, budget: int) -> DataFrame:
    """One-row padding-waste report for an FFD packing: bins, padded
    token capacity, real tokens, waste fraction, oversize count. The
    number a pipeline owner watches — FFD's whole point vs naive
    round-robin is driving this toward 0."""
    per_bin = ffd.groupBy("shard", "bin_id").agg(
        F.sum("tokens").alias("fill"),
        F.max(F.col("oversize").cast("int")).alias("over"),
    )
    b = F.lit(int(budget)).cast("bigint")
    # coalesce the sums: SUM over zero rows is NULL, and an empty shard
    # set must read as a 0-waste gauge (n_bins=0, waste 0.0), not as
    # silent nulls on a dashboard
    return per_bin.select(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.coalesce(F.sum("fill"), F.lit(0)).cast("bigint").alias("total_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("over") == 1, F.col("fill")).otherwise(b)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("padded_capacity"),
        F.coalesce(F.sum("over"), F.lit(0)).cast("bigint").alias("oversize_bins"),
    ).select(
        "n_bins",
        "total_tokens",
        "padded_capacity",
        "oversize_bins",
        F.when(F.col("padded_capacity") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("padded_capacity") - F.col("total_tokens"))
                / F.col("padded_capacity"),
                6,
            )
        )
        .alias("waste_frac"),
    )
