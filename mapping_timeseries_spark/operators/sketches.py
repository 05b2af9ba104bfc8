"""Mergeable distinct-count sketches (HyperLogLog) for incremental
pipelines — the 100 TB answer to "distinct users per month, updated on
every append" when exact ``countDistinct`` would re-shuffle the whole
history per refresh.

Built on Spark's Datasketches HLL aggregates (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate`` — JVM-side, no Python in
the path). The pattern mirrors ``plans/incremental.py``'s moment
algebra: persist a per-group SKETCH (kilobytes, not member sets),
advance it by unioning the new batch's sketches, estimate on read.

Why this is exact-enough and scale-correct:

- An HLL register set is a per-bucket MAX over hashed members — a set
  property with NO systematic order/partitioning dependence, so
  ``union(sketch(A), sketch(B))`` estimates what ``sketch(A ∪ B)``
  estimates and incremental state cannot drift from a full rebuild
  beyond sketch noise. Honest caveat (measured, pytest-pinned): the
  Datasketches estimate is not bit-identical across aggregation
  layouts — sparse->dense promotion depends on build history, so two
  equal sets can estimate apart by a fraction of the ~1.6% standard
  error (observed 0.6–1% on 1.1k-distinct groups). Contracts in tests
  are therefore tolerance-based; anything needing bit-stable numbers
  belongs on the exact countDistinct path.
- The union is algebraic (register-wise max), so advancing state costs
  O(groups × sketch_size) regardless of history length — the same
  contract the correlation moments carry.
- Estimates are approximate (~1.6%/sqrt(2^lgk) relative error at the
  default lgk=12); the exact twin (`countDistinct`) remains the right
  call below shuffle-pain scale. These operators exist for the regime
  where the exact form is the bottleneck.

Binary sketch encodings may legally differ between equal sets (sparse
vs dense promotion depends on build history), so equality contracts in
tests pin the ESTIMATES, never the bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "distinct_sketch",
    "sketch_estimate",
    "merge_sketches",
    "advance_distinct_state",
    "value_histogram",
    "quantile_col",
    "histogram_quantiles",
    "merge_histograms",
    "advance_histogram_state",
    "topk_sketch",
    "merge_topk",
    "advance_topk_state",
]

#: Default log2(registers): 4096 registers ≈ 1.6% relative standard
#: error, ~2-4 KB per group.
DEFAULT_LGK = 12


def distinct_sketch(
    df: DataFrame,
    group_cols: list,
    value_col: str,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """Per-group HLL sketch of ``value_col``: (group_cols..., sketch).
    One shuffle on the group key with map-side partial aggregation —
    the partials are sketches too, so hot groups combine before the
    exchange."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("sketch")
    )


def sketch_estimate(
    sketches: DataFrame, estimate_col: str = "n_distinct"
) -> DataFrame:
    """Attach the distinct-count estimate to a sketch frame (keeps the
    sketch column — callers persisting state want both)."""
    return sketches.withColumn(
        estimate_col,
        F.hll_sketch_estimate(F.col("sketch")).cast("bigint"),
    )


def merge_sketches(
    sketches: DataFrame, group_cols: list, lgk: int = DEFAULT_LGK
) -> DataFrame:
    """Roll sketches up to a coarser grain (e.g. month -> year, or
    merging an old state table with a new batch's sketches) by
    register-wise union. ``allowDifferentLgConfigK`` stays False: a
    silent precision downgrade when states built under different lgk
    meet should be an explicit migration, not an accident."""
    return sketches.groupBy(*group_cols).agg(
        F.hll_union_agg("sketch", F.lit(False)).alias("sketch")
    )


def advance_distinct_state(
    state: DataFrame | None,
    new_batch: DataFrame,
    group_cols: list,
    value_col: str,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """Fold an append-only batch into the persisted per-group sketch
    state: sketch the batch, union with the existing state by group
    (full-outer semantics via unionByName — groups new to this batch
    keep their old sketch, brand-new groups appear). ``state=None``
    bootstraps from the first batch. Cost is O(groups + batch); the
    history is never re-read — pytest pins advanced-state estimates to a
    full recompute over the concatenated history within the sketch
    error budget (see the module caveat on bit-identity)."""
    fresh = distinct_sketch(new_batch, group_cols, value_col, lgk)
    if state is None:
        return fresh
    return merge_sketches(
        state.select(*group_cols, "sketch").unionByName(fresh),
        group_cols,
        lgk,
    )


# ---------------------------------------------------------------------------
# Deterministic log-decade histograms (mergeable quantile sketch)
# ---------------------------------------------------------------------------
#
# Unlike HLL above, this sketch is EXACTLY mergeable and bit-stable: the
# state is a per-group map<bucket, count> where the bucket id is the value
# floored to its leading ``digits`` significant (decimal) digits — pure
# 64-bit integer arithmetic, no libm. That matters twice at 100 TB:
#
# - merge == rebuild is an integer identity (vector add of counts), so
#   incremental state can be hash-pinned against a full recompute — no
#   tolerance budget like the HLL estimates need;
# - the bucketing function is reproducible across engines (Spark, DuckDB,
#   anything with integer div), because it never calls log()/floor(x/w)
#   on doubles where a ulp of libm disagreement could flip a bucket at a
#   boundary. IEEE requires correctly-rounded +,-,*,/ but NOT ln/log2 —
#   two libms may legally floor(log(x)/log(b)) differently. Leading-digit
#   truncation sidesteps the whole class.
#
# Accuracy (the bound below is conditional, read all of it):
#
# - v >= 10^(digits-1) (default digits=3: v >= 100) lands in a bucket of
#   width 10^(d-digits) starting at its floor-to-digits value, so the
#   bucket lower bound (the quantile estimate) undershoots v by
#   < 10^(1-digits) relative (digits=3: < 1%).
# - 1 <= v < 10^(digits-1): INTEGER-exact, FRACTION-floored — the value
#   is truncated to its integer bucket, so non-integer small values can
#   err up to the fractional part (v=1.9 -> bucket 1: ~47% relative;
#   any v in (0,1) -> bucket 0: 100%). Data whose quantiles live below
#   ~100 with meaningful fractional parts should be pre-scaled into
#   fixed-point (e.g. cents instead of dollars) before sketching; the
#   <1% bound does NOT apply to raw fractional values.
# - v < 0: magnitude is truncated toward zero and the sign re-applied,
#   so the bucket bound OVERSHOOTS the value (sits above it) by the
#   same conditional bounds — callers treating the bound as a one-sided
#   undershoot must flip the side for negative data.
#
# Domain: |v| < 10^15 (beyond that, one overflow bucket — 10^p stops
# being exact in the double power() used to build the divisor). State
# size: <= 9*10^(digits-1) buckets per decade, ~2.7k buckets per group
# for 3 digits across 3 decades — kilobytes.

#: Leading significant digits kept by the default bucketing (<1% rel err
#: for values >= 100; see the conditional accuracy note above).
DEFAULT_HIST_DIGITS = 3

#: Largest magnitude bucketed precisely; beyond it, one overflow bucket.
_HIST_MAX = 10**15


def _bucket_expr(value_col: str, digits: int):
    """Floor-to-leading-digits bucket id as a Column. Integer-exact:
    m = floor(|v|); p = 10^(ndigits(m) - digits); bucket = sign * (m div
    p) * p. ``power`` returns a double but 10^e is exactly representable
    for e <= 15, and the result is cast back to bigint before the integer
    div, so no step depends on libm rounding."""
    v = F.col(value_col)
    sgn = F.when(v < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    # Explicit integral `div` throughout — never `/` (double) on longs.
    m_s = f"cast(floor(abs({value_col})) as bigint)"
    d_s = f"length(cast({m_s} as string))"
    p_s = (
        f"(case when {d_s} <= {digits} then cast(1 as bigint) "
        f"else cast(power(10, {d_s} - {digits}) as bigint) end)"
    )
    core = f"(({m_s} div {p_s}) * {p_s})"
    signed = f"(case when {value_col} < 0 then -{core} else {core} end)"
    return F.when(
        F.abs(v) >= F.lit(float(_HIST_MAX)),
        sgn * F.lit(_HIST_MAX).cast("long"),
    ).otherwise(F.expr(signed).cast("long"))


def value_histogram(
    df: DataFrame,
    group_cols: list,
    value_col: str,
    digits: int = DEFAULT_HIST_DIGITS,
) -> DataFrame:
    """Per-group deterministic histogram of ``value_col``:
    (group_cols..., hist map<bigint,bigint>, n bigint). NULL values are
    excluded (matching aggregate semantics). One shuffle on
    (group, bucket) with map-side partial counts — hot buckets combine
    before the exchange — then a group-sized map assembly."""
    b = df.where(F.col(value_col).isNotNull()).select(
        *group_cols, _bucket_expr(value_col, digits).alias("bucket")
    )
    counts = b.groupBy(*group_cols, "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("bucket", "c")))
        ).alias("hist"),
        F.sum("c").cast("long").alias("n"),
    )


def _exploded(hists: DataFrame, group_cols: list) -> DataFrame:
    return hists.select(
        *group_cols, F.explode("hist").alias("bucket", "c")
    )


def quantile_col(prefix: str, q: float) -> str:
    """Output column name :func:`histogram_quantiles` emits for quantile
    ``q``: ``{prefix}{int(round(q * 100))}`` — the ROUNDED percent, so
    q=2/3 names ``{prefix}67`` (not 66). The one shared formula; callers
    (e.g. textmodels.ppl_bucket_thresholds) must use this helper rather
    than re-deriving the string."""
    return f"{prefix}{int(round(q * 100))}"


def histogram_quantiles(
    hists: DataFrame,
    group_cols: list,
    qs: list,
    prefix: str = "hp",
) -> DataFrame:
    """Quantile estimates from a histogram state: for each q, the bucket
    lower bound holding zero-based rank floor(q*(n-1)) — i.e. the
    lower-interpolation quantile, floored to the bucket grid (< 10^(1-
    digits) relative undershoot FOR VALUES >= 10^(digits-1); small
    fractional and negative values carry the weaker conditional bounds
    documented on the module's accuracy note — pre-scale such data to
    fixed-point). Rank selection is one IEEE double product
    ``floor(q * (n-1))`` of the exact double ``q`` — reproducible in any
    IEEE engine that receives the same literal (DuckDB twins must CAST
    the literal AS DOUBLE: its bare decimal literals are DECIMAL and
    exact-decimal arithmetic disagrees with the double product at
    round-to-even ties). Output columns are named by
    :func:`quantile_col` — ``{prefix}{int(round(q*100))}`` — so two
    quantiles closer than a percent (or straddling a banker's-rounding
    tie, e.g. 0.125 and 0.115 both naming ``{prefix}12``) would emit
    DUPLICATE columns; that is rejected here rather than silently
    produced."""
    names = [quantile_col(prefix, q) for q in qs]
    if len(set(names)) != len(names):
        dupes = sorted({c for c in names if names.count(c) > 1})
        raise ValueError(
            "requested quantiles collide to the same output column "
            f"name(s) {dupes}: quantile_col rounds q*100 to an integer "
            "percent — space quantiles at least a percent apart"
        )
    ex = _exploded(hists, group_cols).join(
        hists.select(*group_cols, "n"), group_cols
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ex.withColumn("cum", F.sum("c").over(w))
    aggs = [
        F.min(
            F.when(
                F.col("cum")
                >= F.floor(F.lit(float(q)) * (F.col("n") - 1)) + 1,
                F.col("bucket"),
            )
        ).alias(quantile_col(prefix, q))
        for q in qs
    ]
    return cum.groupBy(*group_cols).agg(*aggs)


def merge_histograms(hists: DataFrame, group_cols: list) -> DataFrame:
    """Roll histogram states to a coarser grain (or merge state with a
    new batch) by bucket-wise count addition — an exact integer
    identity, so merged == rebuilt is pinned bitwise in tests (contrast
    the HLL caveat above)."""
    summed = (
        _exploded(hists, group_cols)
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("c").alias("c"))
    )
    return summed.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("bucket", "c")))
        ).alias("hist"),
        F.sum("c").cast("long").alias("n"),
    )


def advance_histogram_state(
    state: DataFrame | None,
    new_batch: DataFrame,
    group_cols: list,
    value_col: str,
    digits: int = DEFAULT_HIST_DIGITS,
) -> DataFrame:
    """Fold an append-only batch into the persisted per-group histogram:
    O(groups x buckets + batch), history never re-read, and — because the
    merge is exact — advanced state is BITWISE equal to a full rebuild
    over the concatenated history (pytest-pinned)."""
    fresh = value_histogram(new_batch, group_cols, value_col, digits)
    if state is None:
        return fresh
    return merge_histograms(
        state.select(*group_cols, "hist", "n").unionByName(fresh),
        group_cols,
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (mergeable top-k summary)
# ---------------------------------------------------------------------------
#
# The 100 TB skew diagnostic: "which join/group keys are hot enough to
# need salting" asked of a stream of appends without re-scanning history.
# State per group is one row: up to k (term, counter) entries plus the
# accumulated decrement ``err`` and total weight ``n``. Deterministic
# (no hashing, no RNG), exactly reproducible in SQL, and mergeable with
# the standard summary algebra (Agarwal et al., "Mergeable Summaries",
# PODS'12): merge = counter-wise add, then subtract the (k+1)-th largest
# and drop non-positives.
#
# Guarantees carried by the state and pinned in tests:
#   counter(t) <= true_count(t) <= counter(t) + err   (for kept terms)
#   absent(t)  => true_count(t) <= err
#   err <= n / (k+1)
# so every term with true frequency > n/(k+1) is guaranteed present.
#
# Build cost: one exact (group, term) count (partial-agg combines hot
# terms map-side), then the prune: per-group windows over DISTINCT
# terms only (Heaps-bounded for text; key-cardinality-bounded for join
# keys) in the grouped case, and — because kept counters provably rank
# <= k — a TakeOrderedAndProject over the top k+1 rows in the global
# case, so no single-partition window ever sees the full vocabulary.


def _mg_prune(
    counts: DataFrame, group_cols: list, k: int, single_group: bool
) -> tuple[DataFrame, DataFrame]:
    """Shared Misra-Gries reduction: given exact (group..., term, cnt),
    return (kept counters frame, per-group delta frame). The delta is
    the (k+1)-th largest cnt under the deterministic (cnt desc, term
    asc) order, 0 when <= k terms.

    Every kept counter satisfies cnt > delta, so kept terms all rank
    <= k in that order — which licenses the ``single_group`` fast path:
    a global summary needs only the top k+1 rows, fetched with
    ``orderBy().limit(k+1)`` (TakeOrderedAndProject: per-partition
    partial top-k, never a global sort), instead of a one-partition
    window over EVERY distinct term (the scan the grouped case avoids
    naturally because its window partitions by the group key)."""
    if single_group:
        head = counts.orderBy(
            F.col("cnt").desc(), F.col("term").asc()
        ).limit(k + 1)
    else:
        head = counts
    w_ord = Window.partitionBy(*group_cols).orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    w_all = Window.partitionBy(*group_cols)
    ranked = head.withColumn("rn", F.row_number().over(w_ord)).withColumn(
        "delta",
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("cnt"))).over(w_all),
            F.lit(0).cast("long"),
        ),
    )
    delta_df = ranked.where(F.col("rn") == 1).select(
        *group_cols, F.col("delta").cast("long").alias("delta")
    )
    kept = ranked.where(F.col("cnt") - F.col("delta") > 0).select(
        *group_cols,
        "term",
        (F.col("cnt") - F.col("delta")).cast("long").alias("counter"),
    )
    return kept, delta_df


def _mg_assemble(
    kept: DataFrame, meta: DataFrame, group_cols: list, err_col
) -> DataFrame:
    maps = kept.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("term", "counter")))
        ).alias("counters")
    )
    # A group whose every counter pruned to zero (all-ties edge) keeps a
    # NULL counters map — the canonical empty summary; merge's explode
    # skips it and containment bounds still hold via err.
    out = meta.join(maps, group_cols, "left")
    return out.select(
        *group_cols,
        F.col("counters"),
        F.col("n"),
        err_col.cast("long").alias("err"),
    )


def topk_sketch(
    df: DataFrame,
    group_cols: list,
    term_col: str,
    k: int,
) -> DataFrame:
    """Per-group Misra-Gries summary of ``term_col`` frequencies:
    (group_cols..., counters map<term,bigint>, n bigint, err bigint).
    With no group_cols the whole frame is one group (one state row)."""
    gcols = list(group_cols) if group_cols else ["_mg_g"]
    base = df if group_cols else df.withColumn("_mg_g", F.lit(1))
    counts = base.groupBy(*gcols, F.col(term_col).alias("term")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    kept, delta_df = _mg_prune(counts, gcols, k, not group_cols)
    meta = counts.groupBy(*gcols).agg(
        F.sum("cnt").cast("long").alias("n")
    ).join(delta_df, gcols)
    out = _mg_assemble(kept, meta, gcols, F.col("delta"))
    return out.drop("_mg_g") if not group_cols else out


def merge_topk(states: DataFrame, group_cols: list, k: int) -> DataFrame:
    """Merge summaries to a coarser grain: counter-wise add, re-prune to
    k, accumulate err. Each input row's err carries into the output, so
    the containment bounds above survive arbitrarily deep merge trees."""
    gcols = list(group_cols) if group_cols else ["_mg_g"]
    base = states if group_cols else states.withColumn("_mg_g", F.lit(1))
    meta_in = base.groupBy(*gcols).agg(
        F.sum("n").cast("long").alias("n_in"),
        F.sum("err").cast("long").alias("err_in"),
    )
    summed = (
        base.select(*gcols, F.explode("counters").alias("term", "c"))
        .groupBy(*gcols, "term")
        .agg(F.sum("c").alias("cnt"))
    )
    kept, delta_df = _mg_prune(summed, gcols, k, not group_cols)
    # left join from meta_in: a group whose every input summary was
    # empty (NULL counters) has no exploded rows and no delta row, but
    # must keep its (n, err) state rather than vanish.
    meta2 = meta_in.join(delta_df, gcols, "left").select(
        *gcols,
        F.col("n_in").alias("n"),
        (
            F.col("err_in")
            + F.coalesce(F.col("delta"), F.lit(0).cast("long"))
        ).alias("delta"),
    )
    out = _mg_assemble(kept, meta2, gcols, F.col("delta"))
    return out.drop("_mg_g") if not group_cols else out


def advance_topk_state(
    state: DataFrame | None,
    new_batch: DataFrame,
    group_cols: list,
    term_col: str,
    k: int,
) -> DataFrame:
    """Fold an append-only batch into the persisted heavy-hitter state:
    sketch the batch exactly, merge with the old summary. Cost is
    O(groups x k + batch distinct terms); the history is never re-read.
    The post-merge state obeys the same containment bounds as a single
    build over the concatenated history (pytest-pinned on both)."""
    fresh = topk_sketch(new_batch, group_cols, term_col, k)
    if state is None:
        return fresh
    gcols = list(group_cols) if group_cols else []
    cols = [*gcols, "counters", "n", "err"]
    return merge_topk(
        state.select(*cols).unionByName(fresh.select(*cols)),
        gcols,
        k,
    )
