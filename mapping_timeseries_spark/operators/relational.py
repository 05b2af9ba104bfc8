"""Relational-layer operators (SURVEY §2.2-2.8) as composable functions.

Each function is a thin, Catalyst-friendly DataFrame composition — the
point is coverage of the reference's relational surface (CASE
segmentation, top-k, conditional aggregation, distinct counts, quantiles,
unions by name, anti joins, window functions, date arithmetic) with
DuckDB-checkable semantics. Reference sites cited per function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "segment_case",
    "top_k",
    "conditional_agg",
    "distinct_counts",
    "group_quantiles",
    "union_by_name",
    "anti_join",
    "series_window_features",
    "summary_stats",
    "join_distinct_dim",
    "sample_fraction",
    "sample_portable",
    "sample_stratified",
    "sample_weighted_mix",
    "salted_agg",
    "exact_median_grouped",
    "merge_upsert",
    "month_arithmetic",
    "shard_assign",
]


def segment_case(customers: DataFrame) -> DataFrame:
    """P9 CASE-WHEN segmentation + A2 grouped agg
    (04_comparision.py:250-287 pattern, applied to customer balances)."""
    tier = (
        F.when(F.col("c_acctbal") >= 7500, "platinum")
        .when(F.col("c_acctbal") >= 5000, "gold")
        .when(F.col("c_acctbal") >= 0, "standard")
        .otherwise("delinquent")
    )
    return (
        customers.withColumn("tier", tier)
        .groupBy("tier", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.avg("c_acctbal").alias("avg_acctbal"),
        )
    )


def top_k(df: DataFrame, order_cols: list, k: int = 20) -> DataFrame:
    """O1/O3 global top-k: orderBy + limit — Catalyst plans
    TakeOrderedAndProject (no full sort at scale)."""
    return df.orderBy(*order_cols).limit(k)


def conditional_agg(orders: DataFrame) -> DataFrame:
    """A3 conditional aggregation buckets (01_setup.oy:255-258 pattern)."""
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.col("o_orderstatus") == "F").cast("bigint")).alias("n_finished"),
        F.sum((F.col("o_orderstatus") == "O").cast("bigint")).alias("n_open"),
        F.sum(
            F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)
        ).alias("n_large"),
    )


def distinct_counts(orders: DataFrame) -> DataFrame:
    """A4 exact distinct counts per group (05_prod_dev.py:113-114).

    At 100 TB prefer ``approx_count_distinct`` (HLL, no per-group hash set);
    exact is kept here because the oracle compares exact values.
    """
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    ).agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count_distinct("o_orderkey").alias("n_orders"),
    )


def group_quantiles(lineitem: DataFrame) -> DataFrame:
    """A6/A7 quantiles per group. Exact ``percentile`` (linear
    interpolation, matches DuckDB quantile_cont); swap to
    ``percentile_approx`` at scale (documented trade: driver-side exact
    percentile needs a per-group sort)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.25).alias("p25"),
        F.percentile("l_extendedprice", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.75).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


def union_by_name(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """U2 union-by-name with missing columns (mapping_engine.py:743-746):
    two differently-shaped aggregates align by name, absent columns null.
    The engine standardizes on unionByName — the reference's positional
    union (05_prod_dev.py:417-421) silently corrupts on column reorder."""
    a = orders.groupBy(F.col("o_orderpriority").alias("group_key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("o_totalprice").alias("avg_total"),
    )
    b = lineitem.groupBy(F.col("l_returnflag").alias("group_key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("l_extendedprice").alias("avg_price"),
    )
    return a.unionByName(b, allowMissingColumns=True)


def anti_join(customers: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-anti: customers with no orders — the explicit form of the
    reference's recommended_method IS NULL branch (05_prod_dev.py:377-379).
    """
    return customers.join(
        orders.select(F.col("o_custkey").alias("c_custkey")),
        on="c_custkey",
        how="left_anti",
    )


def series_window_features(t1: DataFrame) -> DataFrame:
    """W1: the window functions the reference imports but never calls
    (mapping_engine.py:23-26), made real over the entity series — previous/
    next month values, position, within-entity value rank, and frame-spec
    rolling statistics (trailing 3-month mean, cumulative sum via
    ``rowsBetween`` — sliding series stats the reference lacks entirely).

    All windows share one ``partitionBy(cus_code)`` — a single hash
    exchange serves every feature; per-entity state is O(frame), and the
    cumulative sum's running-aggregate window is O(1) memory per row.
    """
    w_time = Window.partitionBy("cus_code").orderBy("month")
    w_rank = Window.partitionBy("cus_code").orderBy(
        F.col("txn_amount").desc(), F.col("month").asc()
    )
    w_trail3 = w_time.rowsBetween(-2, 0)
    w_cum = w_time.rowsBetween(Window.unboundedPreceding, 0)
    return t1.select(
        "cus_code",
        "month",
        "txn_amount",
        F.lag("txn_amount", 1).over(w_time).alias("prev_amount"),
        F.lead("txn_amount", 1).over(w_time).alias("next_amount"),
        F.row_number().over(w_time).alias("month_pos"),
        F.row_number().over(w_rank).alias("amount_rank"),
        F.avg("txn_amount").over(w_trail3).alias("trailing3_avg"),
        F.sum("txn_amount").over(w_cum).alias("cum_amount"),
    )


def summary_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """A7 ``df.summary()`` equivalent as a single native aggregation (the
    built-in returns stringly-typed rows; this keeps doubles and uses exact
    interpolated percentiles). One row per column."""
    aggs = []
    for c in cols:
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(c).cast("bigint").alias("count"),
                F.avg(c).alias("mean"),
                F.stddev(c).alias("stddev"),
                F.min(c).cast("double").alias("min"),
                F.percentile(c, 0.25).alias("p25"),
                F.percentile(c, 0.5).alias("p50"),
                F.percentile(c, 0.75).alias("p75"),
                F.max(c).cast("double").alias("max"),
            )
        )
    wide = df.agg(*[a.alias(f"__s{i}") for i, a in enumerate(aggs)])
    return wide.select(
        F.explode(F.array(*[F.col(f"__s{i}") for i in range(len(cols))])).alias("s")
    ).select("s.*")


def join_distinct_dim(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """J7 join with a deduplicated dimension (04_comparision.py:236-240
    pattern): attach the order priority to line items through a distinct
    projection of the dimension table, then aggregate."""
    dim = orders.select("o_orderkey", "o_orderpriority").distinct()
    return (
        lineitem.join(dim, lineitem.l_orderkey == dim.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


def sample_fraction(df: DataFrame, fraction: float = 0.1, seed: int = 42) -> DataFrame:
    """P11 Bernoulli sampling (databricks_intro_tutorial.py:477-480).
    Seeded => reproducible within Spark, but the sampling sequence is
    engine-specific, so the driver check is rows-only."""
    return df.sample(fraction=fraction, seed=seed)


def sample_portable(df: DataFrame, key_col: str, one_in: int = 10) -> DataFrame:
    """P11 hash-gated twin of :func:`sample_fraction`: deterministic 1-in-k
    systematic sample by portable md5 hash of the key.

    ``sample()`` keeps API fidelity with the reference but its RNG sequence
    is engine-private; this variant selects rows where
    ``portable_hash64(key) % k = 0`` — the same integer arithmetic runs in
    DuckDB, so the selected set is engine-reproducible (and, unlike a
    seeded RNG, stable under repartitioning — at scale the sample doesn't
    change when the input split layout does)."""
    from ..functions.text import portable_hash64

    return df.where(
        portable_hash64(F.col(key_col).cast("string")) % F.lit(one_in) == 0
    )


def sample_stratified(
    df: DataFrame, stratum_col: str, key_col: str, per_stratum_k: int = 20
) -> DataFrame:
    """Per-stratum quota sample: the ``k`` rows of each stratum with the
    smallest portable md5 key hash — the data-mixing primitive a training
    pipeline uses to draw balanced per-language/per-source subsets.

    Hash-ranking makes the draw uniform-ish, deterministic, engine-
    reproducible, and stable under repartitioning AND under corpus growth
    (a row's rank only changes if new rows hash below it — so refreshing
    the corpus mostly preserves the sample, unlike seeded RNG). Plan: one
    shuffle on the stratum key for the rank window; at scale strata are
    many and the window partitions are balanced by construction (hash
    order is uncorrelated with stratum size).
    """
    from ..functions.text import portable_hash64

    h = portable_hash64(F.col(key_col).cast("string"))
    w = Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= per_stratum_k)
        .drop("__rk")
    )


def sample_weighted_mix(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Weighted dataset mixing: realize per-domain epoch weights as a
    deterministic row multiset — the standard pretraining-mixture step
    (domain weight 2.3 ⇒ every doc appears twice and 30% of docs a third
    time; weight 0.4 ⇒ a 40% downsample).

    Each row gets ``n_copies = floor(w) + (u < frac(w))`` where
    ``u = portable_hash64(salt:key) % 1e6 / 1e6`` — so the fractional
    part is an exact-expectation systematic draw, not an RNG: the
    realized mix is a pure function of content keys (reproducible across
    engines and re-runs, stable under repartitioning, and mostly stable
    under corpus growth), and changing ``salt`` redraws the fractional
    slice independently. Output adds ``copy_idx`` (1-based) — downstream
    shard/order keys should include it so duplicated copies spread
    across shards instead of clumping.

    Plan: map-only (a literal-map lookup + ``explode(sequence)``), no
    shuffle, no join; row fan-out is exactly the configured epoch
    multiple. Weights are config-sized (O(domains)) so a literal map
    beats a broadcast-join dim — swap to a broadcast join only if the
    domain set itself needs to come from data.
    """
    if any(w < 0 for w in weights.values()) or default_weight < 0:
        raise ValueError("mixture weights must be >= 0")
    from ..functions.text import portable_hash64

    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    w = F.coalesce(
        wmap[F.col(domain_col)], F.lit(float(default_weight))
    )
    u = (
        portable_hash64(
            F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
        )
        % F.lit(1000000)
    ) / F.lit(1000000.0)
    n_copies = (
        F.floor(w).cast("int")
        + F.when(u < (w - F.floor(w)), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        df.withColumn("__n_copies", n_copies)
        .where(F.col("__n_copies") > 0)
        .withColumn(
            "copy_idx",
            F.explode(F.sequence(F.lit(1), F.col("__n_copies"))),
        )
        .drop("__n_copies")
    )


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation for skewed keys.

    Stage 1 aggregates per (key, salt) — a hot key's rows split across
    ``salt_buckets`` reduce tasks instead of one straggler owning the
    whole key; stage 2 merges the ≤ salt_buckets partials per key (tiny).
    ``aggs`` maps column -> 'sum' | 'count' | 'min' | 'max' (the
    decomposable aggregates where partial-merge is exact: count merges by
    summing partial counts). The salt is ``spark_partition_id() %
    salt_buckets`` — free to compute, already uniform over input splits,
    and irrelevant to the result (associativity), so the output equals
    the direct groupBy exactly and stays oracle-checkable.

    This is the manual fallback for engines/paths where AQE skew-join
    splitting doesn't apply (plain aggregations, AQE off); with AQE on,
    prefer letting skewedJoin/coalesce handle it (SCALE.md).
    """
    if not aggs:
        raise ValueError("aggs must name at least one column")
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for col, how in aggs.items():
        if how not in merge_fn:
            raise ValueError(f"unsupported agg '{how}' for {col}")
    salted = df.withColumn(
        "__salt", F.spark_partition_id() % F.lit(salt_buckets)
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(
        *[
            first_fn[how](col).alias(f"__p_{col}")
            for col, how in aggs.items()
        ]
    )
    return partial.groupBy(*key_cols).agg(
        *[
            merge_fn[how](f"__p_{col}").alias(f"{how}_{col}")
            for col, how in aggs.items()
        ]
    )


def exact_median_grouped(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    out_col: str = "median",
) -> DataFrame:
    """Exact per-key median, skew-robust via a value histogram.

    Spark's exact ``percentile`` aggregate buffers EVERY row of a key in
    one reduce task's memory — the canonical partial-agg-resistant
    operation where a hot key (10^9 rows at 100 TB) OOMs a straggler and
    salting sums can't help (a median doesn't merge from partial
    medians). The scalable exact formulation aggregates the *histogram*
    instead:

    1. ``groupBy(keys, value).count()`` — partial aggregation applies (a
       hot key spreads over its distinct values across mappers), and the
       shuffled rows collapse from n to n_distinct_values per key;
    2. one window pass over each key's histogram, ordered by value,
       locates the middle position(s) from the cumulative count — memory
       per task is O(1) beyond the stream.

    Median = the (n+1)/2-th value for odd n, the mean of the n/2-th and
    (n/2+1)-th for even n (1-indexed) — matching ANSI
    ``percentile_cont(0.5)`` / DuckDB ``median`` on numeric input, so the
    result is oracle-checkable. Nulls in ``value_col`` are excluded
    (aggregate semantics) — including keys whose values are ALL null,
    which still appear in the output with a NULL median exactly as
    ``median``/``percentile_cont`` would return them (the null pre-filter
    alone would silently drop those groups).
    """
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*key_cols, F.col(value_col).cast("double").alias("__v"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    all_keys = df.select(*key_cols).distinct()
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_key = Window.partitionBy(*key_cols)
    cum = hist.withColumn("__cum", F.sum("__cnt").over(w_cum)).withColumn(
        "__n", F.sum("__cnt").over(w_key)
    )
    lo = (F.col("__n") + 1) / F.lit(2)  # position of lower middle (1-idx)
    hi = (F.col("__n") + 2) / F.lit(2)  # position of upper middle
    lo_pos = F.floor(lo)
    hi_pos = F.floor(hi)
    prev = F.col("__cum") - F.col("__cnt")
    covers_lo = (lo_pos > prev) & (lo_pos <= F.col("__cum"))
    covers_hi = (hi_pos > prev) & (hi_pos <= F.col("__cum"))
    contrib = (
        F.when(covers_lo, F.col("__v")).otherwise(F.lit(0.0))
        + F.when(covers_hi, F.col("__v")).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    medians = (
        cum.where(covers_lo | covers_hi)
        .groupBy(*key_cols)
        .agg(F.sum(contrib).alias(out_col))
    )
    # null-safe equality: groupBy treats a NULL key as a real group, and a
    # plain join would orphan it (NULL = NULL is not true in a join)
    m = medians.select(
        *[F.col(k).alias(f"__mk_{k}") for k in key_cols], out_col
    )
    cond = None
    for k in key_cols:
        c = all_keys[k].eqNullSafe(m[f"__mk_{k}"])
        cond = c if cond is None else (cond & c)
    return all_keys.join(m, cond, "left").select(*key_cols, out_col)


def shard_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    salt: str = "shard",
) -> DataFrame:
    """Deterministic shuffle-and-shard assignment for training-data
    export: ``shard = portable_md5(salt:key) % n_shards`` plus the raw
    hash as the within-shard sort key.

    The point of hashing rather than RNG-shuffling: the shard AND the
    within-shard order are pure functions of the row's key — stable under
    input repartitioning, file-split changes, and re-runs (a seeded
    ``rand()`` is none of those: Spark evaluates it per-partition, so the
    'shuffle' silently changes whenever the split layout does). That
    makes training runs reproducible and interrupted exports resumable,
    and changing ``salt`` gives an independent reshuffle (epoch
    re-ordering) with no data movement beyond the rewrite itself.
    md5 is uncorrelated with the key order, so sorting by the hash IS the
    global shuffle — no ``orderBy(rand())`` global sort needed.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from ..functions.text import portable_hash64

    h = portable_hash64(
        F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))
    )
    return df.withColumn("shard_hash", h).withColumn(
        "shard", (F.col("shard_hash") % n_shards).cast("int")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    tag_col: str | None = None,
) -> DataFrame:
    """MERGE INTO as a join rewrite — the vanilla-Spark analogue of Delta
    ``MERGE WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
    (the reference's production pipeline leans on Delta overwrite/rollback,
    05_prod_dev.py:861-876,1163-1191; parquet has no MERGE, so the engine
    expresses it relationally):

        result = source  UNION  (target LEFT ANTI source ON keys)

    i.e. every source row wins (update or insert), target rows without a
    source match survive unchanged. With ``tag_col`` set, each row carries
    its merge action ('update' | 'insert' | 'keep') derived from key
    provenance — update = source row whose key exists in target.

    Scale: one key-hashed shuffle for the anti join plus (for tagging) a
    key-projected semi probe of target; no row ever carries more than its
    own columns. Both sides bucketed by the keys → shuffle-free. The sink
    twin ``writers.merge_into_partitioned`` adds selective-partition
    rewrite so a 100 TB table only rewrites the partitions the source
    touches.

    Duplicate keys are honored, not collapsed (same as SQL MERGE with a
    multi-matching source — except SQL MERGE errors; here all source rows
    are kept by design, documented divergence for append-style grains).
    """
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"merge_upsert requires identical column sets; "
            f"target-only={sorted(set(target.columns) - set(source.columns))} "
            f"source-only={sorted(set(source.columns) - set(target.columns))}"
        )
    keep = target.join(source.select(keys).distinct(), keys, "left_anti")
    if tag_col is None:
        return source.unionByName(keep)
    marked = source.join(
        target.select(keys).distinct().withColumn("__matched", F.lit(1)),
        keys,
        "left",
    ).withColumn(
        tag_col,
        F.when(F.col("__matched").isNotNull(), F.lit("update")).otherwise(
            F.lit("insert")
        ),
    ).drop("__matched")
    return marked.unionByName(keep.withColumn(tag_col, F.lit("keep")))


def month_arithmetic(orders: DataFrame) -> DataFrame:
    """F1 date-function round trip on distinct order months: the exact
    to_date / add_months / date_format chain the lag join hinges on
    (mapping_engine.py:626-627)."""
    months = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).distinct()
    d = F.to_date("month")
    return months.select(
        "month",
        F.date_format(F.add_months(d, 3), "yyyy-MM").alias("plus3"),
        F.date_format(F.add_months(d, -1), "yyyy-MM").alias("minus1"),
        F.year(d).cast("int").alias("yr"),
        F.month(d).cast("int").alias("mo"),
    )
