"""Lagged-correlation analysis (SURVEY §2.4 A8, §2.5 W2, §2.9 D1/D6).

The reference computes per-entity best-lag Pearson correlation inside a
GROUPED_MAP pandas UDF: sort the group by month, slice ``txn[:-lag]`` vs
``rev[lag:]`` for lag 0..max_lag, keep the best (mapping_engine.py:117-160,
227-266). That is a positional (row-order) alignment, and SQL ``corr`` IS
Pearson — so the whole UDF collapses to native, whole-stage-codegen'd
DataFrame ops:

    lead(revenue, lag) OVER (PARTITION BY cus_code ORDER BY month)
    ... explode(lags) ... GROUP BY cus_code, lag
    ... GROUP BY cus_code: max(struct(corr, -lag)) picks the winner

(one linear plan — a one-pass form replaced the earlier
row_number window + self-join argmax; tests/test_scale_evidence.py
asserts the plan shape so the two-pass form cannot silently return).

Semantics matched to the reference exactly:

- alignment is positional over month-sorted rows ('yyyy-MM' strings sort
  chronologically), NOT calendar arithmetic — gaps in the month grid shift
  positions, as in the numpy slicing (mapping_engine.py:140-141);
- a lag is only considered if the aligned length ``n - lag >= 2``
  (mapping_engine.py:136-137,144-146);
- NaN correlations are skipped (scipy yields NaN on constant input;
  non-ANSI Spark ``corr`` yields NaN/null there — filtered)
  (mapping_engine.py:154);
- strict ``>`` improvement keeps the SMALLEST winning lag on ties
  -> ``ORDER BY corr DESC, lag ASC`` (mapping_engine.py:154-156);
- entity with n < 2 rows -> (lag 0, corr 0.0) (mapping_engine.py:129-130);
- entity with n >= 2 but no valid lag (all-NaN, e.g. constant series)
  -> (lag 0, corr -1.0): the ``best_corr = -1`` init is returned untouched
  (mapping_engine.py:132-133).

Scale notes
-----------
ONE shuffle and ONE pass for the whole computation (plan-
asserted): the lead window's exchange hash-partitions by cus_code; the
exploded lag-grid groupBy(cus_code, lag) and the per-entity argmax
groupBy(cus_code) — a lexicographic max(struct(corr, -lag)) with the
n<2 / no-valid-lag fallbacks folded in as guarded aggregate expressions
— are both satisfied by that partitioning (HashPartitioning(cus_code)
satisfies ClusteredDistribution for every superset grouping), so
Catalyst inserts no further exchanges: no second window, no self-join,
three scans total across the consumer queries. Per-entity state is
O(max_lag) aggregation buffers — no per-entity materialized series, so
skew is bounded by months-per-entity, not entity count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .canonicalize import KEY, TIME

__all__ = [
    "lag_correlation_grid",
    "best_lag_correlation",
    "correlation_all_lags",
    "lag_grid_with_pvalues",
    "corr_moment_state",
    "merge_moment_states",
    "corr_from_moments",
    "corr_moments_delta",
]


def _with_lagged_revenue(merged: DataFrame, max_lag: int) -> DataFrame:
    """Project one lead-of-revenue column per lag over a single window."""
    w = Window.partitionBy(KEY).orderBy(TIME)
    lead_cols = [
        (F.col("revenue") if lag == 0 else F.lead("revenue", lag).over(w)).alias(
            f"__rev_lag_{lag}"
        )
        for lag in range(max_lag + 1)
    ]
    return merged.select(KEY, TIME, "txn_amount", "revenue", *lead_cols)


def lag_correlation_grid(merged: DataFrame, max_lag: int = 6) -> DataFrame:
    """Per (entity, lag) Pearson correlation over positionally-aligned pairs.

    Output: ``cus_code, lag:int, corr:double, n_pairs:long`` — one row per
    (entity, lag) INCLUDING lags with no aligned pair (corr null,
    n_pairs 0): the flat version of the research notebook's ``all_lags``
    array (02_corr_mapping.p:25-29), whose short-series entries are
    ``(lag, None)`` — downstream validity gates filter on
    ``n_pairs >= 2``, never on row presence. ``n_pairs`` counts pairs
    where BOTH values are non-null — exactly the pairs ``F.corr``
    aggregates — so the ``n_pairs >= 2`` gate can never pass on fewer
    real pairs than corr itself saw (a bare ``count(rev)`` would
    overcount when the x side carries nulls).

    Shape ("aggregate before you shuffle/explode"): the
    grid aggregates the UN-EXPLODED windowed frame — one ``corr(x,
    __rev_lag_j)`` + one pair count per lag as (max_lag+1) aggregate
    expression pairs over groupBy(entity) — and explodes the per-entity
    7-struct array AFTER aggregation. The earlier shape exploded every
    merged row (max_lag+1)x BEFORE aggregating, pushing 7x the rows
    through the aggregation hash map (measured: the explode+agg stage
    was 8-11 s of executor time in every corr-family leg at sf0.1).
    Results are identical: each (entity, lag) corr/count aggregates the
    same pair stream in the same month order — the lag is a column
    choice instead of an exploded row tag.
    """
    g = _grid_wide(merged, max_lag)
    return g.select(
        KEY,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lag).alias("lag"),
                        F.col(f"__c_{lag}").alias("corr"),
                        F.col(f"__n_{lag}").alias("n_pairs"),
                    )
                    for lag in range(max_lag + 1)
                ]
            )
        ).alias("p"),
    ).select(KEY, "p.lag", "p.corr", "p.n_pairs")


def _grid_wide(
    merged: DataFrame, max_lag: int, extra_aggs: list | None = None
) -> DataFrame:
    """One-aggregation wide grid: per entity, ``__c_j``/``__n_j`` for
    every lag j (plus any caller aggregates) over the lead-windowed
    frame. The window's hash partitioning on the entity key satisfies
    the groupBy's distribution, so the whole grid is ONE exchange."""
    windowed = _with_lagged_revenue(merged, max_lag)
    x = F.col("txn_amount")
    aggs = []
    for lag in range(max_lag + 1):
        y = F.col(f"__rev_lag_{lag}")
        aggs.append(F.corr(x, y).alias(f"__c_{lag}"))
        aggs.append(
            F.count(
                F.when(x.isNotNull() & y.isNotNull(), F.lit(1))
            ).alias(f"__n_{lag}")
        )
    return windowed.groupBy(KEY).agg(*aggs, *(extra_aggs or []))


_MOMENT_COLS = ("n", "sx", "sy", "sxx", "syy", "sxy")


def _aligned_pairs(merged: DataFrame, max_lag: int) -> DataFrame:
    """The (entity, lag, x, y) pair stream both the grid and the moment
    state aggregate — one window, one explode."""
    windowed = _with_lagged_revenue(merged, max_lag)
    return windowed.select(
        KEY,
        F.col("txn_amount"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lag).alias("lag"),
                        F.col(f"__rev_lag_{lag}").alias("rev"),
                    )
                    for lag in range(max_lag + 1)
                ]
            )
        ).alias("p"),
    ).select(
        KEY, F.col("p.lag").alias("lag"), "txn_amount", F.col("p.rev").alias("rev")
    )


def corr_moment_state(
    merged: DataFrame, max_lag: int = 6, lattice_scale: int = 10_000
) -> DataFrame:
    """Mergeable sufficient statistics for the lagged-correlation grid:
    per (entity, lag) the EXACT integer-lattice sums
    ``(n, sx, sy, sxx, syy, sxy)`` over positionally-aligned pairs.

    The moments are ADDITIVE (and subtractive) across disjoint pair
    sets, which is what ``lag_correlation_grid`` itself is not: corr
    values don't merge, their sufficient statistics do. This is the
    incremental-pipeline state — persist it instead of re-scanning all
    history when a month arrives (see :func:`corr_moments_delta`), merge
    it with :func:`merge_moment_states`, finish with
    :func:`corr_from_moments`.

    Numerics (found by the first sf0.1 run of the cross-engine state
    gate): raw DOUBLE moments suffer catastrophic cancellation in
    ``n*sxy - sx*sy`` / ``n*sxx - sx²`` whenever |corr| ≈ 1 or the
    series mean dwarfs its variance — a perfectly anti-correlated
    entity finished at -0.999985 from double moments where the grid's
    two-pass ``F.corr`` (and the DuckDB twin) give exactly -1.0. The
    engine's money values live EXACTLY on a 1e-4 lattice (every partial
    sum of lattice-exact doubles below 2^53/scale is itself exact), so
    the state scales to lattice integers and sums in decimal: every
    moment is EXACT, the finishing cancellation happens in exact decimal
    arithmetic (:func:`corr_from_moments`), and corr is scale-invariant
    so ``lattice_scale`` divides out. This also makes the pytest-pinned
    ``merge(state, delta) == state(full)`` invariant hold bitwise
    (decimal addition is associative; double addition is not).

    Preconditions (callers own them; :func:`lattice_residual` probes):
    values on the 1/``lattice_scale`` lattice with ``|x*scale| < 1e18``
    (decimal(18,0) multiplicands keep the product type at
    decimal(37,0), under Spark's 38-digit cap, so nothing silently
    loses precision). States merged together must share one scale.
    STATE-FORMAT note: sums are decimal columns — a state persisted by
    the earlier double format fails the merge loudly
    (unionByName type mismatch); re-bootstrap with init_corr_state.
    """
    pairs = _aligned_pairs(merged, max_lag)
    x, y = F.col("txn_amount"), F.col("rev")
    kx = F.round(x * F.lit(lattice_scale)).cast("decimal(18,0)")
    ky = F.round(y * F.lit(lattice_scale)).cast("decimal(18,0)")
    # BOTH sides must be non-null: F.corr in the one-shot grid skips a
    # pair when either value is null, and a null x here would count into
    # n while contributing nothing to sx/sxx/sxy — an internally
    # inconsistent state whose finished corr diverges from the grid
    # (live repro: txn=[1,null,3,4] gave 0.9 vs the grid's 0.99587)
    return pairs.where(y.isNotNull() & x.isNotNull()).groupBy(KEY, "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(kx).alias("sx"),
        F.sum(ky).alias("sy"),
        F.sum(kx * kx).alias("sxx"),
        F.sum(ky * ky).alias("syy"),
        F.sum(kx * ky).alias("sxy"),
    )


def merge_moment_states(*states: DataFrame) -> DataFrame:
    """Merge moment states from disjoint pair sets: union + per-key sum.
    One shuffle keyed (entity, lag); associative, so any merge tree works
    (daily → monthly → total)."""
    if not states:
        raise ValueError("need at least one state")
    unioned = states[0]
    for s in states[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy(KEY, "lag").agg(
        *[F.sum(c).alias(c) for c in _MOMENT_COLS]
    )


def corr_from_moments(state: DataFrame) -> DataFrame:
    """Finish the state into ``(cus_code, lag, corr, n_pairs)`` — the
    lag_correlation_grid shape. Zero-variance sides yield NULL corr
    (the grid's NaN/null rows are filtered by every consumer anyway);
    n < 1 rows cannot occur in a well-formed state.

    The cancellation-prone combinations (``n*sxy - sx*sy`` etc.) run in
    EXACT decimal over the exact integer-lattice sums — the subtraction
    that destroyed double moments at |corr| ≈ 1 (see
    :func:`corr_moment_state` numerics) loses nothing here; only the
    final sqrt/divide are IEEE double, the same two-op tail every
    engine computes identically from identical inputs."""
    n = F.col("n").cast("decimal(38,0)")
    sx, sy = F.col("sx"), F.col("sy")
    cov = (n * F.col("sxy") - sx * sy).cast("double")
    vx = (n * F.col("sxx") - sx * sx).cast("double")
    vy = (n * F.col("syy") - sy * sy).cast("double")
    denom = F.sqrt(vx * vy)
    return state.select(
        KEY,
        "lag",
        F.when(denom > 0, cov / denom).alias("corr"),
        F.col("n").alias("n_pairs"),
    )


def corr_moments_delta(
    history_tail: DataFrame, new_rows: DataFrame, max_lag: int = 6
) -> DataFrame:
    """Delta state for appended months: pairs that exist over
    ``tail ∪ new`` but not over ``tail`` alone.

    ``history_tail`` must be the LAST ``max_lag`` rows per entity (by
    month order) — the only history rows whose lagged pairs reach into
    the new months; everything older is untouched by an append, which is
    the entire point. Implementation exploits subtractivity:
    ``delta = state(tail ∪ new) − state(tail)`` — no pair bookkeeping,
    and the computation touches O(entities × max_lag) history rows plus
    the new data, never the full history. Invariant (pytest-pinned):
    ``merge(state(history), delta(tail, new)) == state(history ∪ new)``
    exactly, because both sides sum the same lattice values.
    """
    full = corr_moment_state(history_tail.unionByName(new_rows), max_lag)
    old = corr_moment_state(history_tail, max_lag)
    negated = old.select(
        KEY, "lag", *[(-F.col(c)).alias(c) for c in _MOMENT_COLS]
    )
    merged = merge_moment_states(full, negated)
    # drop all-zero rows (pairs fully inside the tail cancel out)
    return merged.where(F.col("n") != 0)


def _lattice_mean(col: str, scale: int):
    """Order-independent mean for values on a 1/scale money lattice.

    ``avg(double)`` is summation-order-dependent: on a cluster the partial
    sums combine in partition order, so the last few bits of the mean vary
    run to run (and diverge from any other engine). For money columns the
    row values sit within float error of a 1/scale lattice point, so
    ``round(x*scale)`` recovers the exact integer; the integer sum is
    associative/deterministic and the final double division is IEEE-exact
    and engine-portable. (Diagnosed round 1: 5/1402 entities differed from
    the DuckDB oracle by 1 ulp in the 6th decimal of the float mean.)

    Validity bound: requires ``|x * scale| < 2^53`` per row (double
    ``round`` loses integer exactness beyond that) AND the inputs actually
    on the 1/scale lattice — off-lattice values are silently snapped to the
    nearest lattice point, corrupting the mean. Callers own the
    precondition; :func:`lattice_residual` gives a testable check.
    """
    c = F.col(col) if isinstance(col, str) else col
    micros = F.round(c * F.lit(scale)).cast("bigint")
    # decimal(38,0) sum: a plain int64 sum would wrap silently past 2^63
    # (reachable at ~1e10 rows of micro-scaled money) while DuckDB
    # promotes to HUGEINT — the engines would diverge without an error
    return (
        F.sum(micros.cast("decimal(38,0)")).cast("double")
        / (F.count(c) * F.lit(scale)).cast("double")
    )


def _int_moments_std(k, scale: int):
    """Sample stddev from exact integer moments of bigint column ``k``
    (values pre-scaled to a lattice): S1 and S2 both sum in decimal(38,0)
    (k² can pass 2^63, and S1 itself can at ~1e10-row scale, where a plain
    int64 sum would wrap silently in non-ANSI mode while the DuckDB twin
    promotes to HUGEINT), each cast ONCE to double — both engines round
    the same exact integer to the same double — then a fixed scalar IEEE
    sequence. Engine-portable where ``stddev`` (whose update formula and
    accumulation order are engine-private) is not.
    DuckDB twin: entry _sql_int_std (token-for-token the same ops)."""
    n = F.count(k).cast("double")
    s1 = F.sum(k.cast("decimal(38,0)")).cast("double")
    s2 = F.sum(k.cast("decimal(38,0)") * k).cast("double")
    var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    return F.sqrt(var) / F.lit(float(scale))


def _int_pearson(kx, ky):
    """Pearson correlation from exact integer moments of two bigint
    columns (scale-invariant, so lattice prescaling divides out). Same
    portability contract as :func:`_int_moments_std`."""
    n = F.count(kx).cast("double")
    xd = F.sum(kx.cast("decimal(38,0)")).cast("double")
    yd = F.sum(ky.cast("decimal(38,0)")).cast("double")
    xx = F.sum(kx.cast("decimal(38,0)") * kx).cast("double")
    yy = F.sum(ky.cast("decimal(38,0)") * ky).cast("double")
    xy = F.sum(kx.cast("decimal(38,0)") * ky).cast("double")
    num = n * xy - xd * yd
    den = F.sqrt((n * xx - xd * xd) * (n * yy - yd * yd))
    return num / den


def lattice_residual(df: DataFrame, col: str, scale: int):
    """Max |x*scale - round(x*scale)| over ``df[col]`` — a debug/test probe
    for the :func:`_lattice_mean` precondition (should be ~0, certainly
    < 0.5, for genuine 1/scale-lattice data). Returns a 1-row DataFrame."""
    x = F.col(col) * F.lit(scale)
    return df.select(F.max(F.abs(x - F.round(x))).alias("max_lattice_residual"))


def _lattice_mean_rounded(col: str, scale: int, dp: int):
    """Half-up ``dp``-decimal mean for 1/scale-lattice values, engine-portable.

    ``round(mean, dp)`` on a double is NOT portable when the exact mean sits
    on a 5e-{dp+1} midpoint: Spark's ``F.round`` HALF_UPs the shortest
    decimal representation while DuckDB rounds the binary double (observed:
    one entity's 6-dp mean differing in the last digit between engines).
    The exact mean is the rational S/(scale*N) with
    ``S = sum(round(x*scale)::bigint)`` and ``N = count``; its half-up
    (away-from-zero, decimal ROUND_HALF_UP) rounding to ``dp`` decimals
    is the pure-integer expression

        sign(S) * floor((2*|S|*m + N) / (2*N)) / 10^dp,  m = 10^dp/scale

    (requires ``scale`` to divide ``10^dp``). Implemented with the mod
    identity ``floor(a/b)*b = a - a % b`` so no float division happens until
    the quotient is exactly divisible — every intermediate is an exact
    decimal(38,0) integer (matching DuckDB's automatic HUGEINT promotion;
    a bigint sum would wrap silently past 2^63 at extreme row counts),
    and the final two double divisions are the same IEEE ops in any
    engine. The sign decomposition matters: both engines' ``%`` is
    truncated remainder, so the bare identity applied to a negative
    numerator lands one lattice unit high and rounds halves toward
    +inf (live repro: mean of [-0.03, -0.03] came back -0.02).
    """
    if 10**dp % scale != 0:
        raise ValueError(f"scale {scale} must divide 10^{dp}")
    c = F.col(col) if isinstance(col, str) else col
    m = 10**dp // scale
    s = F.sum(F.round(c * F.lit(scale)).cast("bigint").cast("decimal(38,0)"))
    n = F.count(c)
    # sign-decomposed so the floor identity holds for NEGATIVE sums too:
    # `a - a % b` floors only for a >= 0 (Spark's and DuckDB's % is
    # truncated remainder — for a < 0 it computes trunc, one lattice
    # unit off, and rounds halves toward +inf instead of away from
    # zero). Work on |S| (trunc == floor), then restore the sign:
    # half-up away from zero, decimal ROUND_HALF_UP semantics, matching
    # F.round's behavior on negatives.
    sign = F.when(s < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    numer = F.lit(2 * m) * F.abs(s) + n
    denom = F.lit(2) * n
    quot = (numer - numer % denom).cast("double") / denom.cast("double")
    return sign * quot / F.lit(float(10**dp))


def best_lag_correlation(
    merged: DataFrame,
    max_lag: int = 6,
    mean_lattice_scale: int | None = None,
    mean_round_dp: int | None = None,
) -> DataFrame:
    """Per-entity optimal lag + best correlation, reference semantics.

    Output: ``cus_code, optimal_lag:int, correlation:double,
    num_months:long, txn_mean:double, rev_mean:double`` — the reference
    correlation-UDF result schema (mapping_engine.py:232-239).

    ``mean_lattice_scale``: when the value columns are money on a 1/scale
    lattice (e.g. 10000 for 4-dp amounts), computes the deterministic
    lattice-exact mean instead of float ``avg`` — see ``_lattice_mean``.
    ``mean_round_dp``: additionally round the lattice mean to this many
    decimals with portable integer half-up arithmetic (requires
    ``mean_lattice_scale``) — see ``_lattice_mean_rounded``.
    """
    # ONE linear pass over `merged`: merged -> lead
    # window -> ONE groupBy(entity) computing every lag's corr and pair
    # count as column aggregates over the UN-EXPLODED windowed frame
    # (see lag_correlation_grid's shape note — the old explode pushed 7x
    # the rows through the aggregation), plus num_months and the means
    # directly (the lag-0 pair stream IS the merged frame, so no lag==0
    # guards are needed any more). The per-lag argmax then happens
    # ROW-LOCALLY via greatest() over the (corr_j, -j) structs —
    # lexicographic max == orderBy(corr desc, lag asc) row 1; invalid
    # lags (n_pairs < 2, null/NaN corr) are nulled out and greatest()
    # skips nulls, exactly as F.max skipped the nulled exploded rows.
    # Single-pass and single-exchange hold by construction: the window
    # and the aggregation share the entity hash partitioning.
    x = F.col("txn_amount")
    rev0 = F.col("revenue")
    if mean_lattice_scale is None:
        if mean_round_dp is not None:
            raise ValueError("mean_round_dp requires mean_lattice_scale")
        txn_mean = F.avg(x)
        rev_mean = F.avg(rev0)
    elif mean_round_dp is None:
        txn_mean = _lattice_mean(x, mean_lattice_scale)
        rev_mean = _lattice_mean(rev0, mean_lattice_scale)
    else:
        txn_mean = _lattice_mean_rounded(x, mean_lattice_scale, mean_round_dp)
        rev_mean = _lattice_mean_rounded(rev0, mean_lattice_scale, mean_round_dp)
    g = _grid_wide(
        merged,
        max_lag,
        extra_aggs=[
            F.count(F.lit(1)).alias("num_months"),
            txn_mean.alias("txn_mean"),
            rev_mean.alias("rev_mean"),
        ],
    )

    def cand(lag: int):
        c, n = F.col(f"__c_{lag}"), F.col(f"__n_{lag}")
        valid = (n >= 2) & c.isNotNull() & ~F.isnan(c)
        return F.when(
            valid,
            F.struct(c.alias("c"), F.lit(-lag).alias("nl")),
        )

    cands = [cand(lag) for lag in range(max_lag + 1)]
    best = F.greatest(*cands) if len(cands) > 1 else cands[0]
    per_entity = g.select(KEY, best.alias("__b"), "num_months", "txn_mean", "rev_mean")
    return per_entity.select(
        KEY,
        F.coalesce(-F.col("__b.nl"), F.lit(0)).cast("int").alias("optimal_lag"),
        F.coalesce(
            F.col("__b.c"),
            F.when(F.col("num_months") >= 2, F.lit(-1.0)).otherwise(F.lit(0.0)),
        ).alias("correlation"),
        "num_months",
        "txn_mean",
        "rev_mean",
    )


def lag_grid_with_pvalues(merged: DataFrame, max_lag: int = 6) -> DataFrame:
    """Research-notebook grid with two-sided p-values
    (02_corr_mapping.p:60-91 computes them via scipy.stats.pearsonr; here
    derived from (corr, n_pairs) — functions/stats.py). The pandas UDF
    touches only the (entity, lag) grid, never the fact rows."""
    from ..functions.stats import with_pvalue

    grid = lag_correlation_grid(merged, max_lag)
    return grid.withColumn(
        "pvalue", with_pvalue(F.col("corr"), F.col("n_pairs").cast("double"))
    )


def correlation_all_lags(merged: DataFrame, max_lag: int = 6) -> DataFrame:
    """Research-notebook shape: best lag plus the full per-lag array
    (02_corr_mapping.p:18-101, minus p-values — see functions/stats.py).

    Output adds ``all_lags: array<struct<lag:int, corr:double>>`` sorted by
    lag (array_sort on struct sorts by first field).
    """
    grid = lag_correlation_grid(merged, max_lag)
    arrays = grid.groupBy(KEY).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("lag"), F.col("corr")))
        ).alias("all_lags")
    )
    return best_lag_correlation(merged, max_lag).join(arrays, on=KEY, how="left")
