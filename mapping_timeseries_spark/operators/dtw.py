"""DTW alignment (SURVEY §2.9 D3/D4/D5) via ``groupBy().applyInPandas``.

The one place per-group dynamic programming genuinely requires Python
(SURVEY §7.3). Semantics match the reference's ``dtw_distance``
(mapping_engine.py:162-216) and DTW UDF (mapping_engine.py:277-337):

- optional z-score normalization; sigma==0 or NaN -> mean-centered only
  (mapping_engine.py:109-115);
- L1 point cost ``|txn[i]-rev[j]|`` on the (normalized) series;
- accumulation ``cost + min(up, left, diag)`` with an optional Sakoe-Chiba
  band ``j in [i-w, i+w]`` — cells outside stay +inf, and a band narrower
  than |n-m| legitimately yields total_cost = inf (propagated, not "fixed";
  SURVEY §7.4 risk 3);
- backtracking from (n, m) picks the minimum of (up, left, diag) preferring
  up, then left, then diag on exact ties (Python ``min`` takes the first
  minimal candidate — mapping_engine.py:206-211), and stops at any edge
  without appending edge cells;
- per-group failure falls back to the identity path with cost 0.0
  (mapping_engine.py:311-316).

Implementation is NOT a transcription: the DP matrix is filled over
anti-diagonal WAVEFRONTS — cells on one anti-diagonal have no mutual
dependency, so each is one vectorized ``cost + min(up, left, diag)``
over the diagonal (and across entities in the batched variant) instead
of a Python inner loop. Crucially that is the EXACT per-cell float
expression of the sequential naive DP (min is a selection; the single
addition rounds identically), so acc is bitwise-equal to the
reference-style sequential recurrence and backtrack tie decisions land
on the same side. An earlier min-plus prefix-scan formulation
(``C[j] + running_min(entered - C)``) was ulp-inexact and broke the
tie preference on symmetric series — equal-cost but different paths,
first exposed by the sf0.1 cross-engine check, and replaced.

Scale notes
-----------
``applyInPandas`` shuffles once on the entity key; per-group state is
O(n*m) for series of n,m months — bounded and small (years of months), so
executor memory is safe regardless of entity count. Arrow batches move
whole groups; output is one row per entity with the path as
array<struct>, exploded downstream (reference mapping_engine.py:662-675).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .canonicalize import KEY, TIME

__all__ = [
    "zscore",
    "dtw_align",
    "dtw_per_entity",
    "flatten_dtw_paths",
    "build_dtw_mappings",
    "dtw_pairs",
    "dtw_summary",
]


def zscore(arr: np.ndarray) -> np.ndarray:
    """Z-score normalize; degenerate sigma -> mean-centering only
    (mapping_engine.py:109-115)."""
    mu = arr.mean()
    sigma = arr.std()
    if sigma == 0 or np.isnan(sigma):
        return arr - mu
    return (arr - mu) / sigma


def _accumulate(
    a: np.ndarray, b: np.ndarray, window: int | None
) -> np.ndarray:
    """Fill the (n+1, m+1) DTW accumulation matrix, banded, vectorized
    over anti-diagonals (wavefront).

    Each cell is computed as ``cost + min(up, left, diag)`` — the EXACT
    float expression of the sequential naive DP (min is a selection, so
    the single addition is the only rounding, identical on both sides).
    Cells on one anti-diagonal have no mutual dependency, so the
    wavefront vectorizes without changing any per-cell arithmetic.

    This bitwise parity is load-bearing for path determinism: the
    previous formulation (min-plus prefix scan, ``entered[k] +
    (C[j] - C[k])`` over cumsums) computed the same values only up to
    ulps, and on mathematically-tied cells — common for symmetric
    series — the backtrack's up>left>diag tie preference then fired on
    the wrong side, yielding equal-cost but DIFFERENT alignment paths
    than the reference's sequential DP (first seen at sf0.1:
    dtw_mapping hash-diverged on 14/14k entities while dtw_summary's
    rounded costs still matched)."""
    n, m = len(a), len(b)
    acc = np.full((n + 1, m + 1), np.inf)
    acc[0, 0] = 0.0
    for d in range(2, n + m + 1):
        i_lo, i_hi = max(1, d - m), min(n, d - 1)
        if i_lo > i_hi:
            continue
        ii = np.arange(i_lo, i_hi + 1)
        jj = d - ii
        if window is not None:
            keep = np.abs(ii - jj) <= window
            ii, jj = ii[keep], jj[keep]
            if len(ii) == 0:
                continue
        cost = np.abs(a[ii - 1] - b[jj - 1])
        prev = np.minimum(
            np.minimum(acc[ii - 1, jj], acc[ii, jj - 1]), acc[ii - 1, jj - 1]
        )
        acc[ii, jj] = cost + prev
    return acc


def dtw_align(
    txn: np.ndarray,
    rev: np.ndarray,
    window: int | None = None,
    normalize: bool = True,
) -> tuple[float, list[tuple[int, int]]]:
    """DTW total cost + alignment path, reference semantics
    (mapping_engine.py:162-216). Returns (total_cost, [(i, j), ...])."""
    a = zscore(txn.astype(np.float64)) if normalize else txn.astype(np.float64)
    b = zscore(rev.astype(np.float64)) if normalize else rev.astype(np.float64)
    n, m = len(a), len(b)
    acc = _accumulate(a, b, window)

    path: list[tuple[int, int]] = []
    i, j = n, m
    while i > 0 and j > 0:
        path.append((i - 1, j - 1))
        up, left, diag = acc[i - 1, j], acc[i, j - 1], acc[i - 1, j - 1]
        # first minimal candidate wins: up, then left, then diag
        if up <= left and up <= diag:
            i -= 1
        elif left <= diag:
            j -= 1
        else:
            i -= 1
            j -= 1
    path.reverse()
    return float(acc[n, m]), path


def _dtw_result_schema(key_type: T.DataType) -> T.StructType:
    """Reference result schema (mapping_engine.py:282-294), generic over the
    key type (the reference hardcodes string keys; our fixtures use int64)."""
    return T.StructType(
        [
            T.StructField(KEY, key_type, False),
            T.StructField("total_cost", T.DoubleType(), False),
            T.StructField("num_mappings", T.IntegerType(), False),
            T.StructField(
                "path",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("txn_idx", T.IntegerType(), False),
                            T.StructField("rev_idx", T.IntegerType(), False),
                            T.StructField("txn_month", T.StringType(), False),
                            T.StructField("rev_month", T.StringType(), False),
                            T.StructField("txn_amount", T.DoubleType(), False),
                            T.StructField("revenue", T.DoubleType(), False),
                        ]
                    )
                ),
                False,
            ),
        ]
    )


def dtw_per_entity(
    merged: DataFrame,
    window_size: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """One row per entity: total_cost, num_mappings, path array
    (mapping_engine.py:296-335)."""
    key_type = merged.schema[KEY].dataType
    schema = _dtw_result_schema(key_type)

    def align_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[KEY].iloc[0]
        pdf = pdf.sort_values(TIME)
        txn = pdf["txn_amount"].to_numpy()
        rev = pdf["revenue"].to_numpy()
        months = pdf[TIME].to_numpy()
        try:
            total, path = dtw_align(txn, rev, window=window_size, normalize=normalize)
        except Exception:
            # graceful per-group fallback (mapping_engine.py:313-316)
            path = [(i, i) for i in range(min(len(txn), len(rev)))]
            total = 0.0
        detail = [
            {
                "txn_idx": int(ti),
                "rev_idx": int(ri),
                "txn_month": str(months[ti]),
                "rev_month": str(months[ri]),
                "txn_amount": float(txn[ti]),
                "revenue": float(rev[ri]),
            }
            for ti, ri in path
        ]
        return pd.DataFrame(
            [
                {
                    KEY: key,
                    "total_cost": float(total),
                    "num_mappings": len(path),
                    "path": detail,
                }
            ]
        )

    return merged.groupBy(KEY).applyInPandas(align_group, schema)


def flatten_dtw_paths(dtw_results: DataFrame) -> DataFrame:
    """Explode paths into the flat mapping table (mapping_engine.py:662-675)."""
    return dtw_results.select(
        KEY, "total_cost", F.explode("path").alias("mapping")
    ).select(
        KEY,
        F.col("mapping.txn_month").alias("time1"),
        F.col("mapping.txn_amount").alias("value1"),
        F.col("mapping.rev_month").alias("time2"),
        F.col("mapping.revenue").alias("value2"),
        F.lit(None).cast("int").alias("lag_offset"),
        F.lit("dtw").alias("method"),
        F.col("total_cost").alias("dtw_cost"),
    )


def build_dtw_mappings(
    merged: DataFrame,
    window_size: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """DTW method end-to-end: flat mapping rows (fast batched path)."""
    pairs = dtw_pairs(merged, window_size, normalize)
    return pairs.select(
        KEY,
        F.col("txn_month").alias("time1"),
        F.col("txn_amount").alias("value1"),
        F.col("rev_month").alias("time2"),
        F.col("revenue").alias("value2"),
        F.lit(None).cast("int").alias("lag_offset"),
        F.lit("dtw").alias("method"),
        F.col("total_cost").alias("dtw_cost"),
    )


# ---------------------------------------------------------------------------
# Batched fast path
# ---------------------------------------------------------------------------
#
# ``applyInPandas`` pays per-group overhead (a pandas frame + Arrow batch
# per entity). With millions of entities whose series are tiny, that
# dominates. The batched path instead:
#
#   1. groupBy(entity).agg(array_sort(collect_list(struct(month,txn,rev))))
#      — ONE aggregation shuffle, series arrive as arrays;
#   2. mapInPandas over the series table — each Arrow batch carries
#      thousands of entities; entities are bucketed by series length and
#      the DP runs vectorized ACROSS the whole bucket (acc tensor of shape
#      (E, n+1, n+1), row loop shared, np.minimum.accumulate per row);
#      backtracking advances all entities in lockstep with boolean masks.
#
# Same reference semantics as dtw_align (same formulas, same tie rules);
# the per-group error fallback of the reference (mapping_engine.py:313-316)
# becomes a per-bucket retry through the scalar path.


def _series_table(merged: DataFrame) -> DataFrame:
    """Per-entity month-sorted series as three aligned arrays."""
    s = F.array_sort(
        F.collect_list(F.struct(F.col(TIME), F.col("txn_amount"), F.col("revenue")))
    )
    return merged.groupBy(KEY).agg(
        F.transform(s, lambda x: x[TIME]).alias("months"),
        F.transform(s, lambda x: x["txn_amount"]).alias("txn"),
        F.transform(s, lambda x: x["revenue"]).alias("rev"),
    )


def _zscore_rows(x: np.ndarray) -> np.ndarray:
    """Row-wise z-score with the reference's sigma==0 -> mean-center rule."""
    mu = x.mean(axis=1, keepdims=True)
    sd = x.std(axis=1, keepdims=True)
    centered = x - mu
    safe = np.where((sd == 0) | np.isnan(sd), 1.0, sd)
    return centered / safe


def _batched_accumulate(
    a: np.ndarray, b: np.ndarray, window: int | None
) -> np.ndarray:
    """(E, n) x (E, n) -> acc tensor (E, n+1, n+1); same per-cell float
    expression as :func:`_accumulate` (anti-diagonal wavefront,
    ``cost + min(up, left, diag)``), additionally vectorized across
    entities. Bitwise-identical to the sequential naive DP — see
    :func:`_accumulate` for why that parity is load-bearing."""
    e, n = a.shape
    acc = np.full((e, n + 1, n + 1), np.inf)
    acc[:, 0, 0] = 0.0
    for d in range(2, 2 * n + 1):
        i_lo, i_hi = max(1, d - n), min(n, d - 1)
        if i_lo > i_hi:
            continue
        ii = np.arange(i_lo, i_hi + 1)
        jj = d - ii
        if window is not None:
            keep = np.abs(ii - jj) <= window
            ii, jj = ii[keep], jj[keep]
            if len(ii) == 0:
                continue
        cost = np.abs(a[:, ii - 1] - b[:, jj - 1])
        prev = np.minimum(
            np.minimum(acc[:, ii - 1, jj], acc[:, ii, jj - 1]),
            acc[:, ii - 1, jj - 1],
        )
        acc[:, ii, jj] = cost + prev
    return acc


def _batched_backtrack(acc: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Lockstep backtrack for all entities.

    Returns (paths, lengths): paths is (E, 2n, 2) int32 in *backward* order
    (first entry = (n-1, n-1)); lengths gives the valid prefix per entity.
    Tie preference up > left > diag, matching dtw_align.
    """
    e, n1, _ = acc.shape
    n = n1 - 1
    max_steps = 2 * n
    paths = np.zeros((e, max_steps, 2), dtype=np.int32)
    lengths = np.zeros(e, dtype=np.int32)
    i = np.full(e, n, dtype=np.int64)
    j = np.full(e, n, dtype=np.int64)
    idx = np.arange(e)
    for _ in range(max_steps):
        active = (i > 0) & (j > 0)
        if not active.any():
            break
        ai, ii, jj = idx[active], i[active], j[active]
        paths[ai, lengths[ai], 0] = ii - 1
        paths[ai, lengths[ai], 1] = jj - 1
        lengths[ai] += 1
        up = acc[ai, ii - 1, jj]
        left = acc[ai, ii, jj - 1]
        diag = acc[ai, ii - 1, jj - 1]
        up_w = (up <= left) & (up <= diag)
        left_w = ~up_w & (left <= diag)
        diag_w = ~up_w & ~left_w
        di = np.where(up_w | diag_w, 1, 0)
        dj = np.where(left_w | diag_w, 1, 0)
        i[ai] -= di
        j[ai] -= dj
    return paths, lengths


#: Float fields are NULLABLE on purpose: a null input value flows
#: through numpy as NaN (object->float astype converts None silently),
#: and the Arrow transfer back to the JVM maps NaN to null — with a
#: non-nullable field that is a task-killing IllegalStateException
#: ("Value at index is null") for ONE dirty entity. Nullable fields turn
#: it into a null cost/value the caller can filter, matching the
#: reference UDF schema (StructField default nullable).
_PAIR_FIELDS = [
    T.StructField("txn_idx", T.IntegerType(), False),
    T.StructField("rev_idx", T.IntegerType(), False),
    T.StructField("txn_month", T.StringType(), False),
    T.StructField("rev_month", T.StringType(), False),
    T.StructField("txn_amount", T.DoubleType(), True),
    T.StructField("revenue", T.DoubleType(), True),
    T.StructField("total_cost", T.DoubleType(), True),
    T.StructField("num_mappings", T.IntegerType(), False),
]

_SUMMARY_FIELDS = [
    T.StructField("total_cost", T.DoubleType(), True),
    T.StructField("num_mappings", T.IntegerType(), False),
]

#: Cap on entities processed per vectorized bucket: bounds the acc tensor
#: at chunk*(n+1)^2*8 bytes (~57 MB for 1024 entities of 84 months).
_CHUNK = 1024


def _bucket_results(
    keys: np.ndarray,
    months: list,
    txn: list,
    rev: list,
    window: int | None,
    normalize: bool,
    emit_pairs: bool,
):
    """Run the vectorized DP for one same-length bucket; yield column dicts."""
    # stack ONCE; _zscore_rows returns new arrays, so the raw matrices
    # stay available for pair emission without a second stack pass
    txn_mat = np.stack(txn).astype(np.float64)
    rev_mat = np.stack(rev).astype(np.float64)
    a = _zscore_rows(txn_mat) if normalize else txn_mat
    b = _zscore_rows(rev_mat) if normalize else rev_mat
    acc = _batched_accumulate(a, b, window)
    n = a.shape[1]
    total = acc[:, n, n]
    paths, lengths = _batched_backtrack(acc)

    if not emit_pairs:
        yield {
            KEY: keys,
            "total_cost": total,
            "num_mappings": lengths.astype(np.int32),
        }
        return

    month_mat = np.stack(months)
    e = len(keys)
    # reverse each backward path prefix into forward order, then flatten
    fwd = [paths[k, : lengths[k]][::-1] for k in range(e)]
    flat = np.concatenate(fwd) if fwd else np.zeros((0, 2), dtype=np.int32)
    reps = lengths
    row_entity = np.repeat(np.arange(e), reps)
    ti, ri = flat[:, 0], flat[:, 1]
    yield {
        KEY: keys[row_entity],
        "txn_idx": ti.astype(np.int32),
        "rev_idx": ri.astype(np.int32),
        "txn_month": month_mat[row_entity, ti],
        "rev_month": month_mat[row_entity, ri],
        "txn_amount": txn_mat[row_entity, ti],
        "revenue": rev_mat[row_entity, ri],
        "total_cost": total[row_entity],
        "num_mappings": reps[row_entity].astype(np.int32),
    }


def _scalar_bucket_results(
    keys: np.ndarray,
    months: list,
    txn: list,
    rev: list,
    window: int | None,
    normalize: bool,
    emit_pairs: bool,
):
    """Per-entity scalar retry for a bucket the vectorized DP could not
    process (e.g. object-dtype arrays carrying None): same output shape
    as :func:`_bucket_results`, one entity at a time through
    ``dtw_align``; an entity that STILL fails degrades to the identity
    path with cost 0.0 — the reference's per-group fallback
    (mapping_engine.py:313-316), which the block comment above promises
    for the batched path too."""
    for k in range(len(keys)):
        m = np.asarray(months[k])
        try:
            # conversion INSIDE the try: undecodable element types are
            # exactly what lands a bucket here
            t = np.array(
                [np.nan if v is None else float(v) for v in txn[k]],
                dtype=np.float64,
            )
            r = np.array(
                [np.nan if v is None else float(v) for v in rev[k]],
                dtype=np.float64,
            )
            total, path = dtw_align(t, r, window=window, normalize=normalize)
        except Exception:
            t = np.full(len(txn[k]), np.nan)
            r = np.full(len(rev[k]), np.nan)
            path = [(i, i) for i in range(min(len(t), len(r)))]
            total = 0.0
        length = len(path)
        if not emit_pairs:
            yield {
                KEY: keys[k : k + 1],
                "total_cost": np.array([total]),
                "num_mappings": np.array([length], dtype=np.int32),
            }
            continue
        ti = np.array([p[0] for p in path], dtype=np.int32)
        ri = np.array([p[1] for p in path], dtype=np.int32)
        yield {
            KEY: np.repeat(keys[k : k + 1], length),
            "txn_idx": ti,
            "rev_idx": ri,
            "txn_month": m[ti],
            "rev_month": m[ri],
            "txn_amount": t[ti],
            "revenue": r[ri],
            "total_cost": np.full(length, total),
            "num_mappings": np.full(length, length, dtype=np.int32),
        }


def _dtw_batched(
    merged: DataFrame,
    window_size: int | None,
    normalize: bool,
    emit_pairs: bool,
) -> DataFrame:
    key_type = merged.schema[KEY].dataType
    fields = _PAIR_FIELDS if emit_pairs else _SUMMARY_FIELDS
    schema = T.StructType([T.StructField(KEY, key_type, False), *fields])

    def run(batches):
        for pdf in batches:
            buckets: dict[int, list[int]] = {}
            for pos, arr in enumerate(pdf["txn"]):
                buckets.setdefault(len(arr), []).append(pos)
            for n, rows in buckets.items():
                for at in range(0, len(rows), _CHUNK):
                    chunk = rows[at : at + _CHUNK]
                    keys = pdf[KEY].to_numpy()[chunk]
                    months = [np.asarray(pdf["months"].iloc[r]) for r in chunk]
                    txn = [np.asarray(pdf["txn"].iloc[r]) for r in chunk]
                    rev = [np.asarray(pdf["rev"].iloc[r]) for r in chunk]
                    try:
                        # materialize BEFORE yielding: _bucket_results is
                        # a generator, so consuming it fully inside the
                        # try keeps the fallback atomic (no partial
                        # results escape before an exception)
                        results = list(
                            _bucket_results(
                                keys, months, txn, rev,
                                window_size, normalize, emit_pairs,
                            )
                        )
                    except Exception:
                        results = _scalar_bucket_results(
                            keys, months, txn, rev,
                            window_size, normalize, emit_pairs,
                        )
                    for cols in results:
                        yield pd.DataFrame(cols)

    return _series_table(merged).mapInPandas(run, schema)


def dtw_pairs(
    merged: DataFrame,
    window_size: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Flat alignment pairs, one row per path step (batched fast path).

    Columns: cus_code, txn_idx, rev_idx, txn_month, rev_month, txn_amount,
    revenue, total_cost, num_mappings. Equivalent to exploding
    :func:`dtw_per_entity`'s path, at a fraction of the overhead.
    """
    return _dtw_batched(merged, window_size, normalize, emit_pairs=True)


def dtw_summary(
    merged: DataFrame,
    window_size: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Per-entity (total_cost, num_mappings) without materializing paths."""
    return _dtw_batched(merged, window_size, normalize, emit_pairs=False)
