"""Fixture derivations (FIXTURES.md §B) and synthetic pattern data (§A1).

``monthly_spend`` / ``monthly_revenue`` derive the core entity-time-series
pair from the TPC-H-ish tables: order spend by order month vs shipped
revenue by ship month — ship-minus-order lag gives a real, recoverable lag
structure. Both are also emitted as SQL strings for the DuckDB oracle.

``synthetic_pair`` reimplements the reference's seeded pattern-family
generator (01_setup.oy:73-149, test_mapping_engine.py:18-81) for pytest
ground-truth assertions (planted lag recovery).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dates import date_to_month
from .readers import read_table

# ---------------------------------------------------------------------------
# TPC-H-derived core pair (FIXTURES.md §B1)
# ---------------------------------------------------------------------------


def monthly_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t1: per-customer monthly order spend (cus_code, month, txn_amount).

    Deliberately NOT widened with ``ensure_parallel``: the per-row work
    here (month bucketing + a sum partial) is too cheap to amortize the
    round-robin shuffle of the raw rows — measured at sf0.1, widening
    the scans REGRESSED corr_mapping 3.0→3.9 s and auto_mapping
    3.8→5.6 s. The widen pays off only where per-row/pair compute
    dominates the extra exchange (shingling, minhash, vector math —
    see dedup/similarity call sites)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.col("o_custkey").alias("cus_code"),
            date_to_month("o_orderdate").alias("month"),
        )
        .agg(F.sum("o_totalprice").alias("txn_amount"))
    )


def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t2: per-customer monthly shipped revenue (cus_code, month, revenue)."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cus_code"),
            date_to_month("l_shipdate").alias("month"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


#: DuckDB CTE bodies mirroring the two derivations above (shared prefix for
#: every oracle query that consumes the core pair).
SQL_T1 = """
SELECT o_custkey AS cus_code,
       strftime(o_orderdate, '%Y-%m') AS month,
       SUM(o_totalprice) AS txn_amount
FROM orders GROUP BY 1, 2
"""

SQL_T2 = """
SELECT o.o_custkey AS cus_code,
       strftime(l.l_shipdate, '%Y-%m') AS month,
       SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
"""

SQL_MERGED = f"""
SELECT t1.cus_code, t1.month, t1.txn_amount, t2.revenue
FROM ({SQL_T1}) t1 JOIN ({SQL_T2}) t2
  ON t1.cus_code = t2.cus_code AND t1.month = t2.month
"""


# ---------------------------------------------------------------------------
# Synthetic pattern families (reference §A1 ground truth, seed=42)
# ---------------------------------------------------------------------------


def synthetic_pair(
    spark: SparkSession,
    num_customers: int = 50,
    num_months: int = 24,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Seeded two-table fixture with planted pattern families.

    Families (01_setup.oy:100-120):

    - ``simple``:    revenue = 0.1 * txn shifted by exactly 1 month
    - ``complex``:   revenue = weighted sum of trailing months
    - ``irregular``: sinusoidal amplitude, random lag 0-2, random rate

    plus gaussian noise and clip-at-zero (01_setup.oy:122-124). Returns
    (table1, table2) with columns (cus_code, month, txn_amount/revenue,
    pattern_type).
    """
    rng = np.random.default_rng(seed)
    months = pd.period_range("2023-01", periods=num_months, freq="M").strftime("%Y-%m")
    families = ["simple", "complex", "irregular"]

    rows1, rows2 = [], []
    for c in range(num_customers):
        cus = f"CUS_{c:04d}"
        family = families[c % 3]
        base = rng.uniform(5_000, 50_000)
        txn = base * (1 + 0.2 * rng.standard_normal(num_months))
        txn = np.clip(txn + rng.normal(0, 15, num_months), 0, None)

        if family == "simple":
            rev = np.roll(txn, 1) * 0.1
            rev[0] = 0.0
        elif family == "complex":
            rev = 0.06 * txn
            rev[1:] += 0.04 * txn[:-1]
            rev[2:] += 0.02 * txn[:-2]
        else:  # irregular
            lag = int(rng.integers(0, 3))
            rate = rng.uniform(0.05, 0.15)
            amp = 1 + 0.3 * np.sin(np.arange(num_months))
            rev = np.roll(txn, lag) * rate * amp
            rev[:lag] = 0.0

        rev = np.clip(rev + rng.normal(0, 3, num_months), 0, None)
        # money lattice: the engine's data model is money — the
        # production tables (TPC-H totals, extendedprice*(1-discount)
        # sums) live exactly on a 1e-2/1e-4 lattice, and the moment-state
        # operators REQUIRE lattice inputs (corr_moment_state numerics).
        # A fixture emitting raw float64 noise modeled data the engine
        # never sees and silently exempted tests from that contract.
        txn = np.round(txn, 2)
        rev = np.round(rev, 2)
        for i, m in enumerate(months):
            rows1.append((cus, str(m), float(txn[i]), family))
            rows2.append((cus, str(m), float(rev[i]), family))

    schema1 = "cus_code string, month string, txn_amount double, pattern_type string"
    schema2 = "cus_code string, month string, revenue double, pattern_type string"
    return (
        spark.createDataFrame(rows1, schema1),
        spark.createDataFrame(rows2, schema2),
    )
