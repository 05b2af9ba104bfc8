"""The reference's own reproducible perf workload, run against this
engine — the direct apples-to-apples number.

Reference workload (test_mapping_engine.py:211-240): 200 customers x
24 months per table (4,800 rows/side), correlation method, max_lag=6,
via map_tables_simple, reporting mappings/second. Published claims to
compare against: ~1,000-5,000 rec/s overall (README.md:253-255),
5,000-10,000 rec/s for the <1M-row tier (ARCHITECTURE.md:191);
DTW: ~100-500 rec/s (README.md:257-259), 500-1,000 rec/s small tier.

Also runs a 5,000-customer variant (120k rows/side — still the
reference's "small" tier) where the fixed per-query overhead has
amortized and the steady-state throughput shows.

    python tools/perf_twin.py
"""

from __future__ import annotations

import statistics
import sys
import time


def run_tier(spark, t1, t2, reps: int = 5, method: str = "correlation"):
    from mapping_timeseries_spark.engine import map_tables_simple
    from mapping_timeseries_spark.materialize import (
        dedup_cache_scope,
        scoped_pin,
    )

    times = []
    n_mappings = None
    for _ in range(reps):
        # each rep pins and fills its inputs outside the timed region,
        # mirroring the reference's timing (its tables pre-exist the
        # timer); leaving the scope drops the pins and every
        # intermediate the mapping cached, so each rep recomputes it
        with dedup_cache_scope():
            scoped_pin(t1).count(), scoped_pin(t2).count()
            t0 = time.time()
            out = map_tables_simple(
                spark, t1, t2, "cus_code", "month", "txn_amount", "revenue",
                method=method, max_lag=6,
            )
            n_mappings = out.count()
            times.append(time.time() - t0)
    med = statistics.median(times)
    return n_mappings, med, n_mappings / med


def main() -> int:
    sys.path.insert(0, "/root/repo")
    from mapping_timeseries_spark.session import get_spark
    from mapping_timeseries_spark.sources.fixtures import synthetic_pair

    spark = get_spark("perf-twin", master="local[32]")
    spark.range(1000).selectExpr("sum(id)").collect()

    tiers = {
        200: "reference workload (200 cust x 24 mo)",
        5000: "small-tier workload (5,000 cust x 24 mo, 120k rows/side)",
    }
    claims = {
        (200, "correlation"): "~1,000-5,000 rec/s published",
        (5000, "correlation"): "5,000-10,000 rec/s published floor",
        (200, "dtw"): "~100-500 rec/s published",
        (5000, "dtw"): "500-1,000 rec/s published floor",
    }
    for n_cust, label in tiers.items():
        # one fixture per tier
        t1, t2 = synthetic_pair(spark, num_customers=n_cust, num_months=24)
        for method in ("correlation", "dtw"):
            n, med, rate = run_tier(spark, t1, t2, method=method)
            print(
                f"{label}, {method}: {n:,} mappings in {med:.2f}s median -> "
                f"{rate:,.0f} mappings/s  [{claims[(n_cust, method)]}]"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
