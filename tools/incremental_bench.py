"""Measure the stateful month-append against the full recompute it
replaces (evidence for SCALE.md): at sf-dir scale, time

- FULL:    best_lag_correlation over all history + the new month
- ADVANCE: advance_corr_state(tail+new) + model_from_state

The advance's history-side input is O(entities x max_lag) state rows
regardless of history length, so the gap widens linearly with history;
at 100 TB the full recompute is a backfill-sized job while the advance
stays month-sized.

Usage: python tools/incremental_bench.py [sf_dir]
       python tools/incremental_bench.py --long-history [n_entities] [n_months]

The sf-dir mode is an honest NEGATIVE at sf0.1: the testdata's average
series is ~4 months, so the max_lag=6 tail IS the history and the
advance's fixed versioned-I/O overhead loses to the tiny in-memory
recompute. The O(entities x max_lag) advantage requires series length
>> max_lag — the --long-history mode builds that shape (default 2000
entities x 240 months) and shows the crossover the 100 TB posture rests
on.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sys.path.insert(0, "/root/repo")

    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from mapping_timeseries_spark.materialize import (
        dedup_cache_scope,
        scoped_pin,
    )
    from mapping_timeseries_spark.operators.correlation import (
        best_lag_correlation,
    )
    from mapping_timeseries_spark.plans.incremental import (
        advance_corr_state,
        init_corr_state,
        model_from_state,
    )
    from mapping_timeseries_spark.session import get_spark

    spark = get_spark(
        "incremental-bench", master="local[32]", shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    with dedup_cache_scope():
        if sf_dir == "--long-history":
            n_e = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
            n_m = int(sys.argv[3]) if len(sys.argv) > 3 else 240
            # deterministic long-series pair: value = f(entity, month index)
            # on the money lattice; months span n_m consecutive 'yyyy-MM'
            merged = scoped_pin(
                spark.range(n_e)
                .select(F.col("id").alias("cus_code"))
                .crossJoin(spark.range(n_m).select(F.col("id").alias("mi")))
                .select(
                    F.col("cus_code"),
                    F.date_format(
                        F.add_months(F.lit("1990-01-01").cast("date"), F.col("mi")),
                        "yyyy-MM",
                    ).alias("month"),
                    (F.round((F.pmod(F.col("cus_code") * 37 + F.col("mi") * 13, F.lit(997))) * 0.25, 2)).alias("txn_amount"),
                    (F.round((F.pmod(F.col("cus_code") * 37 + (F.col("mi") - 1) * 13, F.lit(997))) * 0.10, 2)).alias("revenue"),
                )
            )
            sf_label = f"long-history {n_e}x{n_m}"
        else:
            merged = scoped_pin(entry_mod._merged(spark, sf_dir))
            sf_label = sf_dir
        months = sorted(r[0] for r in merged.select("month").distinct().collect())
        last = months[-1]
        history = merged.where(F.col("month") < last)
        new_rows = merged.where(F.col("month") == last)
        n_entities = merged.select("cus_code").distinct().count()
        print(
            f"# {len(months)} months, {n_entities} entities, "
            f"append month = {last}"
        )

        work = tempfile.mkdtemp(prefix="mts_incr_bench_")
        try:
            t0 = time.time()
            init_corr_state(history, os.path.join(work, "state"), max_lag=6)
            t_init = time.time() - t0

            def run_full():
                best_lag_correlation(merged, 6).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_advance(root):
                advance_corr_state(spark, root, new_rows)
                model_from_state(spark, root).write.format("noop").mode(
                    "overwrite"
                ).save()

            full_times, adv_times = [], []
            for rep in range(3):
                t0 = time.time(); run_full(); full_times.append(time.time() - t0)
                # fresh state copy per rep: advance is append-only
                root = os.path.join(work, f"state_rep{rep}")
                shutil.copytree(os.path.join(work, "state"), root)
                t0 = time.time(); run_advance(root); adv_times.append(time.time() - t0)
                spark.catalog.clearCache()

            f, a = statistics.median(full_times), statistics.median(adv_times)
            # input-volume accounting — the claim that matters on a cluster
            # where history is cold storage, not page cache: rows each path
            # must READ (full: all history+new; advance: state trio + new)
            from mapping_timeseries_spark.plans.incremental import (
                _read_meta,
                _read_state,
            )

            full_input = merged.count()
            mo, ta, en = _read_state(
                spark, os.path.join(work, "state"),
                _read_meta(os.path.join(work, "state")),
            )
            adv_input = mo.count() + ta.count() + en.count() + new_rows.count()
            print(
                f'{{"sf_dir": "{sf_label}", "n_months": {len(months)}, '
                f'"n_entities": {n_entities}, "init_sec": {t_init:.2f}, '
                f'"full_model_sec": {f:.2f}, "advance_model_sec": {a:.2f}, '
                f'"speedup": {f / max(a, 1e-9):.2f}, '
                f'"full_input_rows": {full_input}, '
                f'"advance_input_rows": {adv_input}, '
                f'"input_reduction": {full_input / max(adv_input, 1):.1f}}}'
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
