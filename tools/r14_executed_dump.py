"""Dump EXECUTED (AdaptiveSparkPlan final) plans for named queries into
plans/r14/.

Usage: python tools/r14_executed_dump.py <suffix> <query> [query ...]

Runs each query once through the noop sink (so AQE finalizes every
stage), then writes the post-execution ``explain("formatted")`` — which
carries the "== Final Plan ==" sections with ReusedExchange /
AQEShuffleRead nodes — to plans/r14/<query>_<suffix>.txt. This is the
runtime truth the static dumps cannot show (a bare exchange-gate reuse
point prints its subtree once per consumer in the STATIC tree; only the
executed plan proves the shuffle was planned once and reused —
OPTIMIZATION_r13.md "NOTE on reading the static plans").

Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS exactly like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402

from mapping_timeseries_spark.session import get_spark  # noqa: E402


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r14",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        "r14_executed_dump",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": "16g",
            "spark.ui.enabled": "true",
            "spark.ui.port": "4048",
            # the SQL UI store truncates planDescription at 1000 chars
            # by default — these plans run to tens of KB
            "spark.sql.ui.explainMode": "formatted",
            "spark.sql.maxMetadataStringLength": "10000",
        },
    )
    sc = spark.sparkContext
    base = f"http://localhost:{sc.uiWebUrl.rsplit(':', 1)[1]}"
    app_id = sc.applicationId
    qs = {**entry_mod.queries(), **bench.leg_queries()}
    from mapping_timeseries_spark.materialize import dedup_cache_scope

    for name in names:
        if name not in qs:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        try:
            pre_execs = {
                e["id"] for e in _rest(base, f"/api/v1/applications/{app_id}/sql")
            }
        except Exception:
            pre_execs = set()
        with dedup_cache_scope():
            df = qs[name](spark, sf_dir)
            sc.setJobDescription(f"executed_dump:{name}")
            df.write.format("noop").mode("overwrite").save()
            sc.setJobDescription(None)
            # the noop write is its own QueryExecution — the df object's
            # explain() would show the UN-executed initial plan. The SQL
            # UI store holds each execution's FINAL formatted plan
            # (AQE-finalized: ReusedExchange / AQEShuffleRead visible).
            # Dump EVERY execution the leg ran (plan-build actions like
            # localCheckpoint / staged writes run their own executions —
            # the expensive subtrees can live there, not in the final
            # write; measured on method_agreement, whose comp frame is
            # localCheckpointed inside the operator).
            execs = _rest(base, f"/api/v1/applications/{app_id}/sql")
            mine = [e for e in execs if e["id"] not in pre_execs]
            parts = []
            for e in mine:
                parts.append(
                    f"#### execution id={e['id']} "
                    f"description={e.get('description','')!r}\n"
                    + e["planDescription"]
                )
            txt = "\n\n".join(parts)
        spark.catalog.clearCache()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt + "\n")
        print(
            f"dumped {name}_{suffix}.txt reused_exchanges="
            f"{txt.count('ReusedExchange')} "
            f"inmemory_scans={txt.count('InMemoryTableScan')} "
            f"final={'Final Plan' in txt}",
            file=sys.stderr,
        )
    spark.stop()


if __name__ == "__main__":
    main()
