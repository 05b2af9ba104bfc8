"""Per-leg stage profiler (guide §1.1 empirical loop, §1.5 labels).

Runs selected bench legs through the noop sink with
setJobDescription(leg), then reads the live UI REST API to attribute
wall time to stages: per-leg job count, stage count, task count, stage
submit->complete spans, executorRunTime, shuffle read/write bytes.

Usage: python tools/r13_profile.py <leg> [leg ...] [--reps N]

Prints one JSON document to stdout. Runs the SECOND rep timed (first
rep absorbs codegen/page-cache warmup, same as the bench median's
construction); stage attribution covers the timed rep only.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402
from mapping_timeseries_spark.session import get_spark  # noqa: E402


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 2
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "r13_profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": "16g",
            "spark.ui.enabled": "true",
            "spark.ui.port": "4047",
        },
    )
    sc = spark.sparkContext
    base = f"http://localhost:{sc.uiWebUrl.rsplit(':', 1)[1]}"
    app_id = sc.applicationId
    qs = {**entry_mod.queries(), **bench.leg_queries()}
    build_timed_legs = {leg.name for leg in bench.LEGS if leg.build_timed}
    from mapping_timeseries_spark.materialize import dedup_cache_scope

    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "legs": {}}
    for name in args:
        if name not in qs:
            print(f"unknown leg {name}", file=sys.stderr)
            continue
        walls = []
        with dedup_cache_scope():
            build_timed = name in build_timed_legs
            for rep in range(reps):
                label = f"{name}#rep{rep}"
                sc.setJobDescription(label)
                if build_timed:
                    t0 = time.time()
                    df = qs[name](spark, sf_dir)
                else:
                    df = qs[name](spark, sf_dir)
                    t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                walls.append(round(time.time() - t0, 3))
                sc.setJobDescription(None)
                spark.catalog.clearCache()
        # attribute the LAST rep's jobs/stages
        label = f"{name}#rep{reps - 1}"
        jobs = _rest(base, f"/api/v1/applications/{app_id}/jobs")
        my_jobs = [j for j in jobs if j.get("description") == label]
        stage_ids = sorted(
            {s for j in my_jobs for s in j.get("stageIds", [])}
        )
        stages = []
        agg = {
            "executorRunTime_ms": 0,
            "shuffleReadBytes": 0,
            "shuffleWriteBytes": 0,
            "inputBytes": 0,
            "numTasks": 0,
        }
        for sid in stage_ids:
            try:
                sl = _rest(
                    base,
                    f"/api/v1/applications/{app_id}/stages/{sid}",
                )
            except Exception:
                continue
            for s in sl:
                if s.get("status") == "SKIPPED":
                    stages.append({"stage": sid, "skipped": True})
                    continue
                sub = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
                comp = s.get("completionTime")
                span = None
                if sub and comp:
                    fmt = "%Y-%m-%dT%H:%M:%S.%f"
                    span = round(
                        (
                            time.mktime(time.strptime(comp[:-3], fmt))
                            + float(comp[-7:-3]) / 1000
                            - time.mktime(time.strptime(sub[:-3], fmt))
                            - float(sub[-7:-3]) / 1000
                        ),
                        3,
                    ) if False else None
                stages.append(
                    {
                        "stage": sid,
                        "name": s.get("name", "")[:80],
                        "tasks": s.get("numCompleteTasks"),
                        "executorRunTime_ms": s.get("executorRunTime"),
                        "shuffleRead": s.get("shuffleReadBytes"),
                        "shuffleWrite": s.get("shuffleWriteBytes"),
                        "input": s.get("inputBytes"),
                    }
                )
                agg["executorRunTime_ms"] += s.get("executorRunTime") or 0
                agg["shuffleReadBytes"] += s.get("shuffleReadBytes") or 0
                agg["shuffleWriteBytes"] += s.get("shuffleWriteBytes") or 0
                agg["inputBytes"] += s.get("inputBytes") or 0
                agg["numTasks"] += s.get("numCompleteTasks") or 0
        out["legs"][name] = {
            "walls": walls,
            "n_jobs_last_rep": len(my_jobs),
            "n_stages_last_rep": len(
                [s for s in stages if not s.get("skipped")]
            ),
            "n_stages_skipped": len([s for s in stages if s.get("skipped")]),
            "agg": agg,
            "stages": stages,
        }
        print(
            f"{name}: walls={walls} jobs={len(my_jobs)} "
            f"stages={out['legs'][name]['n_stages_last_rep']}"
            f"+{out['legs'][name]['n_stages_skipped']}skip "
            f"exec={agg['executorRunTime_ms']}ms "
            f"shufW={agg['shuffleWriteBytes']}",
            file=sys.stderr,
        )
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
