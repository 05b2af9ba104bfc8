"""Dump .explain("formatted") for every bench leg into plans/r13/.

Usage: python tools/r13_explain_dump.py [suffix] [leg ...]

Writes plans/r13/<leg>_<suffix>.txt (suffix defaults to "before"; pass
"after" when re-dumping post-optimization). With explicit leg names only
those legs are dumped. Plan-only — nothing executes beyond footer reads
at plan-build time, so this is safe to run on a busy box.

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
$SPARK_GRAFT_CPUS (default 32) exactly like bench.py so the dumped plans
are the plans the bench times.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from mapping_timeseries_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r13",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        "explain_dump",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.driver.memory": "16g"},
    )
    qs = bench.leg_queries()
    from mapping_timeseries_spark.materialize import dedup_cache_scope

    for leg in bench.LEGS:
        name = leg.name
        if only and name not in only:
            continue
        if leg.build_timed:
            # tokenizer training runs Spark jobs at BUILD time; the plan
            # of the finished vocab frame is a driver-local scan, so the
            # dump would be noise. Skip with a stub note.
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(
                    "driver-loop leg (iterative training): the timed cost "
                    "is the Spark jobs run while BUILDING the vocab; the "
                    "final frame's plan is a local scan and not "
                    "informative. See tools/ for its stage "
                    "instrumentation.\n"
                )
            continue
        with dedup_cache_scope():
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"dumped {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
