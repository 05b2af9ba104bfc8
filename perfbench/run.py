"""Benchmark entry point: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload mapping_close --seed 1 --seconds 15 --trace 0

Run it from the repository root. ``--trace 0`` is the timed run: set-up
(session start, input generation, an untimed warm-up operation), then a
window of back-to-back operations, then the output checks of every
operation. ``--trace 1`` is the separate traced run (traced.py): it times
each layer's public functions from outside and reads Spark's event log.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it are a
readable summary and the recorded context. See perfbench/NOTES.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)  # the engine under test lives at the checkout root

import mapping_timeseries_spark  # noqa: E402  (fail fast without the engine)

if not mapping_timeseries_spark.__file__.startswith(ROOT + os.sep):
    sys.exit(f"engine imported from {mapping_timeseries_spark.__file__}, not this checkout")

import gen  # noqa: E402
from harness import (  # noqa: E402
    NOMINAL_OP_S,
    WARMUP_OPS,
    WORK_ROOT,
    check_ops,
    cores,
    loadavg,
    run_ops,
    start_session,
    steal_ticks,
    stop_session,
    tree_cpu_s,
)
from workloads import WORKLOADS  # noqa: E402


def timed_run(args, work_dir: str) -> dict:
    name = args.workload
    t0 = time.perf_counter()
    spark = start_session(work_dir)
    session_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    inputs = gen.generate(name, args.seed, os.path.join(work_dir, "inputs"), args.size)
    gen_s = time.perf_counter() - t0

    workload = WORKLOADS[name](spark, inputs)
    out_root = os.path.join(work_dir, "out")
    t0 = time.perf_counter()
    warm = run_ops(workload, spark, out_root, 0, WARMUP_OPS)
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_PROCESS

    failures, reference = check_ops(workload, warm, None)
    n_ops = max(1, round(args.seconds / NOMINAL_OP_S))
    steal0, load0 = steal_ticks(), loadavg()
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    timed = run_ops(workload, spark, out_root, WARMUP_OPS, n_ops)
    run_s = time.perf_counter() - t0
    cpu_s = tree_cpu_s() - cpu0
    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    fails, _ = check_ops(workload, timed, reference)
    written = [r["written_bytes"] for _, r, _ in timed if r and "written_bytes" in r]
    failures += fails
    stop_session(spark)

    attempted = WARMUP_OPS + n_ops
    return {
        "attempted": attempted,
        "failures": failures,
        "metrics": {
            "run_s": (run_s, "s"),
            "rows_per_s": (inputs.rows * n_ops / run_s, "rows/s"),
            "written_mb": (statistics.median(written) / 1e6 if written else 0.0, "MB"),
            "setup_s": (setup_s, "s"),
        },
        "context": {
            "ops": n_ops,
            "rows_per_op": inputs.rows,
            "session_start_s": round(session_s, 3),
            "gen_s": round(gen_s, 3),
            "warmup_s": round(warmup_s, 3),
            "loadavg": load0,
            "steal_s": round(steal_s, 3),
            "cpu_s": round(cpu_s, 2),
            "cores": cores(),
            "failed_frac": len(failures) / attempted,
            "op_s": [round(r["op_s"], 2) for _, r, _ in warm + timed if r],
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench",
                    help="input size; 'smoke' is the self-check's tiny size")
    args = ap.parse_args()

    work_dir = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    try:
        if args.trace:
            from traced import traced_run

            result = traced_run(args, work_dir)
        else:
            result = timed_run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only if no other run is using it
        except OSError:
            pass

    metrics = result["metrics"]
    summary = "  ".join(f"{k}={v:.4g} {u}" for k, (v, u) in metrics.items())
    print(f"[{args.workload} seed={args.seed} trace={args.trace}] {summary}")
    print("context " + json.dumps(result["context"], sort_keys=True))
    for failure in result["failures"]:
        print(f"FAILED {failure}")
    print(
        json.dumps(
            {
                "correct": not result["failures"],
                "attempted": result["attempted"],
                "failed": len(result["failures"]),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
