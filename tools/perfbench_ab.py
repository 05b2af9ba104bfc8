"""Interleaved A/B of the benchmark of record (``perfbench/run.py``)
between two checkouts, plus the parquet files one operation leaves in
each sink.

    python tools/perfbench_ab.py A_DIR B_DIR --workload mapping_close \\
        --seeds 1 2 3 --out artifacts/perfbench_ab.json

A_DIR and B_DIR are plain checkouts of the two trees (for a committed
ref: ``git archive REF | tar -x -C DIR``). For each seed both run back to
back, alternating which goes first, so drift of a shared box hits both
arms alike. A run is the checkout's own
``perfbench/run.py --seconds 15 --trace 0``, unchanged. The file count
comes from a separate process that runs one operation of the workload
with that checkout's perfbench modules and counts the ``.parquet`` files
under each sink. Runs are sequential, never concurrent.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = {"run_s": "lower", "rows_per_s": "higher", "written_mb": "lower", "setup_s": "lower"}

# one operation of the workload in the current checkout; prints
# {sink: parquet files}, partition and version directories folded away
COUNT_FILES = r"""
import json, os, shutil, sys
from collections import Counter
root = os.getcwd()
sys.path[:0] = [os.path.join(root, "perfbench"), root]
import gen, harness, workloads
name, seed = sys.argv[1], int(sys.argv[2])
work = os.path.join(harness.WORK_ROOT, f"count-{os.getpid()}")
try:
    spark = harness.start_session(work)
    inputs = gen.generate(name, seed, os.path.join(work, "inputs"))
    out = os.path.join(work, "out")
    workloads.WORKLOADS[name](spark, inputs).run(out)
    harness.stop_session(spark)
    counts = Counter()
    for dirpath, _, files in os.walk(out):
        sink = [p for p in os.path.relpath(dirpath, out).split(os.sep) if "=" not in p]
        counts["/".join(sink)] += sum(f.endswith(".parquet") for f in files)
finally:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(harness.WORK_ROOT)  # only if no other run is using it
    except OSError:
        pass
print(json.dumps({k: v for k, v in sorted(counts.items()) if v}))
"""


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def run_bench(checkout: str, workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "15", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, check=True,
    )
    result = _last_json(proc.stdout)
    context = next(
        (json.loads(line[len("context "):]) for line in proc.stdout.splitlines()
         if line.startswith("context ")),
        {},
    )
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "context": context,
    }


def count_files(checkout: str, workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", COUNT_FILES, workload, str(seed)],
        cwd=checkout, capture_output=True, text=True, check=True,
    )
    return _last_json(proc.stdout)


def summarize(runs: list[dict]) -> dict:
    """Per metric: both arms' values, medians and quartiles, the per-pair
    relative change B/A - 1, and the pairs in which B was better."""
    out = {}
    for name, better in METRICS.items():
        a = [r["a"]["metrics"][name] for r in runs]
        b = [r["b"]["metrics"][name] for r in runs]
        rel = [y / x - 1 for x, y in zip(a, b)]
        wins = sum((y < x) if better == "lower" else (y > x) for x, y in zip(a, b))
        out[name] = {
            "better": better,
            "a": a,
            "b": b,
            "median_a": statistics.median(a),
            "median_b": statistics.median(b),
            "quartiles_a": statistics.quantiles(a, n=4),
            "quartiles_b": statistics.quantiles(b, n=4),
            "pair_rel_change": [round(x, 4) for x in rel],
            "median_rel_change": round(statistics.median(rel), 4),
            "b_better_pairs": f"{wins}/{len(runs)}",
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a_dir")
    ap.add_argument("b_dir")
    ap.add_argument("--workload", default="mapping_close")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    arms = {"a": args.a_dir, "b": args.b_dir}
    runs = []
    for i, seed in enumerate(args.seeds):
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        run = {"seed": seed, "order": "".join(order)}
        for arm in order:
            run[arm] = run_bench(arms[arm], args.workload, seed)
            run[arm]["parquet_files_per_op"] = count_files(arms[arm], args.workload, seed)
            m = run[arm]["metrics"]
            print(f"seed={seed} {arm}: " + " ".join(f"{k}={v:.4g}" for k, v in m.items())
                  + f" files={sum(run[arm]['parquet_files_per_op'].values())}", flush=True)
        runs.append(run)

    report = {
        "workload": args.workload,
        "a": os.path.basename(os.path.normpath(args.a_dir)),
        "b": os.path.basename(os.path.normpath(args.b_dir)),
        "summary": summarize(runs),
        "runs": runs,
    }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
