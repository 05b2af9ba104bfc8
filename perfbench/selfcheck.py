"""The benchmark's own self-check.

    python3 perfbench/selfcheck.py            # static checks + smoke runs
    python3 perfbench/selfcheck.py --static   # static checks only
    python3 perfbench/selfcheck.py --trace    # also smoke the traced runs

Static: BENCHMARK.json parses, has exactly its six keys, every
metric name matches ``[A-Za-z0-9_.-]+``, there are at most 16 end-to-end
and 128 per-layer metrics, and the per-layer list is exactly what the
traced run emits. Smoke: one tiny-input run of each workload must report
``failed == 0`` (failed_frac = 0) and every metric of its kind.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def static_checks(spec: dict) -> list[str]:
    sys.path.insert(0, HERE)
    from traced import per_layer_units

    errors = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        errors.append(f"BENCHMARK.json keys {sorted(spec)} != {sorted(keys)}")
    if not 1 <= len(spec["end_to_end"]) <= 16:
        errors.append("end_to_end must hold 1..16 metrics")
    if not 1 <= len(spec["per_layer"]) <= 128:
        errors.append("per_layer must hold 1..128 metrics")
    if not 2 <= len(spec["workloads"]) <= 8:
        errors.append("workloads must hold 2..8 entries")
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"] + spec["per_layer"]:
        names.append(m["name"])
        if not UNIT.match(m["unit"]):
            errors.append(f"bad unit {m['unit']!r} on {m['name']}")
    bad = [n for n in names if not NAME.match(n)]
    if bad:
        errors.append(f"bad names: {bad}")
    if len(names) != len(set(names)):
        errors.append("a name is used twice")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            errors.append(f"end_to_end entry {m} needs name/unit/better/bound with 0 < bound <= 0.25")
    if not any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"]):
        errors.append("setup_s missing")
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if declared != per_layer_units():
        errors.append("per_layer differs from what traced.py emits")
    return errors


def smoke(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--size", "smoke",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    errors = []
    if result["failed"] != 0 or not result["correct"]:
        errors.append(f"{workload} trace={trace}: failed_frac = {result['failed']}/{result['attempted']}")
    if got != want:
        errors.append(f"{workload} trace={trace}: metrics {sorted(got)} != {sorted(want)}")
    return errors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--static", action="store_true", help="skip the smoke runs")
    ap.add_argument("--trace", action="store_true", help="also smoke the traced runs")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = static_checks(spec)
    if not args.static:
        for w in spec["workloads"]:
            for trace in (0, 1) if args.trace else (0,):
                errors += smoke(spec, w["name"], trace)
    for e in errors:
        print("FAIL", e)
    print("selfcheck", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
