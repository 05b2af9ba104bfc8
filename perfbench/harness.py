"""Shared harness: the Spark session, the operation loop and the output
checks, used by the timed run (run.py) and the traced run (traced.py)."""

from __future__ import annotations

import os
import shutil
import time

from workloads import dir_bytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WARMUP_OPS = 1
#: Steady seconds per operation on a 4-vCPU box; the window runs
#: ``max(1, round(--seconds / NOMINAL_OP_S))`` operations, a fixed count
#: for a given ``--seconds``, so ``run_s`` is the wall time of a fixed
#: amount of work.
NOMINAL_OP_S = 15.0


def cores() -> int:
    """Task slots for ``local[N]``: one core is left to the driver, the
    JIT compiler and the GC, which otherwise contend with the tasks and
    spread the warm-up drift over more operations."""
    return max(1, min(3, (os.cpu_count() or 2) - 1))


def start_session(work_dir: str, extra_conf: dict[str, str] | None = None):
    from mapping_timeseries_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark's Python workers (the DTW mapInPandas stage) import the engine
    # too; without the checkout on their path they die with
    # ModuleNotFoundError: mapping_timeseries_spark
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p and p != ROOT])
    n = cores()
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # no hsperfdata file under /tmp: the run writes only in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    conf.update(extra_conf or {})
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=conf,
    )


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state, CPU ticks) for every process in /proc.
    CPU ticks are utime + stime + cutime + cstime: the process's own CPU
    time plus that of the children it has reaped."""
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while we listed
                continue
            table[int(entry)] = (int(fields[1]), fields[0], sum(map(int, fields[11:15])))
    return table


def _tree(table, root: int) -> list[int]:
    """``root`` and its descendants in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the Spark
    JVM and the Python workers it forked. Time the host steals from the
    VM is not charged to any of them. Every process of the tree that exits
    is reaped by its parent in the tree, so the difference of two readings
    is the CPU the tree used between them, exited workers included."""
    table = _proc_table()
    ticks = sum(table[p][2] for p in _tree(table, os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM and the Python workers it forked
    have ended: ``spark.stop()`` leaves the JVM running until this process
    exits. The JVM exits when its stdin closes; the workers follow it."""
    gateway = spark.sparkContext._gateway
    table = _proc_table()
    forked = set(_tree(table, gateway.proc.pid))
    spark.stop()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        live = {p for p, (_, state, _) in _proc_table().items() if state != "Z"}
        if not forked & live:
            break
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Recorded context: box state, never a gate
# ---------------------------------------------------------------------------


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------


def run_ops(workload, spark, out_root: str, first: int, count: int) -> list[tuple[str, dict | None, str | None]]:
    """``count`` back-to-back operations, each into a fresh directory.
    Returns (out_dir, record, error) per operation; an exception fails
    that operation only."""
    results = []
    for i in range(first, first + count):
        out_dir = os.path.join(out_root, f"op{i:03d}")
        t0 = time.perf_counter()
        try:
            record, error = workload.run(out_dir), None
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            record, error = None, f"{type(exc).__name__}: {exc}"
        spark.catalog.clearCache()
        if record is not None:
            record["op_s"] = time.perf_counter() - t0
        results.append((out_dir, record, error))
    return results


def check_ops(workload, results, reference: dict | None) -> tuple[list[str], dict | None]:
    """Run the output check of every operation; returns one error string
    per failed operation and the reference record (the first good one)."""
    failures = []
    for out_dir, record, error in results:
        if error is None:
            record["written_bytes"] = dir_bytes(out_dir)
            try:
                errs = workload.check(out_dir, record, reference)
            except Exception as exc:  # noqa: BLE001 — unreadable output fails the op
                errs = [f"check raised {type(exc).__name__}: {exc}"]
            if errs:
                error = "; ".join(errs)
            elif reference is None:
                reference = record
        if error is not None:
            failures.append(f"{os.path.basename(out_dir)}: {error}")
        shutil.rmtree(out_dir, ignore_errors=True)
    return failures, reference
