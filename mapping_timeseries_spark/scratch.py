"""Local-scratch (shuffle/spill) disk high-water meter.

Why this exists: Spark keeps every exchange's
shuffle files on local disk until the ContextCleaner sees their JVM
shuffle dependencies garbage-collected — NOT until the action ends —
so a query's disk high-water is the SUM of its exchanges, and
back-to-back heavy actions accumulate dead shuffle files until a GC
runs. That law was discovered the hard way (two dead boxes at the 100x
text gate, SCALE.md); this module turns it into a reusable meter that
bench/stress artifacts RECORD, so a disk-residency regression shows up
as a JSON diff instead of a filled disk.

Mechanism: a daemon thread samples ``du`` (a recursive stat walk) of
the executor-side scratch directories every ``interval`` seconds while
a measured region runs. The directories are taken from the LIVE
DiskBlockManager (``SparkEnv.get().blockManager().diskBlockManager().
localDirs()``) — the exact directories shuffle/spill blocks land in,
not a guess at spark.local.dir.

Reading the number: ``peak_bytes`` is a SAMPLED high-water of bytes
present in the scratch dirs during the region — a lower bound on the
true peak (files created and deleted between two samples are missed;
sub-second legs may catch zero samples mid-flight). ``base_bytes`` is
the residue present when the region started (dead files of EARLIER
actions awaiting the cleaner); ``peak_delta_bytes = max(0, peak -
base)`` is the region's own contribution and the number to regress on.
The cleaner can delete residue MID-region, which deflates the delta —
acceptable for a regression meter, fatal for a billing meter; this is
the former.

Single-node vs cluster: in local mode the meter sees the whole "fleet"
(one JVM's dirs). On a real cluster it meters only the driver-local
dirs, i.e. nothing useful — per-executor scratch needs the cluster
manager's disk metrics. The 100 TB posture is unchanged: the
sum-of-exchanges residency law holds per executor; this meter is the
single-box gate for it.
"""

from __future__ import annotations

import os
import threading
import time

__all__ = ["spark_local_dirs", "scratch_bytes", "drain", "ScratchMeter"]


def spark_local_dirs(spark) -> list[str]:
    """The live executor scratch directories (DiskBlockManager's
    localDirs) — where shuffle, spill and localCheckpoint blocks land."""
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    dirs = env.blockManager().diskBlockManager().localDirs()
    return [dirs[i].getAbsolutePath() for i in range(len(dirs))]


def scratch_bytes(paths: list[str]) -> int:
    """Total bytes currently on disk under ``paths`` (files may vanish
    mid-walk — the cleaner runs concurrently — so every stat is
    best-effort)."""
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p, onerror=lambda _e: None):
            for fname in files:
                try:
                    total += os.stat(os.path.join(root, fname)).st_size
                except OSError:
                    pass
    return total


def drain(
    paths: list[str],
    floor_bytes: int = 64 * 1024 * 1024,
    stable_secs: float = 3.0,
    timeout: float = 120.0,
    interval: float = 0.5,
) -> int:
    """Block until the scratch dirs settle: bytes fall under
    ``floor_bytes``, OR stop shrinking for ``stable_secs``, OR
    ``timeout`` elapses. Returns the settled byte count.

    Why: ContextCleaner file deletion is ASYNCHRONOUS — it runs after
    System.gc() on its own threads — so a region started immediately
    after a GC kick can begin with gigabytes of the PREVIOUS region's
    dying residue as its base. A high dying base deflates
    peak_delta_bytes (the residue is deleted mid-region while the
    region's own files grow into the freed space), which is exactly how
    an earlier 100x ngram gate run recorded 18.7 GB for bucket 0 but
    86-287 MB for the identically-shaped buckets 1-3: bucket 0
    started on a clean base, the rest started on top of their
    predecessor's dying files. Draining between regions gives every
    region an honest near-zero base."""
    deadline = time.monotonic() + timeout
    last = scratch_bytes(paths)
    last_change = time.monotonic()
    while time.monotonic() < deadline:
        if last <= floor_bytes:
            return last
        time.sleep(interval)
        cur = scratch_bytes(paths)
        if cur < last:
            last_change = time.monotonic()
        elif time.monotonic() - last_change >= stable_secs:
            return cur
        last = cur
    return last


class ScratchMeter:
    """Context manager sampling scratch high-water around a region::

        with ScratchMeter(spark) as m:
            df.write.format("noop").mode("overwrite").save()
        print(m.peak_delta_bytes)
    """

    def __init__(self, spark, interval: float = 0.25):
        self._paths = spark_local_dirs(spark)
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.base_bytes = 0
        self.peak_bytes = 0
        self.samples = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            b = scratch_bytes(self._paths)
            if b > self.peak_bytes:
                self.peak_bytes = b
            self.samples += 1
            self._stop.wait(self._interval)

    def start(self) -> "ScratchMeter":
        self.base_bytes = scratch_bytes(self._paths)
        self.peak_bytes = self.base_bytes
        self.samples = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling (taking one final sample so short regions are
        never sample-free) and return ``peak_delta_bytes``."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        b = scratch_bytes(self._paths)
        if b > self.peak_bytes:
            self.peak_bytes = b
        self.samples += 1
        return self.peak_delta_bytes

    @property
    def peak_delta_bytes(self) -> int:
        return max(0, self.peak_bytes - self.base_bytes)

    def __enter__(self) -> "ScratchMeter":
        return self.start()

    def __exit__(self, *_exc) -> None:
        self.stop()
