"""Versioned parquet tables: the vanilla-Spark analogue of Delta's
DESCRIBE HISTORY / VERSION AS OF / RESTORE (reference S10,
05_prod_dev.py:1163-1191) — the one reference capability previously
documented N/A.

Layout::

    table_root/
      _versions.json      # history: [{version, created_at, note}, ...]
      _latest             # pointer file: current version number
      v=000001/ ...       # immutable parquet snapshot per version
      v=000002/ ...

Each write is a NEW immutable directory; the pointer flip (os.replace —
atomic on POSIX) publishes it. ``RESTORE`` is a pointer flip back plus a
history entry — old snapshots are never mutated, exactly Delta's
observable semantics for read/time-travel/restore.

Honest scope vs Delta, stated plainly:

- SINGLE WRITER. The pointer protocol has no MVCC/optimistic locking;
  concurrent writers can interleave version allocation. The reference's
  production job is one scheduled writer (05_prod_dev.py:1116-1154),
  which this matches; multi-writer needs a real transaction log (that is
  what Delta IS, and why S10 was N/A for plain parquet until now).
- Snapshots are whole-table. Delta's file-level MERGE/OPTIMIZE
  interplay is covered elsewhere (writers.merge_into_partitioned,
  compact_parquet) on unversioned tables.
- History metadata is a driver-side JSON — fine at O(versions),
  which is O(runs), not O(data).

Retention: ``vacuum_versions`` deletes snapshot directories older than
the last N versions (never the pointed-at one) — the VACUUM analogue.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from .index_store import write_json

__all__ = [
    "write_versioned",
    "read_versioned",
    "table_history",
    "restore_version",
    "vacuum_versions",
    "current_version",
]

_HISTORY = "_versions.json"
_POINTER = "_latest"


def _vdir(root: str, version: int) -> str:
    return os.path.join(root, f"v={version:06d}")


def _read_history(root: str) -> list[dict]:
    p = os.path.join(root, _HISTORY)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def _write_history(root: str, history: list[dict]) -> None:
    write_json(os.path.join(root, _HISTORY), history, indent=1)


def _current_version(root: str) -> int:
    p = os.path.join(root, _POINTER)
    if not os.path.exists(p):
        raise FileNotFoundError(f"not a versioned table (no {_POINTER}): {root}")
    with open(p) as f:
        return int(f.read().strip())


def _set_pointer(root: str, version: int) -> None:
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(root, _POINTER))  # atomic publish


def current_version(root: str) -> int | None:
    """The published (pointed-at) version, or None for a fresh/absent
    table. Distinct from ``max(history)``: after a rollback the pointer
    is older than the newest allocated snapshot."""
    try:
        return _current_version(root)
    except FileNotFoundError:
        return None


def write_versioned(
    df: DataFrame, root: str, note: str = "", publish: bool = True
) -> int:
    """Write ``df`` as the table's next immutable version and (by
    default) publish it. Returns the new version number. The snapshot is
    fully written before the pointer flips, so readers never observe a
    partial version.

    ``publish=False`` stages the snapshot without moving the pointer —
    the two-phase publish a QA-gated pipeline needs: write, validate the
    STAGED version, then :func:`publish_version` on pass. A staged
    version that never publishes stays on disk for forensics and is
    invisible to ``read_versioned`` readers (no transient window where
    a failing table is live, unlike publish-then-rollback)."""
    os.makedirs(root, exist_ok=True)
    history = _read_history(root)
    # allocate past BOTH the history max and any on-disk v=* directory:
    # a crash between the snapshot write and the history append leaves
    # an orphan dir, and re-allocating its number would make
    # errorifexists throw on every subsequent write (a permanently
    # wedged table needing manual cleanup)
    on_disk = max(
        (
            int(d.split("=", 1)[1])
            for d in os.listdir(root)
            if d.startswith("v=") and d.split("=", 1)[1].isdigit()
        ),
        default=0,
    )
    version = 1 + max(
        max((h["version"] for h in history), default=0), on_disk
    )
    df.write.mode("errorifexists").parquet(_vdir(root, version))
    history.append(
        {
            "version": version,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "note": note or f"write v{version}",
        }
    )
    _write_history(root, history)
    if publish:
        _set_pointer(root, version)
    return version


def publish_version(root: str, version: int) -> None:
    """Atomically point the table at an already-written (staged)
    version — the second phase of ``write_versioned(publish=False)``."""
    if not os.path.isdir(_vdir(root, version)):
        raise ValueError(f"cannot publish missing version {version}")
    _set_pointer(root, version)


def read_versioned(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the table — latest by default, ``VERSION AS OF`` otherwise."""
    v = _current_version(root) if version is None else version
    d = _vdir(root, v)
    if not os.path.isdir(d):
        raise ValueError(f"version {v} does not exist (vacuumed or never written)")
    return spark.read.parquet(d)


def table_history(root: str) -> list[dict]:
    """DESCRIBE HISTORY analogue: version, timestamp, note — newest last.
    The currently-published version is whatever ``_latest`` points at
    (restores append history entries without renumbering snapshots)."""
    return _read_history(root)


def restore_version(root: str, version: int) -> None:
    """RESTORE TABLE ... VERSION AS OF analogue: atomically repoint the
    table at an existing older snapshot and record the action. The
    restored-from snapshot stays immutable; the next write continues the
    version sequence."""
    if not os.path.isdir(_vdir(root, version)):
        raise ValueError(f"cannot restore to missing version {version}")
    history = _read_history(root)
    history.append(
        {
            "version": version,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "note": f"restore to v{version}",
        }
    )
    _write_history(root, history)
    _set_pointer(root, version)


def vacuum_versions(root: str, keep_last: int = 2) -> list[int]:
    """VACUUM analogue: delete snapshot directories beyond the newest
    ``keep_last`` DISTINCT versions, never the currently-pointed one.
    Returns the versions removed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    current = _current_version(root)
    on_disk = sorted(
        int(d.split("=")[1])
        for d in os.listdir(root)
        if d.startswith("v=") and os.path.isdir(os.path.join(root, d))
    )
    keep = set(on_disk[-keep_last:]) | {current}
    removed = []
    for v in on_disk:
        if v not in keep:
            shutil.rmtree(_vdir(root, v))
            removed.append(v)
    return removed
