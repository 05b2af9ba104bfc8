"""The commit protocol of the append-maintained indexes (MinHash LSH,
BM25, IVF): parquet frame directories plus one small JSON commit
marker, the vanilla-Spark stand-in for a Delta transaction log.

An index is a set of frame directories and a marker file under one
root. The marker carries the index's parameters and one COMMITTED row
count per frame directory. The protocol:

- build/append writes every frame, then recounts each frame from disk
  and commits the marker LAST, atomically (a temporary file beside it,
  then ``os.replace``), so a crash mid-rewrite leaves the previous
  marker whole instead of an empty one;
- a build removes the previous marker before it writes, so a build
  that dies leaves no marker; an append that dies leaves some frame
  ahead of its committed count. Load and every append check each
  frame's row count against the marker, so both states are refused
  loudly: a torn index is rebuilt, never served or appended to;
- an append refuses ids already in the index (a reused id would alias
  two documents or vectors under one key);
- compaction validates, rewrites each frame with
  ``writers.compact_in_place`` and recommits the marker (the IVF marker
  lives inside its partitioned root, which the swap retires).

Single-writer by contract, like ``sources/versioned.py``. The index
families keep only their own logic (parameters, derived frames, the
IVF centroid fingerprint) and call :class:`IndexStore`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def write_json(file_path: str, obj, **dump_kw) -> None:
    """Write ``obj`` as JSON to ``file_path`` atomically: dump into
    ``<name>.tmp`` in the same directory, then ``os.replace`` it in. A
    reader sees the old file or the new one, never a truncated one. The
    temporary name keeps the file's name as its prefix, so a ``_``
    marker's temporary file stays hidden from Spark's listing."""
    tmp = file_path + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, **dump_kw)
        os.replace(tmp, file_path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


@dataclass(frozen=True)
class IndexStore:
    """One index family's on-disk layout.

    ``frames`` maps each frame directory (relative to the index root;
    ``""`` is the root itself) to the marker key of its committed row
    count. ``partition_col`` partitions every frame's writes."""

    marker: str
    frames: dict[str, str]
    partition_col: str | None = None

    def _dir(self, path: str, frame: str) -> str:
        return os.path.join(path, frame) if frame else path

    def read(self, path: str) -> dict:
        """The committed marker of the index at ``path`` (no data
        check)."""
        marker = os.path.join(path, self.marker)
        if not os.path.exists(marker):
            raise FileNotFoundError(
                f"{marker} missing — index at {path} was never committed"
            )
        with open(marker) as f:
            return json.load(f)

    def frames_of(
        self, spark: SparkSession, path: str, meta: dict
    ) -> dict[str, DataFrame]:
        """The index's frames, each checked against its committed row
        count in ``meta``."""
        out = {}
        for frame, key in self.frames.items():
            name = frame or "the root"
            if key not in meta:
                raise ValueError(
                    f"{self.marker} at {path} commits no row count for "
                    f"{name} (an index from before committed counts) — "
                    "rebuild the index"
                )
            df = spark.read.parquet(self._dir(path, frame))
            n = df.count()
            if n != meta[key]:
                raise ValueError(
                    f"index at {path}: {name} has {n} rows but "
                    f"{self.marker} committed {meta[key]} — an append was "
                    "interrupted; rebuild the index"
                )
            out[frame] = df
        return out

    def load(self, spark: SparkSession, path: str):
        """-> (marker dict, validated frames)."""
        meta = self.read(path)
        return meta, self.frames_of(spark, path, meta)

    def write(
        self,
        path: str,
        meta: dict,
        batch: dict[str, DataFrame],
        mode: str = "overwrite",
    ) -> dict:
        """Write one frame per entry of ``batch`` (``"overwrite"``:
        build; ``"append"``: after :meth:`load` validated the index),
        then commit ``meta`` plus the recounted rows. Returns the
        committed marker."""
        marker = os.path.join(path, self.marker)
        if mode == "overwrite" and os.path.exists(marker):
            # a rebuild that dies mid-way must not load under the
            # previous build's marker
            os.remove(marker)
        for frame, df in batch.items():
            writer = df.write.mode(mode)
            if self.partition_col:
                writer = writer.partitionBy(self.partition_col)
            writer.parquet(self._dir(path, frame))
        spark = next(iter(batch.values())).sparkSession
        meta = dict(meta)
        for frame, key in self.frames.items():
            meta[key] = spark.read.parquet(self._dir(path, frame)).count()
        write_json(marker, meta)
        return meta

    @staticmethod
    def refuse_reuse(
        stored: DataFrame, batch: DataFrame, id_col: str, path: str
    ) -> None:
        """Raise if ``batch`` holds an ``id_col`` value already stored.
        No broadcast hint: the batch id set has no size bound (a 10%
        batch of a 1B-doc index is ~100M ids, past the broadcast cap),
        and the un-hinted semi-join of two bare id columns is size-safe
        at any scale; AQE may still pick broadcast for a small batch."""
        clash = (
            stored.select(id_col)
            .join(batch.select(id_col), id_col, "left_semi")
            .limit(1)
            .count()
        )
        if clash:
            raise ValueError(
                f"{id_col} reuse: the batch holds {id_col}s already in the "
                f"index at {path} — ids must be globally unique across the "
                "index and every batch"
            )

    def compact(
        self, spark: SparkSession, path: str, target_file_mb: int = 128
    ) -> dict[str, int]:
        """Rewrite every frame into ~``target_file_mb`` files (the
        append-fragmentation maintenance pass; OFFLINE, crash contract
        on ``writers.compact_in_place``, which also checks each frame's
        row count is unchanged). The marker is recommitted from the
        validated content. Returns the output file count per frame."""
        from .writers import compact_in_place

        meta, _ = self.load(spark, path)
        out = {
            frame: compact_in_place(
                spark,
                self._dir(path, frame),
                target_file_mb,
                partition_col=self.partition_col,
            )
            for frame in self.frames
        }
        write_json(os.path.join(path, self.marker), meta)
        return out
