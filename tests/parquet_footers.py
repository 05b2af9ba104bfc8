"""Parquet footer reads with pyarrow, independent of the engine under
test."""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def parquet_files(path: str) -> list[str]:
    """Every ``.parquet`` file under ``path``, partition directories
    included, in a stable order."""
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def parquet_codecs(path: str) -> set[str]:
    """Compression codec of every column chunk of every parquet file
    under ``path`` (e.g. ``{"ZSTD"}``)."""
    codecs = set()
    for p in parquet_files(path):
        md = pq.ParquetFile(p).metadata
        codecs |= {
            md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        }
    return codecs
