"""The persisted indexes (MinHash LSH, BM25, IVF) share one commit
protocol, ``mapping_timeseries_spark/sources/index_store.py``: every
frame directory's row count is committed in the index's marker, load
and append refuse a frame that disagrees with it, and the marker is
replaced atomically.

The static scan needs no Spark session: it fails on any ``json.*``,
``open(`` or ``os.replace`` call in ``mapping_timeseries_spark/operators``,
so the operator modules cannot grow a second copy of the protocol.
"""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from .conftest import new_persisted_rdds, persisted_rdd_ids

ROOT = Path(__file__).resolve().parent.parent
OPERATORS = ROOT / "mapping_timeseries_spark" / "operators"
SF = "/root/testdata/sf0.001"


def marker_io_calls(source: str) -> list[int]:
    """Line numbers of ``open(...)``, ``json.<any>(...)`` and
    ``os.replace(...)`` calls in ``source``."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id == "open":
            lines.append(node.lineno)
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            if f.value.id == "json" or (f.value.id, f.attr) == ("os", "replace"):
                lines.append(node.lineno)
    return sorted(lines)


def test_scan_catches_every_form():
    assert marker_io_calls("json.dump(meta, f)") == [1]
    assert marker_io_calls("with open(p) as f:\n    m = json.load(f)") == [1, 2]
    assert marker_io_calls("os.replace(tmp, p)") == [1]
    assert marker_io_calls("os.path.join(a, b)\ndf.write.json(p)") == []


def test_only_index_store_touches_markers():
    offenders = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in sorted(OPERATORS.glob("*.py"))
        for line in marker_io_calls(path.read_text())
    ]
    assert offenders == []


def _tear(spark, frame_dir: str, partition_col: str | None = None) -> None:
    """Append one stored row to ``frame_dir`` only: the state a crash
    leaves between two frames' appends."""
    df = spark.read.parquet(frame_dir)
    writer = spark.createDataFrame(df.limit(1).collect(), df.schema).write
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.mode("append").parquet(frame_dir)


def _minhash(spark):
    from mapping_timeseries_spark.operators.dedup import (
        append_minhash_index,
        build_minhash_index,
        load_minhash_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return (
        lambda p: build_minhash_index(docs.where(F.col("doc_id") % 5 != 0), p),
        lambda p: append_minhash_index(docs.where(F.col("doc_id") % 5 == 0), p),
        lambda p: load_minhash_index(spark, p),
        "hsets",
        None,
    )


def _bm25(spark):
    from mapping_timeseries_spark.operators.search import (
        bm25_index_append,
        bm25_index_load,
        bm25_index_write,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return (
        lambda p: bm25_index_write(docs.where(F.col("doc_id") % 5 != 0), p),
        lambda p: bm25_index_append(docs.where(F.col("doc_id") % 5 == 0), p),
        lambda p: bm25_index_load(spark, p),
        "postings",
        None,
    )


def _ivf(spark):
    from mapping_timeseries_spark.operators.similarity import (
        ivf_build_index,
        ivf_index_append,
        ivf_index_load,
        ivf_seed_centroids,
    )

    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)], i % 3) for i in range(60)],
        "vec_id long, embedding array<double>, label int",
    )
    old = emb.where(F.col("vec_id") % 4 != 0)
    cents = ivf_seed_centroids(old, nlist=4)
    return (
        lambda p: ivf_build_index(old, cents, p),
        lambda p: ivf_index_append(emb.where(F.col("vec_id") % 4 == 0), cents, p),
        lambda p: ivf_index_load(spark, p),
        "",
        "centroid_id",
    )


FAMILIES = pytest.mark.parametrize(
    "family", [_minhash, _bm25, _ivf], ids=["minhash", "bm25", "ivf"]
)


@FAMILIES
def test_torn_append_is_refused(spark, tmp_path, family):
    """A crash between two frames' appends leaves one frame ahead of
    the committed marker. Load refuses it, and so does a fresh append:
    appending onto a torn index would make the damage permanent (for
    MinHash, the batch's documents would never get their bands and
    every later dedup would miss them as candidates)."""
    build, append, load, frame, partition_col = family(spark)
    path = str(tmp_path / "idx")
    build(path)
    load(path)
    _tear(spark, os.path.join(path, frame) if frame else path, partition_col)
    with pytest.raises(ValueError, match="interrupted"):
        load(path)
    with pytest.raises(ValueError, match="interrupted"):
        append(path)


@FAMILIES
def test_build_and_append_leave_nothing_cached(spark, tmp_path, family):
    """What a build or an append pins (the MinHash sets, the BM25
    postings) is released once its frames are written."""
    build, append, _, _, _ = family(spark)
    path = str(tmp_path / "idx")
    before = persisted_rdd_ids(spark)
    build(path)
    append(path)
    assert new_persisted_rdds(spark, before) == set()


class _Boom(RuntimeError):
    pass


def test_rebuild_that_dies_leaves_no_marker(spark, tmp_path, monkeypatch):
    """A MinHash rebuild over an existing index that dies after the
    hsets write leaves no marker: the new hsets beside the old bands
    never load under the previous build's marker."""
    build, _, load, _, _ = _minhash(spark)
    path = str(tmp_path / "idx")
    build(path)
    writer = type(spark.range(1).write)
    real, calls = writer.parquet, []

    def parquet(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 2:  # the bands write
            raise _Boom("bands")
        return real(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(writer, "parquet", parquet)
        with pytest.raises(_Boom):
            build(path)
    with pytest.raises(FileNotFoundError, match="never committed"):
        load(path)


def test_marker_survives_a_crash_during_recommit(spark, tmp_path, monkeypatch):
    """A BM25 append whose marker rewrite raises mid-dump leaves the
    previous marker whole: it still parses, and load reports the frames
    the append landed as an interrupted append instead of failing to
    decode an empty marker."""
    build, append, load, _, _ = _bm25(spark)
    path = str(tmp_path / "idx")
    build(path)
    marker = os.path.join(path, "meta.json")
    with open(marker) as f:
        committed = json.load(f)

    def boom(*args, **kwargs):
        raise _Boom("json.dump")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", boom)
        with pytest.raises(_Boom):
            append(path)
    with open(marker) as f:
        assert json.load(f) == committed
    assert sorted(os.listdir(path)) == ["dl", "meta.json", "postings"]
    with pytest.raises(ValueError, match="interrupted"):
        load(path)
