"""Every frame the engine materializes goes through
``mapping_timeseries_spark/materialize.py``, and is released on every
exit path of the operators whose materialization ends before they
return.

The static scan needs no Spark session: it fails on any persist, cache,
checkpoint or unpersist call in the package, in ``__spark_entry__.py``
or in ``tools/*.py`` outside that module. ``perfbench/`` is the
benchmark's own harness and stays out of the scan. The exit-path tests make one action raise mid-way
and check that nothing the operator persisted is left.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from .conftest import new_persisted_rdds, persisted_rdd_ids

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mapping_timeseries_spark"
MATERIALIZE = PACKAGE / "materialize.py"
MATERIALIZING = {"persist", "cache", "localCheckpoint", "checkpoint", "unpersist"}


def materializing_calls(source: str) -> list[int]:
    """Line numbers of ``<expr>.persist(...)``-style calls in ``source``."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in MATERIALIZING
    ]


def test_scan_catches_every_form():
    assert materializing_calls("df.persist()") == [1]
    assert materializing_calls("x = f(df).cache()") == [1]
    assert materializing_calls("a\nb = df.localCheckpoint(eager=True)") == [2]
    assert materializing_calls("df.checkpoint()\ndf.unpersist(True)") == [1, 2]
    assert materializing_calls("spark.catalog.clearCache()\np = df.persist") == []


def test_only_materialize_module_materializes():
    paths = (
        sorted(PACKAGE.rglob("*.py"))
        + [ROOT / "__spark_entry__.py"]
        + sorted((ROOT / "tools").glob("*.py"))
    )
    offenders = [
        f"{path.relative_to(ROOT)}:{line}"
        for path in paths
        if path != MATERIALIZE
        for line in materializing_calls(path.read_text())
    ]
    assert offenders == []
    assert materializing_calls(MATERIALIZE.read_text())  # the scan reads it


class _Boom(RuntimeError):
    pass


def _raise_on_call(monkeypatch, owner, name: str, n: int) -> None:
    """Make the ``n``-th call of ``owner.name`` (1-based) raise ``_Boom``;
    earlier calls run the real method."""
    real = getattr(owner, name)
    calls = []

    def wrapped(*args, **kwargs):
        calls.append(1)
        if len(calls) == n:
            raise _Boom(f"{name} call {n}")
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, wrapped)


def test_bpe_rounds_release_checkpoints_when_a_round_raises(spark, monkeypatch):
    """A raising round of distributed BPE training leaves no round's
    checkpoint behind (the loop checkpoints every 3 merges; the 5th
    argmax collect raises with one checkpoint live)."""
    from mapping_timeseries_spark.operators.tokenizer import train_bpe

    docs = spark.createDataFrame(
        [(i, "low lower lowest newer newest wider widest") for i in range(4)],
        "doc_id long, text string",
    )
    before = persisted_rdd_ids(spark)
    _raise_on_call(monkeypatch, type(docs), "collect", 5)
    with pytest.raises(_Boom):
        train_bpe(docs, num_merges=8, mode="distributed", checkpoint_every=3)
    assert new_persisted_rdds(spark, before) == set()


def test_bpe_rounds_release_checkpoints_on_return(spark):
    from mapping_timeseries_spark.operators.tokenizer import train_bpe

    docs = spark.createDataFrame(
        [(i, "low lower lowest newer newest wider widest") for i in range(4)],
        "doc_id long, text string",
    )
    before = persisted_rdd_ids(spark)
    merges = train_bpe(docs, num_merges=8, mode="distributed", checkpoint_every=3)
    assert merges.count() == 8
    assert new_persisted_rdds(spark, before) == set()


def test_merge_into_partitioned_releases_slice_when_write_raises(
    spark, monkeypatch, tmp_path
):
    from mapping_timeseries_spark.sources.writers import merge_into_partitioned

    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, month string, v long"
    ).write.partitionBy("month").parquet(target)
    source = spark.createDataFrame([(1, "a", 11)], "id long, month string, v long")
    before = persisted_rdd_ids(spark)
    _raise_on_call(monkeypatch, type(source.write), "parquet", 1)
    with pytest.raises(_Boom):
        merge_into_partitioned(spark, target, source, ["id"], "month")
    assert new_persisted_rdds(spark, before) == set()
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"


@pytest.fixture()
def corr_history(spark):
    from mapping_timeseries_spark.operators.canonicalize import (
        VALUE1,
        VALUE2,
        canonicalize,
    )
    from mapping_timeseries_spark.operators.merge import merge_series
    from mapping_timeseries_spark.sources.fixtures import synthetic_pair

    t1, t2 = synthetic_pair(spark, num_customers=4, num_months=10)
    return merge_series(
        canonicalize(t1, "cus_code", "month", "txn_amount", VALUE1),
        canonicalize(t2, "cus_code", "month", "revenue", VALUE2),
    )


def test_corr_state_releases_pins_when_a_write_raises(
    spark, monkeypatch, tmp_path, corr_history
):
    """init_corr_state's pinned history and advance_corr_state's pinned
    batch are both released when a state write raises."""
    from pyspark.sql import functions as F

    from mapping_timeseries_spark.plans import incremental

    root = str(tmp_path / "state")
    months = sorted(
        r["month"] for r in corr_history.select("month").distinct().collect()
    )
    history = corr_history.where(F.col("month") < months[-3])
    batch = corr_history.where(F.col("month") >= months[-3])

    before = persisted_rdd_ids(spark)
    with monkeypatch.context() as m:
        # the first write materializes the pin; the second raises
        _raise_on_call(m, incremental, "write_versioned", 2)
        with pytest.raises(_Boom):
            incremental.init_corr_state(history, root, max_lag=2)
    assert new_persisted_rdds(spark, before) == set()

    incremental.init_corr_state(history, root, max_lag=2)
    with monkeypatch.context() as m:
        _raise_on_call(m, incremental, "write_versioned", 1)
        with pytest.raises(_Boom):
            incremental.advance_corr_state(spark, root, batch)
    assert new_persisted_rdds(spark, before) == set()


def test_minhash_index_build_releases_sets_when_a_write_raises(
    spark, monkeypatch, tmp_path
):
    from mapping_timeseries_spark.operators.dedup import build_minhash_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta word{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    before = persisted_rdd_ids(spark)
    # the hset write materializes the pinned sets; the band write raises
    _raise_on_call(monkeypatch, type(docs.write), "parquet", 2)
    with pytest.raises(_Boom):
        build_minhash_index(docs, str(tmp_path / "idx"))
    assert new_persisted_rdds(spark, before) == set()
