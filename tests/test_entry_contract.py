from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod
from mapping_timeseries_spark.materialize import dedup_cache_scope

from .conftest import new_persisted_rdds, persisted_rdd_ids

SF_DIR = "/root/testdata/sf0.001"

# The driver's correctness harness checks only the first 50 queries()
# entries; anything past that silently loses its per-round verification
# (round-3 lesson: 7 similarity/multimodal queries fell out of the
# window). Keep the registry at or under the cap — fold same-grain
# queries together rather than appending past 50.
DRIVER_CORRECTNESS_CAP = 50


def test_registry_fits_driver_window():
    assert len(entry_mod.queries()) <= DRIVER_CORRECTNESS_CAP


def test_oracle_keys_subset_of_queries():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    # every registered query now carries a DuckDB oracle: the DTW family is
    # hash-gated via the numpy expected tables under artifacts/, sampling
    # via the portable-hash twins, and multimodal via the WAV-synthesis
    # formula oracle (the engine-RNG `sample` is pytest-pinned below and
    # intentionally outside the registry)
    assert set(q) - set(o) == set()


def test_engine_rng_sample_pinned(spark):
    # q_sample stays out of queries() (driver window, no oracle possible
    # for engine RNG) but the P11 API surface must keep working: seeded,
    # reproducible, and in the right fraction ballpark
    a = entry_mod.q_sample(spark, SF_DIR)
    b = entry_mod.q_sample(spark, SF_DIR)
    n_a = a.count()
    assert n_a == b.count()  # same seed -> same sample
    total = entry_mod.read_table(spark, SF_DIR, "orders").count()
    assert 0.02 * total < n_a < 0.25 * total  # fraction=0.1


class _ConsumerFailed(RuntimeError):
    pass


def test_all_queries_plan_and_return_rows(spark):
    """Every registry entry plans and returns a row at the smallest sf,
    and leaves nothing materialized behind it: built and consumed inside
    a scope, then built again inside a scope whose consumer raises, each
    pass ends with an empty cache manager and no RDD persisted that was
    not persisted before the sweep."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = persisted_rdd_ids(spark)
    for name, fn in entry_mod.queries().items():
        with dedup_cache_scope():
            df = fn(spark, SF_DIR)
            assert df.columns, name
            df.limit(1).collect()
        assert cache.isEmpty(), (name, "consumed")
        assert new_persisted_rdds(spark, before) == set(), (name, "consumed")

        with pytest.raises(_ConsumerFailed):
            with dedup_cache_scope():
                fn(spark, SF_DIR)
                raise _ConsumerFailed(name)
        assert cache.isEmpty(), (name, "raised")
        assert new_persisted_rdds(spark, before) == set(), (name, "raised")


def test_queries_survive_hostile_session_defaults(spark):
    # the driver calls queries() with ITS OWN session — Spark 4 defaults
    # to ANSI mode (corr on zero-variance groups -> DIVIDE_BY_ZERO) and
    # whatever host timezone. Re-hostilize the session before EVERY query
    # and require each q_* to restore its contract via ensure_runtime_conf
    ns = spark.newSession()
    for name, fn in entry_mod.queries().items():
        ns.conf.set("spark.sql.ansi.enabled", "true")
        ns.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = fn(ns, SF_DIR)
        df.limit(1).collect()
        assert ns.conf.get("spark.sql.ansi.enabled") == "false", name
        assert ns.conf.get("spark.sql.session.timeZone") == "UTC", name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", ["minhash_dedup", "dedup_clusters", "simhash_dedup"])
def test_sketch_entries_match_duckdb_oracle(spark, name):
    """The near-duplicate sketch entries call their operators at the
    defaults, so this DuckDB comparison (the one tools/compare_oracle.py
    runs) fails if the default hash family ever stops being the one the
    oracle twin computes."""
    import os

    import duckdb

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from compare_oracle import compare_query, register_tables

    con = duckdb.connect()
    register_tables(con, SF_DIR)
    result = compare_query(spark, con, SF_DIR, name)
    con.close()
    assert result["rows_match"] and result["schema_match"], result
    assert result["hash_match"], result
