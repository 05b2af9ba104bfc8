"""Staleness guard for the pre-computed oracle artifacts.

The driver regenerates /root/testdata between rounds (and its generator
has changed before — events.ts flipped physical type in round 3). The
DTW / p-value expected tables under artifacts/ are keyed to the data
they were generated from; if the data drifts, every query gated on them
goes red with no obvious cause. These tests fail EARLY and name the fix:
re-run tools/gen_dtw_expected.py and tools/gen_pvalue_expected.py.

No Spark needed — duckdb + numpy only, so this is one of the fastest
modules in the suite.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

ARTIFACTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "artifacts")
REGEN = "stale artifacts? re-run tools/gen_dtw_expected.py and tools/gen_pvalue_expected.py"


def _sf_dirs():
    return sorted(glob.glob("/root/testdata/sf*"))


def _orders_count(sf_dir):
    con = duckdb.connect()
    return con.execute(
        f"SELECT count(*) FROM '{sf_dir}/orders.parquet'"
    ).fetchone()[0]


@pytest.mark.parametrize("artifact", [
    "dtw_expected_summary.parquet",
    "dtw_expected_mapping.parquet",
    "pvalue_expected.parquet",
])
def test_artifact_sf_tags_match_testdata(artifact):
    tags = set(pd.read_parquet(os.path.join(ARTIFACTS, artifact))["sf_tag"])
    for sf_dir in _sf_dirs():
        assert _orders_count(sf_dir) in tags, (sf_dir, artifact, REGEN)


@pytest.mark.parametrize("artifact", [
    "dtw_expected_summary.parquet",
    "dtw_expected_mapping.parquet",
    "pvalue_expected.parquet",
])
def test_artifact_input_fingerprints_match_testdata(artifact):
    """Content guard for EVERY sf: sf_tag (orders row count) alone can't
    catch regenerated testdata with unchanged row counts but different
    values — the stored input_fp is an md5 over the ordered
    lattice-snapped merged rows the slice was generated from, recomputed
    here from the live parquet."""
    from tools.gen_dtw_expected import connect_views, input_fingerprint

    stored = pd.read_parquet(
        os.path.join(ARTIFACTS, artifact), columns=["sf_tag", "input_fp"]
    ).drop_duplicates()
    by_tag = dict(zip(stored["sf_tag"], stored["input_fp"]))
    assert len(by_tag) == len(stored), (artifact, "mixed fingerprints in one slice")
    for sf_dir in _sf_dirs():
        tag = _orders_count(sf_dir)
        live_fp = input_fingerprint(connect_views(sf_dir))
        assert by_tag.get(tag) == live_fp, (sf_dir, artifact, REGEN)


def test_dtw_expected_matches_live_oracle_sf0001():
    """Recompute sf0.001 end to end with the independent numpy DP and
    require byte-equal agreement with the committed artifact slice."""
    from tools.gen_dtw_expected import expected_for

    sf_dir = "/root/testdata/sf0.001"
    live_summary, live_mapping = expected_for(sf_dir)
    tag = _orders_count(sf_dir)
    stored = pd.read_parquet(
        os.path.join(ARTIFACTS, "dtw_expected_summary.parquet")
    )
    stored = stored[stored["sf_tag"] == tag].reset_index(drop=True)
    assert len(stored) == len(live_summary), REGEN
    merged = stored.merge(
        live_summary, on=["sf_tag", "cus_code"], suffixes=("_stored", "_live")
    )
    assert len(merged) == len(stored), REGEN
    assert (merged["num_mappings_stored"] == merged["num_mappings_live"]).all(), REGEN
    assert np.array_equal(
        merged["total_cost_stored"].to_numpy(),
        merged["total_cost_live"].to_numpy(),
    ), REGEN

    stored_map = pd.read_parquet(
        os.path.join(ARTIFACTS, "dtw_expected_mapping.parquet")
    )
    assert (stored_map["sf_tag"] == tag).sum() == len(live_mapping), REGEN


def _merged_entity_slice(sf_dir, cus_code=None):
    """Lattice-snapped merged series for one entity (the smallest
    cus_code when unspecified), straight from DuckDB."""
    from mapping_timeseries_spark.sources.fixtures import SQL_MERGED
    from tools.gen_dtw_expected import SNAP, connect_views

    con = connect_views(sf_dir)
    if cus_code is None:
        cus_code = con.execute(
            f"SELECT min(cus_code) FROM ({SQL_MERGED}) m"
        ).fetchone()[0]
    g = con.execute(
        f"SELECT cus_code, month, {SNAP.format(c='txn_amount')} AS txn_amount, "
        f"{SNAP.format(c='revenue')} AS revenue FROM ({SQL_MERGED}) m "
        f"WHERE cus_code = {cus_code} ORDER BY month"
    ).fetchdf()
    return int(cus_code), g


def test_dtw_expected_matches_live_oracle_sf001_entity():
    """Deep recompute at the driver's gate scale (sf0.01), one entity:
    catches generator drift that only manifests on larger series without
    paying for the full 1402-entity DP in the suite."""
    from tests.oracles import dtw_oracle

    sf_dir = "/root/testdata/sf0.01"
    cus, g = _merged_entity_slice(sf_dir)
    cost, path = dtw_oracle(
        g["txn_amount"].to_numpy(), g["revenue"].to_numpy(),
        window=None, normalize=True,
    )
    tag = _orders_count(sf_dir)
    stored = pd.read_parquet(
        os.path.join(ARTIFACTS, "dtw_expected_summary.parquet")
    )
    row = stored[(stored["sf_tag"] == tag) & (stored["cus_code"] == cus)]
    assert len(row) == 1, REGEN
    assert row["num_mappings"].iloc[0] == len(path), REGEN
    assert row["total_cost"].iloc[0] == float(cost), REGEN


def test_pvalue_expected_matches_live_oracle_sf001_entity():
    from tools.gen_pvalue_expected import MAX_LAG, pvalues_quadrature

    sf_dir = "/root/testdata/sf0.01"
    cus, g = _merged_entity_slice(sf_dir)
    txn = g["txn_amount"].to_numpy()
    rev = g["revenue"].to_numpy()
    ln = len(txn)
    rs, ns = [], []
    for lag in range(MAX_LAG + 1):
        a = txn[: ln - lag] if lag else txn
        b = rev[lag:]
        n = max(ln - lag, 0)
        r = np.nan
        if n >= 2:
            with np.errstate(divide="ignore", invalid="ignore"):
                r = float(np.corrcoef(a, b)[0, 1])
        rs.append(r)
        ns.append(n)
    live = pvalues_quadrature(np.array(rs), np.array(ns, dtype=float))

    tag = _orders_count(sf_dir)
    stored = pd.read_parquet(os.path.join(ARTIFACTS, "pvalue_expected.parquet"))
    stored = stored[(stored["sf_tag"] == tag) & (stored["cus_code"] == cus)]
    stored = stored.sort_values("lag").reset_index(drop=True)
    assert len(stored) == MAX_LAG + 1, REGEN
    for lag in range(MAX_LAG + 1):
        got = stored["pvalue"].iloc[lag]
        want = live[lag]
        if np.isnan(want):
            assert pd.isna(got), (lag, REGEN)
        else:
            assert got == want, (lag, REGEN)


#: p-value tolerance for the full-slice recompute. The quadrature
#: generator's float summation order differs across platforms: on an
#: unchanged input (same input_fp) 81 of 966 sf0.001 cells moved by at
#: most 1.1e-14 absolute (1.4e-12 relative). 1e-12 stays far inside the
#: 6-dp window the oracle hash compares at.
PVALUE_ATOL = 1e-12


def _assert_pvalues_match(stored, live):
    """Keys, input fingerprint and NaN positions must agree exactly; the
    p-values themselves within PVALUE_ATOL."""
    merged = stored.merge(
        live, on=["sf_tag", "cus_code", "lag"], suffixes=("_stored", "_live")
    )
    assert len(merged) == len(stored) == len(live), REGEN
    assert (merged["input_fp_stored"] == merged["input_fp_live"]).all(), REGEN
    a = merged["pvalue_stored"].to_numpy(dtype=float)
    b = merged["pvalue_live"].to_numpy(dtype=float)
    assert np.array_equal(np.isnan(a), np.isnan(b)), REGEN
    assert np.all(np.isnan(a) | (np.abs(a - b) <= PVALUE_ATOL)), REGEN


def test_pvalue_expected_matches_live_oracle_sf0001():
    from tools.gen_pvalue_expected import expected_for

    sf_dir = "/root/testdata/sf0.001"
    live = expected_for(sf_dir)
    tag = _orders_count(sf_dir)
    stored = pd.read_parquet(os.path.join(ARTIFACTS, "pvalue_expected.parquet"))
    stored = stored[stored["sf_tag"] == tag].reset_index(drop=True)
    _assert_pvalues_match(stored, live)


def test_pvalue_match_rejects_real_drift():
    """The tolerance absorbs summation noise only: a 1e-9 p-value move,
    a changed input fingerprint or a moved NaN must still fail."""
    stored = pd.read_parquet(os.path.join(ARTIFACTS, "pvalue_expected.parquet"))
    stored = stored[stored["sf_tag"] == stored["sf_tag"].iloc[0]]
    stored = stored.reset_index(drop=True)
    finite = stored.index[stored["pvalue"].notna()][0]
    _assert_pvalues_match(stored, stored.copy())

    noise = stored.copy()
    noise.loc[finite, "pvalue"] += 1e-14
    _assert_pvalues_match(stored, noise)

    drifted = stored.copy()
    drifted.loc[finite, "pvalue"] += 1e-9
    with pytest.raises(AssertionError):
        _assert_pvalues_match(stored, drifted)

    refingered = stored.copy()
    refingered["input_fp"] = "0" * 32
    with pytest.raises(AssertionError):
        _assert_pvalues_match(stored, refingered)

    nan_moved = stored.copy()
    nan_moved.loc[finite, "pvalue"] = np.nan
    with pytest.raises(AssertionError):
        _assert_pvalues_match(stored, nan_moved)
