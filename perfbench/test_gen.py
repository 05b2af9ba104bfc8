"""Tests of the seeded input generator.

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("workload", ["mapping_close", "corpus_clean"])
@pytest.mark.parametrize("size", ["smoke", "bench"])
def test_same_seed_same_bytes(tmp_path, workload, size):
    gen.generate(workload, 7, str(tmp_path / "a"), size)
    gen.generate(workload, 7, str(tmp_path / "b"), size)
    gen.generate(workload, 8, str(tmp_path / "c"), size)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_series_planted_lags_and_money_lattice(tmp_path):
    inputs = gen.generate("close_corr", 3, str(tmp_path), "bench")
    truth = inputs.truth
    dims = gen.SIZES["close_corr"]["bench"]
    assert inputs.rows == 2 * dims["entities"] * dims["months"]
    assert truth.simple.sum() == round(gen.SIMPLE_SHARE * dims["entities"])
    assert set(np.unique(truth.lag)) <= set(range(1, gen.MAX_LAG + 1))
    t1 = pq.read_table(inputs.paths["table1"]).to_pandas()
    t2 = pq.read_table(inputs.paths["table2"]).to_pandas()
    for values in (t1["txn_amount"], t2["revenue"]):
        cents = values.to_numpy() * 100
        assert np.allclose(cents, np.round(cents), atol=1e-6)

    # a simple entity's revenue tracks txn at exactly its planted lag
    e = int(np.flatnonzero(truth.simple)[0])
    n, lag = dims["months"], int(truth.lag[e])
    x = t1["txn_amount"].to_numpy()[e * n : (e + 1) * n]
    y = t2["revenue"].to_numpy()[e * n : (e + 1) * n]
    corr = [np.corrcoef(x[: n - k], y[k:])[0, 1] for k in range(gen.MAX_LAG + 1)]
    assert int(np.argmax(corr)) == lag and max(corr) > 0.9


def test_route_shares_are_exact(tmp_path):
    inputs = gen.generate("routed_dtw", 5, str(tmp_path), "bench")
    n = gen.SIZES["routed_dtw"]["bench"]["entities"]
    rec = pq.read_table(inputs.paths["recommendations"])
    methods = pc.value_counts(rec["recommended_method"]).to_pylist()
    route_of = {method: route for route, method in gen.ROUTE_METHOD.items()}
    got = {route_of[m["values"]]: m["counts"] for m in methods}
    got["default"] = n - rec.num_rows
    assert got == inputs.route_counts
    for route, share in gen.ROUTE_SHARES.items():
        assert abs(got[route] - share * n) <= 1


def test_corpus_plants(tmp_path):
    inputs = gen.generate("corpus_clean", 9, str(tmp_path), "bench")
    truth = inputs.truth
    n = gen.SIZES["corpus_clean"]["bench"]["docs"]
    docs = pq.read_table(inputs.paths["docs"]).to_pandas()
    assert len(docs) == n == truth.n_docs
    for kind, ids in (
        ("exact", truth.exact_ids), ("near", truth.near_ids),
        ("contam", truth.contam_ids), ("lowq", truth.lowq_ids),
    ):
        assert len(ids) == round(gen.CORPUS_SHARES[kind] * n)
    # every planted exact copy repeats an earlier text, nothing else does
    first = docs.drop_duplicates("text")
    assert sorted(set(docs["doc_id"]) - set(first["doc_id"])) == list(truth.exact_ids)
    # contaminated docs contain a whole holdout item; unplanted docs none
    holdout = pq.read_table(inputs.paths["holdout"])["text"].to_pylist()
    text = docs.set_index("doc_id")["text"]
    assert all(any(h in text[i] for h in holdout) for i in truth.contam_ids)
    lowq = text[truth.lowq_ids].str.split().str.len()
    assert lowq.between(3, 8).all()
