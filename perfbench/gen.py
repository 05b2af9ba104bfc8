"""Seeded input generator for the benchmark: vectorised numpy -> parquet.

Everything here is a pure function of the seed and the sizes, so the same
seed writes byte-identical parquet files. The engine only ever sees the
files; the ground truth (planted lags, routes, planted duplicates) stays
with the benchmark for the output checks.

"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_LAG = 6  # MappingConfig.max_lag default
FIRST_YEAR = 2010

# route shares of the saved recommendations table (routed_dtw)
ROUTE_SHARES = {"dtw": 0.75, "correlation": 0.15, "manual_review": 0.05, "default": 0.05}
ROUTE_METHOD = {"dtw": "DTW", "correlation": "Correlation", "manual_review": "Complex - Manual Review"}

# planted shares of the corpus (corpus_clean)
CORPUS_SHARES = {"exact": 0.05, "near": 0.10, "contam": 0.02, "lowq": 0.05}
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings and one row group, so the bytes depend on the
    # data (and the pyarrow version) alone
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 22)


def _months(n_months: int) -> np.ndarray:
    idx = np.arange(n_months)
    return np.array(
        [f"{FIRST_YEAR + i // 12:04d}-{i % 12 + 1:02d}" for i in idx], dtype=object
    )


def _codes(prefix: str, n: int) -> np.ndarray:
    return np.array([f"{prefix}{i:07d}" for i in range(n)], dtype=object)


def _money(x: np.ndarray) -> np.ndarray:
    """Snap to the 2 dp money lattice the moment operators assume."""
    return np.round(x, 2)


# ---------------------------------------------------------------------------
# Mapping workloads: two series tables with planted lags
# ---------------------------------------------------------------------------


@dataclass
class SeriesTruth:
    codes: np.ndarray  # entity codes, row order of the generated tables
    lag: np.ndarray  # planted lag per entity (int)
    simple: np.ndarray  # True where revenue follows txn at the planted lag
    n_months: int


def series_tables(
    rng: np.random.Generator, n_entities: int, n_months: int, simple_share: float
) -> tuple[pa.Table, pa.Table, SeriesTruth]:
    """``table1 (cus_code, month, txn_amount)`` and ``table2 (cus_code,
    month, revenue)`` on a full entity x month grid.

    A "simple" entity's revenue is ``0.3 * txn`` shifted by its planted
    lag plus small noise, so its best-lag correlation is ~0.99 at exactly
    that lag; the rest are independent noise (correlation near 0)."""
    n_simple = int(round(simple_share * n_entities))
    simple = np.zeros(n_entities, dtype=bool)
    simple[rng.permutation(n_entities)[:n_simple]] = True
    lag = rng.integers(1, MAX_LAG + 1, size=n_entities)

    txn = 1000.0 + 200.0 * rng.standard_normal((n_entities, n_months))
    noise = 300.0 + 60.0 * rng.standard_normal((n_entities, n_months))
    t = np.arange(n_months)[None, :]
    src = np.clip(t - lag[:, None], 0, None)
    shifted = 0.3 * np.take_along_axis(txn, src, axis=1)
    shifted += 5.0 * rng.standard_normal((n_entities, n_months))
    rev = np.where(simple[:, None] & (t >= lag[:, None]), shifted, noise)

    codes = _codes("C", n_entities)
    key = np.repeat(codes, n_months)
    month = np.tile(_months(n_months), n_entities)
    t1 = pa.table(
        {
            "cus_code": pa.array(key, pa.string()),
            "month": pa.array(month, pa.string()),
            "txn_amount": pa.array(_money(txn).ravel(), pa.float64()),
        }
    )
    t2 = pa.table(
        {
            "cus_code": pa.array(key, pa.string()),
            "month": pa.array(month, pa.string()),
            "revenue": pa.array(_money(rev).ravel(), pa.float64()),
        }
    )
    return t1, t2, SeriesTruth(codes, lag, simple, n_months)


def route_counts_for(n_entities: int) -> dict[str, int]:
    """Exact per-route entity counts for ``ROUTE_SHARES`` (dtw takes the
    rounding remainder)."""
    counts = {r: int(round(s * n_entities)) for r, s in ROUTE_SHARES.items() if r != "dtw"}
    counts["dtw"] = n_entities - sum(counts.values())
    return counts


def recommendations_table(
    rng: np.random.Generator, truth: SeriesTruth
) -> tuple[pa.Table, dict[str, int]]:
    """Saved per-entity recommendations (``cus_code, recommended_method,
    optimal_lag``). Entities routed to ``default`` get no row at all —
    the pipeline's lag-1 fallback."""
    counts = route_counts_for(len(truth.codes))
    order = rng.permutation(len(truth.codes))
    routes = np.empty(len(truth.codes), dtype=object)
    start = 0
    for route in ("dtw", "correlation", "manual_review", "default"):
        routes[order[start : start + counts[route]]] = route
        start += counts[route]
    has_row = routes != "default"
    method = np.array([ROUTE_METHOD.get(r) for r in routes[has_row]], dtype=object)
    table = pa.table(
        {
            "cus_code": pa.array(truth.codes[has_row], pa.string()),
            "recommended_method": pa.array(method, pa.string()),
            "optimal_lag": pa.array(truth.lag[has_row], pa.int32()),
        }
    )
    return table, counts


# ---------------------------------------------------------------------------
# Corpus workload
# ---------------------------------------------------------------------------


@dataclass
class CorpusTruth:
    n_docs: int
    exact_ids: np.ndarray  # doc_ids that are byte copies of an earlier doc
    near_ids: np.ndarray  # doc_ids that are lightly edited copies
    contam_ids: np.ndarray  # doc_ids embedding a holdout item
    lowq_ids: np.ndarray  # doc_ids below the quality threshold


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(4, 10, size=size)
    chars = rng.integers(0, 26, size=(size, 9))
    words = {"".join(letters[chars[i, : lengths[i]]]) for i in range(size)}
    words -= set(STOPWORDS)
    # sorted before the shuffle so the set's iteration order never leaks
    words = np.array(sorted(words), dtype=object)
    rng.shuffle(words)
    return np.concatenate([np.array(STOPWORDS, dtype=object), words])


def corpus_tables(
    rng: np.random.Generator, n_docs: int, n_holdout: int = 200
) -> tuple[pa.Table, pa.Table, CorpusTruth]:
    """``docs (doc_id, text)`` and ``holdout (doc_id, text)``.

    Base documents draw 40-200 tokens from a Zipf(1.1) vocabulary whose
    top ranks are stopwords. Planted on top, each from a disjoint set of
    base sources: exact copies, near copies (1-15% of tokens replaced),
    docs embedding a holdout item (holdout items use only rare words, so
    unplanted docs never reach the containment threshold), and short
    stopword-free docs that score below the quality threshold."""
    vocab = _vocab(rng, 20000)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks**-1.1
    p /= p.sum()

    n_plant = {k: int(round(s * n_docs)) for k, s in CORPUS_SHARES.items()}
    n_base = n_docs - n_plant["exact"] - n_plant["near"] - n_plant["contam"]
    n_lowq = n_plant["lowq"]
    n_normal = n_base - n_lowq

    lengths = rng.integers(40, 201, size=n_normal)
    flat = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs: list[list[str]] = [
        list(vocab[flat[bounds[i] : bounds[i + 1]]]) for i in range(n_normal)
    ]
    content = np.arange(len(STOPWORDS), len(vocab))
    for n_tok in rng.integers(3, 9, size=n_lowq):
        docs.append(list(vocab[rng.choice(content, size=n_tok)]))

    rare = np.arange(1000, len(vocab))
    holdout = [
        list(vocab[rng.choice(rare, size=n_tok)])
        for n_tok in rng.integers(20, 41, size=n_holdout)
    ]

    # disjoint sources among the normal base docs for each planted kind
    sources = rng.permutation(n_normal)
    s_exact = sources[: n_plant["exact"]]
    s_near = sources[n_plant["exact"] : n_plant["exact"] + n_plant["near"]]
    s_contam = sources[
        n_plant["exact"] + n_plant["near"] : n_plant["exact"] + n_plant["near"] + n_plant["contam"]
    ]
    for s in s_exact:
        docs.append(list(docs[s]))
    for s in s_near:
        toks = list(docs[s])
        k = max(1, int(round(rng.uniform(0.01, 0.15) * len(toks))))
        for pos in rng.choice(len(toks), size=k, replace=False):
            toks[pos] = vocab[rng.integers(len(STOPWORDS), len(vocab))]
        docs.append(toks)
    for s in s_contam:
        toks = list(docs[s])
        cut = int(rng.integers(0, len(toks)))
        docs.append(toks[:cut] + holdout[int(rng.integers(n_holdout))] + toks[cut:])

    start = n_base
    exact_ids = np.arange(start, start + n_plant["exact"])
    near_start = start + n_plant["exact"]
    near_ids = np.arange(near_start, near_start + n_plant["near"])
    contam_start = near_start + n_plant["near"]
    contam_ids = np.arange(contam_start, contam_start + n_plant["contam"])
    lowq_ids = np.arange(n_normal, n_base)

    docs_t = pa.table(
        {
            "doc_id": pa.array(np.arange(len(docs)), pa.int64()),
            "text": pa.array([" ".join(d) for d in docs], pa.string()),
        }
    )
    holdout_t = pa.table(
        {
            "doc_id": pa.array(np.arange(n_holdout), pa.int64()),
            "text": pa.array([" ".join(h) for h in holdout], pa.string()),
        }
    )
    truth = CorpusTruth(len(docs), exact_ids, near_ids, contam_ids, lowq_ids)
    return docs_t, holdout_t, truth


# ---------------------------------------------------------------------------
# Per-workload inputs
# ---------------------------------------------------------------------------

#: Input sizes per workload. ``bench`` is what the timed and traced runs
#: use; ``smoke`` is the tiny size of the self-check.
SIZES = {
    "close_corr": {"bench": {"entities": 1500, "months": 24}, "smoke": {"entities": 60, "months": 24}},
    "routed_dtw": {"bench": {"entities": 2000, "months": 48}, "smoke": {"entities": 40, "months": 30}},
    "corpus_clean": {"bench": {"docs": 1000}, "smoke": {"docs": 300}},
}
#: workloads whose operation runs several parts, each with its own inputs
COMPOSITE = {"mapping_close": ("close_corr", "routed_dtw")}
SIMPLE_SHARE = 0.9


@dataclass
class Inputs:
    paths: dict[str, str]  # logical table name -> parquet path
    rows: int  # input rows one operation reads (both series tables, or docs)
    truth: SeriesTruth | CorpusTruth | None
    route_counts: dict[str, int] | None = None
    parts: dict[str, "Inputs"] | None = None


def generate(workload: str, seed: int, out_dir: str, size: str = "bench") -> Inputs:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``."""
    if workload in COMPOSITE:
        parts = {
            p: generate(p, seed, os.path.join(out_dir, p), size) for p in COMPOSITE[workload]
        }
        return Inputs({}, sum(p.rows for p in parts.values()), None, parts=parts)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    dims = SIZES[workload][size]
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    if workload == "corpus_clean":
        docs, holdout, truth = corpus_tables(rng, dims["docs"])
        for name, table in (("docs", docs), ("holdout", holdout)):
            paths[name] = os.path.join(out_dir, f"{name}.parquet")
            _write(table, paths[name])
        return Inputs(paths, docs.num_rows, truth)

    share = SIMPLE_SHARE if workload == "close_corr" else 1.0
    t1, t2, truth = series_tables(rng, dims["entities"], dims["months"], share)
    tables = {"table1": t1, "table2": t2}
    counts = None
    if workload == "routed_dtw":
        tables["recommendations"], counts = recommendations_table(rng, truth)
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(table, paths[name])
    return Inputs(paths, t1.num_rows + t2.num_rows, truth, counts)
