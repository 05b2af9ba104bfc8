"""bench.py's contract with its readers, checked without a SparkSession.

- Every ``bench.<attr>`` and ``from bench import X`` in tools/*.py must
  resolve on the module, so removing a bench instrument cannot silently
  break a gate or stress script that still imports it.
- Every name tools/*.py and perfbench/*.py take from the engine package
  must resolve too, so moving a helper cannot break a gate script or
  the benchmark.
- The leg table must time the same legs, in the same order, with the
  same reps, build-timed set and control set as the pinned list below,
  and every leg must name a real builder in ``__spark_entry__``.
"""

import ast
import glob
import importlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

#: The bench legs in run order (31 headline legs plus 2 controls).
PINNED_LEGS = [
    "merged_series",
    "corr_best_lag",
    "corr_mapping",
    "dtw_summary",
    "dtw_mapping",
    "auto_mapping",
    "qa_invariants",
    "sessionization",
    "tumbling_window",
    "exact_dedup",
    "minhash_dedup",
    "minhash_incr",
    "ngram_jaccard",
    "text_stats",
    "cosine_topk",
    "ann_topk",
    "ivf_topk",
    "ivf_topk_indexed",
    "bm25_topk",
    "embedding_near_dups",
    "semantic_decontam",
    "diversity_profile",
    "normalize_text",
    "gopher_repetition",
    "dsir_select",
    "skew_agg_plain",
    "salted_agg",
    "skew_median_buffered",
    "skew_median_hist",
    "pack_export",
    "pack_ffd",
    "bpe_train",
    "unigram_train",
]

#: Legs that keep a registry name but time a different builder than the
#: registry entry of that name.
BENCH_VARIANTS = {
    "ann_topk": "q_ann_lsh",
    "ivf_topk": "q_ivf_assign",
    "text_stats": "q_text_stats_core",
    "minhash_dedup": "q_minhash_full",
    "embedding_near_dups": "q_emb_neardup_pairs",
}


def _bench_uses(path: str) -> set:
    """Names a tool reads off the bench module: ``bench.X`` attribute
    accesses and ``from bench import X`` imports."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    used = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "bench"
        ):
            used.add(node.attr)
        elif isinstance(node, ast.ImportFrom) and node.module == "bench":
            used.update(alias.name for alias in node.names)
    return used


def test_tools_bench_references_resolve():
    seen = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))):
        for name in _bench_uses(path):
            seen.setdefault(name, []).append(os.path.basename(path))
    # the scan must see the gate scripts' shared imports, or it is
    # scanning nothing
    assert {"box_calibration", "time_query"} <= set(seen)
    missing = {n: tools for n, tools in seen.items() if not hasattr(bench, n)}
    assert missing == {}


def test_bench_uses_scan_catches_both_forms(tmp_path):
    p = tmp_path / "tool.py"
    p.write_text(
        "import bench\n"
        "from bench import box_calibration, gone_helper\n"
        "bench.time_query(None, None, '', 1)\n"
        "x = bench.NOT_THERE\n"
    )
    used = _bench_uses(str(p))
    assert used == {
        "box_calibration",
        "gone_helper",
        "time_query",
        "NOT_THERE",
    }
    assert {n for n in used if not hasattr(bench, n)} == {
        "gone_helper",
        "NOT_THERE",
    }


PACKAGE = "mapping_timeseries_spark"


def _package_uses(path: str) -> set:
    """``(module, name)`` pairs a script reads off the engine package:
    ``from mapping_timeseries_spark.m import X`` gives ``(m, X)``, and a
    module bound to a name (``from mapping_timeseries_spark.ops import
    dedup as D``, ``import mapping_timeseries_spark.m as D``) gives one
    pair per ``D.X``. A name that is not a module binds no attributes
    (see :func:`_unresolved`)."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    bound = {}
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PACKAGE or str(node.module).startswith(PACKAGE + ".")
        ):
            for alias in node.names:
                used.add((node.module, alias.name))
                bound[alias.asname or alias.name] = f"{node.module}.{alias.name}"
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname and alias.name.startswith(PACKAGE + "."):
                    bound[alias.asname] = alias.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
        ):
            used.add((bound[node.value.id], node.attr))
    return used


def _unresolved(uses: set) -> set:
    """The pairs whose module imports but lacks the name (as attribute
    or submodule), or whose module does not import. A pair whose
    "module" is a function or class, from ``from m import f`` then
    ``f.x``, is skipped: only modules bind names here."""
    missing = set()
    for module, name in uses:
        try:
            mod = importlib.import_module(module)
        except ModuleNotFoundError:
            parent, _, leaf = module.rpartition(".")
            try:
                if hasattr(importlib.import_module(parent), leaf):
                    continue
            except ModuleNotFoundError:
                pass
            missing.add((module, name))
            continue
        if hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.add((module, name))
    return missing


def test_tools_and_perfbench_package_references_resolve():
    seen = {}
    scripts = glob.glob(os.path.join(ROOT, "tools", "*.py")) + glob.glob(
        os.path.join(ROOT, "perfbench", "*.py")
    )
    for path in sorted(scripts):
        for use in _package_uses(path):
            seen.setdefault(use, []).append(os.path.relpath(path, ROOT))
    # the scan must see both import forms the benchmark uses, or it is
    # scanning nothing
    assert {
        (f"{PACKAGE}.operators.dedup", "dedup_cache_scope"),
        (f"{PACKAGE}.operators.dedup", "_band_frame"),
        (f"{PACKAGE}.materialize", "scoped_pin"),
    } <= set(seen)
    missing = {use: seen[use] for use in _unresolved(set(seen))}
    assert missing == {}


def test_package_uses_scan_catches_both_forms(tmp_path):
    p = tmp_path / "tool.py"
    p.write_text(
        "from mapping_timeseries_spark.operators.dedup import _shingled, gone\n"
        "from mapping_timeseries_spark.operators import dedup as D\n"
        "import mapping_timeseries_spark.materialize as M\n"
        "D._band_frame(None, 1, 1)\n"
        "M.scoped_pin(D.NOT_THERE)\n"
        "from mapping_timeseries_spark.gone_module import helper\n"
        "_shingled.__name__\n"
    )
    used = _package_uses(str(p))
    dedup = f"{PACKAGE}.operators.dedup"
    assert used == {
        (dedup, "_shingled"),
        (dedup, "gone"),
        (f"{PACKAGE}.operators", "dedup"),
        (dedup, "_band_frame"),
        (dedup, "NOT_THERE"),
        (f"{PACKAGE}.materialize", "scoped_pin"),
        (f"{PACKAGE}.gone_module", "helper"),
        (f"{dedup}._shingled", "__name__"),
    }
    assert _unresolved(used) == {
        (dedup, "gone"),
        (dedup, "NOT_THERE"),
        (f"{PACKAGE}.gone_module", "helper"),
    }


def test_leg_table_matches_pinned_legs():
    assert [leg.name for leg in bench.LEGS] == PINNED_LEGS
    assert {
        leg.name: leg.reps for leg in bench.LEGS if leg.reps != bench.N_REPS
    } == {"corr_best_lag": 8, "corr_mapping": 8}
    assert bench.N_REPS == 4
    assert {leg.name for leg in bench.LEGS if leg.build_timed} == {
        "bpe_train",
        "unigram_train",
    }
    assert {leg.name for leg in bench.LEGS if leg.control} == {
        "skew_agg_plain",
        "skew_median_buffered",
    }


def test_every_leg_names_an_entry_builder():
    import __spark_entry__ as entry_mod

    qs = bench.leg_queries()
    assert list(qs) == PINNED_LEGS
    for leg in bench.LEGS:
        assert callable(getattr(entry_mod, leg.fn, None)), leg
    registry = entry_mod.queries()
    variants = {
        name: leg_fn.__name__
        for name, leg_fn in qs.items()
        if name in registry and leg_fn is not registry[name]
    }
    assert variants == BENCH_VARIANTS
