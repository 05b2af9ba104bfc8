"""The benchmark workloads: one operation each, and its output check.

An operation drives the engine's public API from its generated parquet
inputs to its sinks, exactly as a batch user would. The checks read the
sinks back with pyarrow (not with the engine under test) after the timed
window, so checking costs no window time.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from gen import CorpusTruth, Inputs, SeriesTruth

# columns of the mapping sink that change on every run by design
VOLATILE_COLS = ("processed_at", "pipeline_run_id")
SERIES_COLS = ("cus_code", "month", "txn_amount", "revenue")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _digest(df: pd.DataFrame) -> int:
    """Order-insensitive content digest: sum of per-row hashes mod 2**64."""
    df = df[sorted(df.columns)]
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return int(np.add.reduce(rows, dtype=np.uint64))


def _read_mappings(path: str) -> pd.DataFrame:
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    df = table.to_pandas()
    df["time1"] = df["time1"].astype(str)
    return df.drop(columns=[c for c in VOLATILE_COLS if c in df.columns])


class Workload:
    """One operation = ``run(out_dir)``; ``check`` validates what that
    operation left in ``out_dir`` against the generator's ground truth
    and against the first operation of the run (``reference``)."""

    name: str

    def __init__(self, spark, inputs: Inputs):
        self.spark = spark
        self.inputs = inputs

    def run(self, out_dir: str) -> dict:
        raise NotImplementedError

    def check(self, out_dir: str, record: dict, reference: dict | None) -> list[str]:
        raise NotImplementedError


def _read_series(spark, paths: dict[str, str]):
    return spark.read.parquet(paths["table1"]), spark.read.parquet(paths["table2"])


class CloseCorr(Workload):
    """Inline-trained correlation close: QA-gated versioned publish plus
    the month-partitioned mappings sink."""

    name = "close_corr"

    def run(self, out_dir: str) -> dict:
        from mapping_timeseries_spark.config import MappingConfig
        from mapping_timeseries_spark.plans.pipeline import run_pipeline

        t1, t2 = _read_series(self.spark, self.inputs.paths)
        res = run_pipeline(
            self.spark, t1, t2, None, *SERIES_COLS,
            output_path=os.path.join(out_dir, "sink"),
            config=MappingConfig(method="correlation"),
            versioned_root=os.path.join(out_dir, "versioned"),
        )
        return {
            "qa_passed": res.qa["passed"],
            "written_version": res.stats["written_version"],
            "published_version": res.stats["published_version"],
            "total_mappings": res.stats["total_mappings"],
        }

    def check(self, out_dir, record, reference):
        truth: SeriesTruth = self.inputs.truth
        errors = []
        if not record["qa_passed"]:
            errors.append("QA failed")
        if record["published_version"] != record["written_version"]:
            errors.append(
                f"version pointer {record['published_version']} != written "
                f"{record['written_version']}"
            )
        df = _read_mappings(os.path.join(out_dir, "sink", "mappings"))
        record["rows"] = len(df)
        record["digest"] = _digest(df)
        per_entity = df.groupby("cus_code")["lag_offset"].agg(["min", "max", "size"])
        simple = pd.DataFrame(
            {"lag": truth.lag[truth.simple]}, index=truth.codes[truth.simple]
        ).join(per_entity)
        want_rows = truth.n_months - simple["lag"]
        bad = simple[
            (simple["min"] != simple["lag"])
            | (simple["max"] != simple["lag"])
            | (simple["size"] != want_rows)
        ]
        if len(bad):
            errors.append(f"{len(bad)} simple entities lost their planted lag")
        if record["total_mappings"] != len(df):
            errors.append(f"sink holds {len(df)} rows, pipeline counted {record['total_mappings']}")
        if reference is not None and (record["rows"], record["digest"]) != (
            reference["rows"], reference["digest"]
        ):
            errors.append("mapping digest differs from the run's first operation")
        return errors


class RoutedDtw(Workload):
    """Production close over a saved recommendations table: mostly DTW
    routes, some correlation, manual review and fallback."""

    name = "routed_dtw"

    def run(self, out_dir: str) -> dict:
        from mapping_timeseries_spark.plans.pipeline import run_pipeline

        t1, t2 = _read_series(self.spark, self.inputs.paths)
        rec = self.spark.read.parquet(self.inputs.paths["recommendations"])
        res = run_pipeline(
            self.spark, t1, t2, rec, *SERIES_COLS,
            output_path=os.path.join(out_dir, "sink"),
        )
        return {
            "qa_passed": res.qa["passed"],
            "route_counts": res.stats["route_counts"],
            "total_mappings": res.stats["total_mappings"],
        }

    def check(self, out_dir, record, reference):
        truth: SeriesTruth = self.inputs.truth
        errors = []
        want = {r: n for r, n in self.inputs.route_counts.items() if n}
        if record["route_counts"] != want:
            errors.append(f"route_counts {record['route_counts']} != generated {want}")
        df = _read_mappings(os.path.join(out_dir, "sink", "mappings"))
        record["rows"] = len(df)
        record["digest"] = _digest(df)
        lag = pd.Series(truth.lag, index=truth.codes)
        corr = df[df["method"] == "correlation"]
        if (corr["lag_offset"].to_numpy() != lag.loc[corr["cus_code"]].to_numpy()).any():
            errors.append("correlation-routed rows ignore the recommended lag")
        if (df.loc[df["method"] == "correlation_default", "lag_offset"] != 1).any():
            errors.append("fallback rows are not at lag 1")
        n_dtw = df.loc[df["method"] == "dtw", "cus_code"].nunique()
        if n_dtw != self.inputs.route_counts["dtw"]:
            errors.append(f"{n_dtw} DTW entities mapped, {self.inputs.route_counts['dtw']} routed")
        if record["total_mappings"] != len(df):
            errors.append(f"sink holds {len(df)} rows, pipeline counted {record['total_mappings']}")
        if reference is not None and (record["rows"], record["digest"]) != (
            reference["rows"], reference["digest"]
        ):
            errors.append("mapping digest differs from the run's first operation")
        return errors


class CorpusClean(Workload):
    """LLM-corpus cleaning pipeline with default stages, then an exact
    near-duplicate audit of the exported shards."""

    name = "corpus_clean"

    def run(self, out_dir: str) -> dict:
        from mapping_timeseries_spark.operators.dedup import (
            dedup_cache_scope,
            ngram_jaccard_pairs,
        )
        from mapping_timeseries_spark.plans.corpus_pipeline import run_corpus_pipeline

        docs = self.spark.read.parquet(self.inputs.paths["docs"])
        holdout = self.spark.read.parquet(self.inputs.paths["holdout"])
        shards = os.path.join(out_dir, "shards")
        res = run_corpus_pipeline(docs, holdout, shards)
        with dedup_cache_scope():
            audit_pairs = ngram_jaccard_pairs(self.spark.read.parquet(shards), "text").count()
        return {"stats": dict(res.stats), "audit_pairs": audit_pairs}

    def check(self, out_dir, record, reference):
        from mapping_timeseries_spark.sources.writers import verify_shard_manifest

        truth: CorpusTruth = self.inputs.truth
        errors = []
        stats = record["stats"]
        shards = os.path.join(out_dir, "shards")
        try:
            manifest = verify_shard_manifest(self.spark, shards)
        except ValueError as exc:
            return [str(exc)]
        if stats["n_retained"] != manifest["n_total"]:
            errors.append(f"n_retained {stats['n_retained']} != manifest rows {manifest['n_total']}")
        if stats["n_pass_exact"] != truth.n_docs - len(truth.exact_ids):
            errors.append(
                f"exact stage kept {stats['n_pass_exact']} docs, expected "
                f"{truth.n_docs - len(truth.exact_ids)}"
            )
        kept = ds.dataset(shards, format="parquet", partitioning="hive").to_table(
            columns=["doc_id"]
        )["doc_id"].to_numpy()
        leaked = np.intersect1d(kept, truth.exact_ids)
        if len(leaked):
            errors.append(f"{len(leaked)} planted exact duplicates were exported")
        if reference is not None and record["audit_pairs"] != reference["audit_pairs"]:
            errors.append(
                f"audit found {record['audit_pairs']} pairs, first operation "
                f"found {reference['audit_pairs']}"
            )
        return errors


class MappingClose(Workload):
    """Both batch closes of the mapping engine in one operation: the
    inline-trained correlation close over many short series, then the
    routed production close over fewer long series."""

    name = "mapping_close"

    def __init__(self, spark, inputs: Inputs):
        super().__init__(spark, inputs)
        self.parts = [CloseCorr(spark, inputs.parts["close_corr"]), RoutedDtw(spark, inputs.parts["routed_dtw"])]

    def run(self, out_dir):
        return {p.name: p.run(os.path.join(out_dir, p.name)) for p in self.parts}

    def check(self, out_dir, record, reference):
        errors = []
        for p in self.parts:
            ref = None if reference is None else reference[p.name]
            errors += [f"{p.name}: {e}" for e in p.check(os.path.join(out_dir, p.name), record[p.name], ref)]
        return errors


WORKLOADS = {w.name: w for w in (MappingClose, CorpusClean)}
