"""Local stand-in for the driver's correctness gate.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value hash (rows sorted, columns sorted by name,
values stringified with float canonicalization).

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
       python tools/compare_oracle.py --json OUT.json [sf_dir] [query ...]

``--json`` additionally writes a driver-style CORRECTNESS JSON (one
object per query with rows_match/schema_match/hash_match/spark_rows/
oracle_rows/err) so off-driver scale runs (sf0.1, stress corpora)
produce committable evidence in the same shape the driver records.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # 17 significant digits: round-trips a double exactly. 10g
        # masked genuine 6th-decimal divergences on money-magnitude
        # values (>= 1e4 loses decimals) — the gated queries are
        # integer-arithmetic-portable, so bitwise-equal doubles is the
        # correct bar, not "close enough at 10 digits".
        return f"{v:.17g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    import hashlib

    cols = sorted(df.columns)
    rows = sorted(
        ",".join(canon(row[c]) for c in cols) for _, row in df.iterrows()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def register_tables(con, sf_dir: str) -> None:
    """One DuckDB view per engine table under ``sf_dir``."""
    from mapping_timeseries_spark.sources.readers import TPCH_TABLES

    for t in TPCH_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # the sf testdata is one file per table; Spark-written corpora
        # (e.g. the scale-stress replicas) are directories of part files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")


def compare_query(spark, con, sf_dir: str, name: str) -> dict:
    """Run registry entry ``name`` on ``spark`` and its oracle twin on
    ``con`` (a DuckDB connection holding :func:`register_tables`' views)
    and return the result record: rows_match / schema_match /
    hash_match / spark_rows / oracle_rows / err. An entry without an
    oracle gets the rows-only record. Prints one status line, plus up
    to three rows from each side when only the value hash differs."""
    import __spark_entry__ as entry_mod
    from mapping_timeseries_spark.materialize import dedup_cache_scope

    t0 = time.time()
    try:
        # release every pin and checkpoint the query build registers, so
        # 50 back-to-back queries don't accumulate materialized frames
        # for the session lifetime
        with dedup_cache_scope():
            sdf = entry_mod.queries()[name](spark, sf_dir).toPandas()
    except Exception as exc:  # noqa: BLE001 — recorded, not swallowed
        print(f"{name}: ERROR {exc}")
        return {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": None,
            "oracle_rows": None, "err": f"{type(exc).__name__}: {exc}",
        }
    t_spark = time.time() - t0
    oracles = entry_mod.oracle_sql()
    if name not in oracles:
        print(f"{name}: rows-only check, {len(sdf)} rows ({t_spark:.1f}s)")
        return {
            "rows_match": len(sdf) >= 0, "schema_match": None,
            "hash_match": None, "spark_rows": len(sdf),
            "oracle_rows": None, "err": None, "note": "rows-only",
        }
    ddf = con.execute(oracles[name]).df()
    ok_rows = len(sdf) == len(ddf)
    ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
    h1, h2 = frame_hash(sdf), frame_hash(ddf)
    ok_hash = h1 == h2
    status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
    print(
        f"{name}: {status} rows {len(sdf)}/{len(ddf)} "
        f"cols={'ok' if ok_cols else sorted(sdf.columns)+sorted(ddf.columns)} "
        f"hash {h1}/{h2} ({t_spark:.1f}s)"
    )
    if not ok_hash and ok_rows and ok_cols:
        cols = sorted(sdf.columns)
        a = sdf[cols].copy()
        b = ddf[cols].copy()
        a["__h"] = [",".join(canon(v) for v in r) for r in a.itertuples(index=False)]
        b["__h"] = [",".join(canon(v) for v in r) for r in b.itertuples(index=False)]
        only_a = set(a["__h"]) - set(b["__h"])
        only_b = set(b["__h"]) - set(a["__h"])
        for x in list(only_a)[:3]:
            print("  spark-only:", x)
        for x in list(only_b)[:3]:
            print("  duck-only: ", x)
    return {
        "rows_match": ok_rows, "schema_match": ok_cols,
        "hash_match": ok_hash, "spark_rows": len(sdf),
        "oracle_rows": len(ddf), "err": None,
        "spark_sec": round(t_spark, 2),
    }


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod
    from mapping_timeseries_spark.session import get_spark

    # 16g driver: the comparison toPandas()-es both sides, and the 10x
    # stress corpus OOM-killed the JVM at the 1g default mid-sweep.
    # SPARK_GRAFT_ORACLE_CPUS / _PARTITIONS: run the same gate under an
    # adversarial layout (odd core/partition counts) — a hash that
    # changes with layout is a portability bug, and the default-layout
    # sweep cannot see it.
    cpus = os.environ.get("SPARK_GRAFT_ORACLE_CPUS", "*")
    parts = int(os.environ.get("SPARK_GRAFT_ORACLE_PARTITIONS", "32"))
    spark = get_spark(
        "oracle-compare",
        master=f"local[{cpus}]",
        shuffle_partitions=parts,
        extra_conf={"spark.driver.memory": "16g"},
    )
    con = duckdb.connect()
    register_tables(con, sf_dir)

    qs = entry_mod.queries()
    unknown = only - set(qs)
    if unknown:  # a typo must not pass as a zero-comparison "success"
        print(f"unknown queries: {sorted(unknown)}; known: {sorted(qs)}")
        return 2
    results = {
        name: compare_query(spark, con, sf_dir, name)
        for name in qs
        if not only or name in only
    }
    failures = sum(
        1
        for r in results.values()
        if not r["rows_match"] or r["schema_match"] is False
        or r["hash_match"] is False
    )
    spark.stop()
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "results": results}, fh, indent=2)
        print(f"wrote {json_out} ({len(results)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
