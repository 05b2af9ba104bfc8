from __future__ import annotations

import sys

import duckdb
import pytest
from pyspark.sql import functions as F

from mapping_timeseries_spark.operators.packing import (
    concat_pack_spans,
    pack_greedy_ffd,
    pack_manifest,
    packing_stats,
)

sys.path.insert(0, "/root/repo")
from tools.compare_oracle import frame_hash  # noqa: E402

BUDGET = 200


@pytest.fixture(scope="module")
def docs(spark):
    # token counts spanning: zero, tiny, mid, exactly-budget, oversize
    # (generator range [0, 172] stays under BUDGET so only the planted
    # doc 202 is oversize)
    rows = [(i, (i * 37) % 173) for i in range(200)]
    rows += [(200, 0), (201, BUDGET), (202, 3 * BUDGET + 5)]
    return spark.createDataFrame(rows, "doc_id long, tokens long")


@pytest.fixture(scope="module")
def spans(docs):
    return concat_pack_spans(docs, "doc_id", "tokens", BUDGET).cache()


def test_concat_offsets_tile_exactly(docs, spans):
    """Exact tiling at the session's partition count and at 1 and 7
    range partitions: the offsets must not depend on the layout."""
    layouts = [spans] + [
        concat_pack_spans(docs, "doc_id", "tokens", BUDGET, num_partitions=p)
        for p in (1, 7)
    ]
    for frame in layouts:
        pdf = frame.orderBy("tok_start").toPandas()
        total = pdf["tokens"].sum()
        # offsets are an exact exclusive/inclusive tiling of [0, total)
        assert pdf["tok_start"].iloc[0] == 0
        assert pdf["tok_end"].iloc[-1] == total
        assert (pdf["tok_end"] - pdf["tok_start"] == pdf["tokens"]).all()
        assert (pdf["tok_start"].values[1:] == pdf["tok_end"].values[:-1]).all()
        # span arithmetic
        nonzero = pdf[pdf["tokens"] > 0]
        assert (nonzero["pack_first"] == nonzero["tok_start"] // BUDGET).all()
        assert (nonzero["pack_last"] == (nonzero["tok_end"] - 1) // BUDGET).all()


def test_concat_matches_duckdb_twin(spark, docs, spans):
    """The distributed two-phase cumsum equals the single-window SQL the
    whole design promises (same md5 order key, same integer arithmetic) —
    the same gate the driver applies, run locally."""
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    oracle = con.sql(
        f"""
        WITH h AS (
          SELECT doc_id, tokens,
                 CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS BIGINT) AS hk
          FROM docs
        ), c AS (
          SELECT doc_id, tokens,
                 CAST(SUM(tokens) OVER (ORDER BY hk, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tok_end
          FROM h
        )
        SELECT doc_id, tokens, tok_end - tokens AS tok_start, tok_end,
               CAST(floor((tok_end - tokens) / {BUDGET}) AS BIGINT) AS pack_first,
               CAST(greatest(floor((tok_end - tokens) / {BUDGET}),
                             floor((tok_end - 1) / {BUDGET})) AS BIGINT) AS pack_last,
               CAST(greatest(floor((tok_end - 1) / {BUDGET}), floor((tok_end - tokens) / {BUDGET}))
                    - floor((tok_end - tokens) / {BUDGET}) + 1 AS INT) AS n_packs
        FROM c
        """
    ).df()
    assert frame_hash(spans.toPandas()) == frame_hash(oracle)


def test_concat_repartition_stable(spark, docs, spans):
    """The pack layout is a pure function of keys: reshaping the input
    into different partitions must not move a single token."""
    again = concat_pack_spans(
        docs.repartition(7), "doc_id", "tokens", BUDGET, num_partitions=3
    )
    assert frame_hash(again.toPandas()) == frame_hash(spans.toPandas())


def test_manifest_tiles_every_pack(spans):
    m = pack_manifest(spans, "doc_id", BUDGET).toPandas()
    total = spans.agg(F.max("tok_end")).first()[0]
    n_full_packs = total // BUDGET
    per_pack = m.groupby("pack_id")["len_in_pack"].sum()
    # every full pack holds exactly BUDGET tokens; the tail holds the rest
    for pack_id, fill in per_pack.items():
        expected = BUDGET if pack_id < n_full_packs else total % BUDGET
        assert fill == expected, (pack_id, fill)
    # slices within a pack are disjoint and start at offsets inside budget
    assert (m["start_in_pack"] >= 0).all()
    assert (m["start_in_pack"] + m["len_in_pack"] <= BUDGET).all()
    # per document the slices reassemble the document
    per_doc = m.groupby("doc_id")["len_in_pack"].sum()
    docs_tok = spans.where(F.col("tokens") > 0).toPandas().set_index("doc_id")["tokens"]
    assert per_doc.to_dict() == docs_tok.to_dict()


def test_ffd_respects_budget_and_covers(docs):
    packed = pack_greedy_ffd(docs, "doc_id", "tokens", BUDGET, n_shards=8).cache()
    pdf = packed.toPandas()
    assert len(pdf) == docs.count()
    assert set(pdf["key"].astype(int)) == set(range(203))
    fills = pdf.groupby(["shard", "bin_id"]).agg(
        fill=("tokens", "sum"), over=("oversize", "max")
    )
    assert (fills.loc[~fills["over"], "fill"] <= BUDGET).all()
    # oversize doc isolated in its own flagged bin
    over_rows = pdf[pdf["oversize"]]
    assert list(over_rows["key"].astype(int)) == [202]
    over_bin = fills[fills["over"]]
    assert len(over_bin) == 1 and over_bin["fill"].iloc[0] == 3 * BUDGET + 5

    # FFD quality: within 11/9 OPT + 1 per shard => check global bound loosely
    per_shard_tok = pdf[~pdf["oversize"]].groupby("shard")["tokens"].sum()
    lower = sum(-(-t // BUDGET) for t in per_shard_tok)  # ceil per shard
    n_bins = len(fills[~fills["over"]])
    assert n_bins <= (11 * lower) // 9 + 8  # +1 slack per shard

    stats = packing_stats(packed, BUDGET).first()
    assert stats.n_bins == len(fills)
    assert stats.total_tokens == pdf["tokens"].sum()
    assert 0 <= stats.waste_frac < 0.5
    packed.unpersist()


def test_packing_stats_empty_frame_reads_zero(spark):
    """r4 advice: SUM over zero rows is NULL, so an empty shard set made
    the owner's waste gauge read null. Must read 0s instead."""
    empty = spark.createDataFrame([], "doc_id long, tokens long")
    packed = pack_greedy_ffd(empty, "doc_id", "tokens", BUDGET, n_shards=4)
    stats = packing_stats(packed, BUDGET).first()
    assert stats.n_bins == 0
    assert stats.total_tokens == 0
    assert stats.padded_capacity == 0
    assert stats.oversize_bins == 0
    assert stats.waste_frac == 0.0


def test_ffd_deterministic_across_layouts(spark, docs):
    a = pack_greedy_ffd(docs, "doc_id", "tokens", BUDGET, n_shards=8)
    b = pack_greedy_ffd(
        docs.repartition(11), "doc_id", "tokens", BUDGET, n_shards=8
    )
    assert frame_hash(a.toPandas()) == frame_hash(b.toPandas())


def test_ffd_tree_matches_naive_linear_scan(spark):
    """The segment-tree first-fit must place every doc in EXACTLY the
    bin the textbook linear scan picks — same ids, not just same
    invariants. Random token mixes incl. zeros, budget-size, oversize."""
    import numpy as np

    rng = np.random.default_rng(23)
    toks = list(rng.integers(0, BUDGET + 1, 400)) + [0, 0, BUDGET, 3 * BUDGET]
    rows = [(i, int(t)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, tokens long")
    for n_shards in (4, 1):  # n_shards=1 forces zeros + oversize together
        _assert_ffd_matches_naive(spark, df, rows, n_shards)

    # the regression case the shard hash can hide: an OVERSIZE doc opens
    # bin 0, zero-token docs must SKIP it (fill > budget) exactly like
    # the linear scan, landing in the first REGULAR bin
    edge = [(0, 3 * BUDGET), (1, 5), (2, 0), (3, 0)]
    edge_df = spark.createDataFrame(edge, "doc_id long, tokens long")
    _assert_ffd_matches_naive(spark, edge_df, edge, 1)
    placed = {
        int(r["key"]): (r["bin_id"], r["oversize"])
        for r in pack_greedy_ffd(edge_df, "doc_id", "tokens", BUDGET, n_shards=1).collect()
    }
    assert placed[0] == (0, True)
    assert placed[1] == (1, False)
    assert placed[2] == (1, False) and placed[3] == (1, False)


def _assert_ffd_matches_naive(spark, df, rows, n_shards):
    got = {
        (r["shard"], r["key"]): r["bin_id"]
        for r in pack_greedy_ffd(
            df, "doc_id", "tokens", BUDGET, n_shards=n_shards
        ).collect()
    }

    # naive reference per shard (same order: tokens desc, key asc)
    from mapping_timeseries_spark.functions.text import portable_hash64
    from pyspark.sql import functions as F

    shard_of = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id",
            (portable_hash64(F.concat(F.lit("ffdpack:"), F.col("doc_id").cast("string"))) % n_shards)
            .cast("int")
            .alias("s"),
        ).collect()
    }
    by_shard: dict[int, list] = {}
    for doc_id, t in rows:
        by_shard.setdefault(shard_of[doc_id], []).append((t, str(doc_id)))
    for shard, items in by_shard.items():
        items.sort(key=lambda p: (-p[0], p[1]))
        fills: list[int] = []
        for t, key in items:
            if t > BUDGET:
                want = len(fills)
                fills.append(t)
            else:
                for i, fill in enumerate(fills):
                    if fill + t <= BUDGET:
                        fills[i] = fill + t
                        want = i
                        break
                else:
                    want = len(fills)
                    fills.append(t)
            assert got[(shard, key)] == want, (shard, key, t)


def test_budget_validation(docs):
    with pytest.raises(ValueError):
        concat_pack_spans(docs, "doc_id", "tokens", 0)
    with pytest.raises(ValueError):
        pack_greedy_ffd(docs, "doc_id", "tokens", -5)
    with pytest.raises(ValueError):
        pack_greedy_ffd(docs, "doc_id", "tokens", 10, n_shards=0)
