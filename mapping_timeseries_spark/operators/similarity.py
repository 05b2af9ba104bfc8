"""Similarity search over embedding columns (SURVEY §2.11).

Brute-force cosine top-k is the exactness baseline; the bucketed ANN
variant (sign-LSH / IVF-style coarse quantization) is the scale path.

Scale design
------------
Brute force is a block-nested-loop: queries x corpus. With Q queries it is
Q*N similarity evaluations — fine when Q is small (broadcast the queries),
unusable for all-pairs. The ANN variant assigns each vector a coarse
bucket (hyperplane sign bits); a query only scans its own bucket, cutting
the candidate set by ~2^bits at the cost of recall near bucket borders
(multi-probe: flip one bit per probe). Both are pure JVM expressions
(zip_with dot products) — no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.index_store import IndexStore

__all__ = ["cosine", "with_unit_norm", "cosine_topk", "ann_bucketed_topk",
           "embedding_near_dups", "ivf_seed_centroids", "ivf_assign",
           "ivf_refine_centroids", "ivf_topk", "ivf_build_index",
           "ivf_topk_indexed", "ivf_index_append", "ivf_index_load",
           "ivf_index_compact", "semantic_dedup", "embedding_decontaminate",
           "diversity_profile",
]


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<numeric> columns (double math)."""
    ad, bd = _as_double(a), _as_double(b)
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def with_unit_norm(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize vectors so cosine becomes a plain dot product — at
    scale, normalize once at ingest and reuse across every query batch."""
    v = _as_double(F.col(vec_col))
    n = _norm(v)
    return embeddings.withColumn(
        "unit_vec", F.transform(v, lambda x: x / n)
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (brute force).

    ``queries``: (query_id, embedding). Self-matches (same id) excluded.
    Ranking uses the similarity rounded to ``round_to`` with vec_id as the
    tie-break, making result sets reproducible across engines (raw float
    ordering is ulp-fragile).
    """
    from ..sources.readers import ensure_parallel as _ensure_parallel

    # norms are per-ROW facts: project them before the join, or each of
    # the Q x N candidate pairs re-runs two O(d) interpreted array
    # aggregates that only depend on one side (same rounded similarity,
    # ~1/3 the expression work on the brute-force hot path)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    # the corpus is the streamed (map-side) relation: make sure its scan
    # is wide — a single local parquet file arrives as ONE partition and
    # serializes all Q x N similarity math on one core
    c = _ensure_parallel(embeddings).select(
        "vec_id", "label", _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    sim = F.col("__sim_raw") if round_to is None else F.round("__sim_raw", round_to)
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "__sim_raw",
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
        .withColumn("similarity", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "similarity", "rank")
    )


def _sign_bucket(vec: Column, bits: int) -> Column:
    """Coarse quantizer: sign bit of each of the first ``bits`` dimensions
    packed into an integer — an axis-aligned hyperplane LSH (deterministic,
    engine-portable; a learned-centroid IVF would replace this at scale)."""
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        bit = F.when(F.element_at(vec, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        out = out + bit.cast("bigint") * F.lit(2**i).cast("bigint")
    return out


def _probe_buckets(vec: Column, bits: int, nprobe: int) -> Column:
    """Multi-probe bucket list: the vector's own sign bucket first, then
    the ``nprobe - 1`` one-bit-flip neighbor buckets whose hyperplane
    margin ``|v[i]|`` is smallest — the borders most likely to hide true
    neighbors get probed first (standard multi-probe LSH probing order,
    cf. Lv et al., VLDB'07). Pure expression: per query this is a sort of
    ``bits`` structs, negligible next to the candidate scan."""
    own = _sign_bucket(vec, bits)
    if nprobe <= 1:
        return F.array(own)
    flips = F.array(
        *[
            F.struct(
                F.abs(F.element_at(vec, i + 1)).alias("margin"),
                own.bitwiseXOR(F.lit(2**i).cast("bigint")).alias("bucket"),
            )
            for i in range(bits)
        ]
    )
    near = F.slice(F.array_sort(flips), 1, nprobe - 1)
    return F.concat(F.array(own), F.transform(near, lambda s: s["bucket"]))


def ann_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 6,
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket plus ``nprobe - 1`` one-bit-flip probe buckets. Same output
    shape as :func:`cosine_topk`; recall < 1 by construction
    (bucket-border misses shrink as nprobe grows), measured against the
    exact operator in pytest. Scan cost scales ~linearly with nprobe; each
    candidate lives in exactly one bucket, so probed buckets are disjoint
    and no dedup is needed."""
    from ..sources.readers import ensure_parallel as _ensure_parallel

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv"))).withColumn(
        "bucket", F.explode(_probe_buckets(F.col("qv"), bits, nprobe))
    )
    # corpus side streams map-side against the broadcast query set — keep
    # its scan wide (single-file local input otherwise serializes on one
    # core; see cosine_topk); norms projected per row, not per pair
    c = _ensure_parallel(embeddings).select(
        "vec_id", "label", _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv"))).withColumn(
        "bucket", _sign_bucket(F.col("cv"), bits)
    )
    pairs = (
        F.broadcast(q)
        .join(c, on="bucket")
        .where(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "similarity",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "similarity", "rank")
    )


def _partial_sqdist(a: Column, b: Column, n_dims: int) -> Column:
    """Squared euclidean distance over the first ``n_dims`` coordinates —
    a monotone lower bound on the full squared distance."""
    return F.aggregate(
        F.zip_with(
            F.slice(a, 1, n_dims),
            F.slice(b, 1, n_dims),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = 4,
    vec_col: str = "embedding",
    prefilter_dims: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine >=
    threshold), bucketed by sign-LSH to avoid the full n^2 self-join.
    Near-dup vectors (cosine ~1) almost always share sign buckets, so
    recall loss at 0.95 is minimal; exactness requires multi-probe.

    Candidate pairs pass a partial-distance prefilter before the full
    dot product — the analogue of PPJoin's cheap filter stack for the
    metric case: on unit vectors ``cos >= t  <=>  ||a-b||^2 <= 2-2t``,
    and the squared distance over any coordinate prefix lower-bounds the
    full one, so ``partial_8 > 2-2t`` disqualifies a pair EXACTLY (no
    recall change; the bound gets a 1e-6 threshold slack to respect the
    6dp similarity rounding plus 1e-9 float-sum headroom). For random
    in-bucket pairs at t=0.95 the 8-dim bound prunes the vast majority,
    so the interpreted 64-dim aggregate runs only on genuine near-dup
    candidates — measured ~3x on the sf0.1 bench with an unchanged
    result hash.

    Parallelism: the probe side is repartitioned round-robin and the
    build side broadcast, so pair generation + filtering spread across
    all cores regardless of the source file layout and of the 2^bits
    join-key cardinality (a plain shuffle join on the bucket key caps
    parallelism at 2^bits tasks — at bits=4 that left a 32-core box 94%
    idle; a single-file local scan capped it at ONE). At corpus sizes
    where one side no longer broadcasts, drop the hint and raise
    ``bits`` so the bucket join itself fans wide."""
    from ..sources.readers import ensure_parallel as _ensure_parallel

    c = with_unit_norm(embeddings, vec_col).select(
        "vec_id", F.col("unit_vec").alias("v")
    ).withColumn("bucket", _sign_bucket(F.col("v"), bits))
    a = _ensure_parallel(c).alias("a")
    b = c.alias("b")
    bound = 2.0 - 2.0 * (threshold - 1e-6) + 1e-9
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            _partial_sqdist(F.col("a.v"), F.col("b.v"), prefilter_dims)
            <= F.lit(bound)
        )
        .withColumn(
            "similarity", F.round(_dot(F.col("a.v"), F.col("b.v")), 6)
        )
        .where(F.col("similarity") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "similarity",
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate search
# ---------------------------------------------------------------------------
#
# The second ANN family alongside sign-LSH: partition the corpus into nlist
# inverted lists by nearest coarse centroid; a query scans only its nprobe
# nearest lists. At scale the corpus is written partitioned/bucketed by
# centroid_id, so a probe is a partition-pruned scan; the centroid table
# (nlist rows) is always broadcast — the only shuffle in the whole index
# build is the one groupBy in Lloyd refinement.
#
# Seeding is deterministic (lowest-vec_id vectors = k-means with zero Lloyd
# iterations), which keeps the full pipeline reproducible across engines —
# the driver hash-compares ivf_topk against a DuckDB twin. Real deployments
# run ivf_refine_centroids (Lloyd steps as pure DataFrame ops) before
# freezing the index; refinement is pinned by pytest (recall vs brute force)
# rather than SQL, since iteration count is a tuning knob.


def ivf_seed_centroids(
    embeddings: DataFrame, nlist: int = 16, vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic coarse-quantizer seeds: the ``nlist`` lowest-vec_id
    vectors. vec_id order is uncorrelated with vector values, so this is a
    uniform sample of the corpus (k-means|| replaced by a reproducible
    choice). Output: (centroid_id, cv:array<double>)."""
    return (
        embeddings.orderBy("vec_id")
        .limit(nlist)
        .select(
            F.col("vec_id").alias("centroid_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    vec_col: str = "embedding",
    keep_sim: bool = False,
) -> DataFrame:
    """Rank centroids per vector by cosine (rounded to 6dp, centroid_id
    tie-break — engine-portable ordering) and keep the top ``nprobe``.

    nprobe=1 builds the inverted lists (each corpus vector in exactly one
    list); nprobe>1 is the query-side multi-probe. The centroid side is
    broadcast (nlist rows), so assignment is a map-only pass over the
    corpus — no shuffle (and the corpus scan is widened first: a
    single-file local input would otherwise run the nlist x N centroid
    ranking on one core).

    ``keep_sim=True`` retains the 6dp-rounded cosine to the assigned
    centroid as ``centroid_sim`` — consumed by :func:`semantic_dedup`'s
    keep-policy (recomputing it downstream would re-run the O(d)
    aggregate per vector)."""
    from ..sources.readers import ensure_parallel as _ensure_parallel

    vectors = _ensure_parallel(vectors)
    v = vectors.select(
        "vec_id",
        *(["label"] if "label" in vectors.columns else []),
        _as_double(F.col(vec_col)).alias("v"),
    )
    # per-row norms projected BEFORE the centroid fan-out: each vector
    # meets nlist centroids, so an inline _norm(v) would re-run the O(d)
    # aggregate nlist times per vector (and _norm(cv) once per pair)
    v = v.withColumn("__vn", _norm(F.col("v")))
    cent = F.broadcast(
        centroids.withColumn("__cn", _norm(F.col("cv")))
    )
    sims = (
        v.crossJoin(cent)
        .withColumn(
            "__csim",
            F.round(
                _dot(F.col("v"), F.col("cv"))
                / (F.col("__vn") * F.col("__cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__csim").desc(), F.col("centroid_id").asc()
    )
    out = sims.withColumn("__pr", F.row_number().over(w)).where(
        F.col("__pr") <= nprobe
    )
    if keep_sim:
        out = out.withColumn("centroid_sim", F.col("__csim"))
    return out.drop("cv", "__csim", "__pr", "__vn", "__cn")


def ivf_refine_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    iterations: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd refinement as pure DataFrame ops: assign each vector to its
    nearest centroid, recompute each centroid as the element-wise mean of
    its list, repeat. One broadcast join + one groupBy per iteration;
    empty lists keep their previous centroid (left join + coalesce). The
    result is deterministic given the seeds."""
    for _ in range(iterations):
        assigned = ivf_assign(embeddings, centroids, nprobe=1, vec_col=vec_col)
        means = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("mx"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("mx")))
                    ),
                    lambda s: s["mx"],
                ).alias("new_cv")
            )
        )
        centroids = (
            centroids.join(F.broadcast(means), on="centroid_id", how="left")
            .select(
                "centroid_id",
                F.coalesce(F.col("new_cv"), F.col("cv")).alias("cv"),
            )
        )
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 3,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact cosine, restricted to the query's
    ``nprobe`` nearest inverted lists. Same output shape as
    :func:`cosine_topk`; recall grows with nprobe (nprobe=nlist is exact).

    Pass refined ``centroids`` to search a learned index; default is the
    deterministic seed quantizer."""
    cents = centroids if centroids is not None else ivf_seed_centroids(
        embeddings, nlist, vec_col
    )
    corpus = ivf_assign(embeddings, cents, nprobe=1, vec_col=vec_col)
    probes = _ivf_probes(queries, cents, nprobe, vec_col)
    return _ivf_score_topk(probes, corpus, k)


def _ivf_probes(
    queries: DataFrame, centroids: DataFrame, nprobe: int, vec_col: str
) -> DataFrame:
    return ivf_assign(queries, centroids, nprobe=nprobe, vec_col=vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        "centroid_id",
    )


def _ivf_score_topk(probes: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Shared IVF tail: probe×list equi-join on centroid_id, exact cosine,
    per-query top-k. Norms are projected per ROW before the join (an
    inline _norm would re-run the O(d) aggregate once per candidate
    pair on both sides)."""
    pairs = (
        F.broadcast(probes.withColumn("__qn", _norm(F.col("qv"))))
        .join(corpus.withColumn("__cn", _norm(F.col("v"))), on="centroid_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "similarity",
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("vec_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", "similarity", "rank")
    )


def _centroid_fingerprint(centroids: DataFrame) -> str:
    """Deterministic 16-hex fingerprint of a centroid table (nlist rows
    — driver-sized by construction). Guards the IVF append contract: an
    append assigned against DIFFERENT centroids than the index was
    built with would silently file vectors into the wrong inverted
    lists, which no row count can detect."""
    import hashlib

    rows = sorted(
        (int(r["centroid_id"]), tuple(float(x) for x in r["cv"]))
        for r in centroids.select("centroid_id", "cv").collect()
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()[:16]


#: the inverted lists, partitioned by centroid_id, ARE the index root;
#: the commit marker lives inside it (``_``-prefixed, so Spark's
#: listing skips it) with the committed row count, ``vec_col`` and the
#: centroid fingerprint (sources/index_store.py).
_STORE = IndexStore("_ivf_meta.json", {"": "n_rows"}, "centroid_id")


def ivf_build_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the inverted lists as a parquet table PARTITIONED BY
    centroid_id — the IVF scale path. A probe then reads only its
    ``nprobe`` of ``nlist`` partition directories instead of the whole
    corpus (at 100 TB / nlist=4096, a 3-probe query touches <0.1% of the
    bytes). Assignment is the map-only broadcast pass of
    :func:`ivf_assign`; the write is one shuffle-free pass.

    The commit marker (committed row count + centroid fingerprint) is
    written last, making the index append-safe: :func:`ivf_index_append`
    folds a new embedding batch in without re-reading the standing
    corpus, refusing mismatched centroids and torn predecessors (the
    commit protocol MinHash and BM25 indexes share,
    sources/index_store.py)."""
    _STORE.write(
        path,
        {"vec_col": vec_col, "centroid_fp": _centroid_fingerprint(centroids)},
        {"": ivf_assign(embeddings, centroids, nprobe=1, vec_col=vec_col)},
    )


def ivf_index_append(
    new_embeddings: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Fold a new embedding batch into a persisted IVF index (the
    fifth incremental-state family): assign against the FROZEN
    centroids (map-only broadcast pass), append into the partitioned
    lists, recommit the marker. Because assignment is per-row and
    the centroids are pinned by fingerprint, ``append == rebuild``
    exactly (pytest-pinned): queries over the appended index equal
    queries over an index rebuilt from the union.

    Refuses (a) an index whose row count does not match its committed
    marker (torn previous append); (b) centroids whose fingerprint
    differs from the build's — re-quantizing requires a rebuild,
    silently mixing quantizers would file vectors into wrong lists;
    (c) vec_id reuse against the stored ids (would duplicate a vector
    under one id)."""
    meta, stored = _STORE.load(new_embeddings.sparkSession, path)
    fp = _centroid_fingerprint(centroids)
    if fp != meta["centroid_fp"]:
        raise ValueError(
            f"centroid fingerprint {fp} != index's {meta['centroid_fp']} — "
            "the quantizer changed; rebuild the index instead of appending"
        )
    _STORE.refuse_reuse(stored[""], new_embeddings, "vec_id", path)
    batch = ivf_assign(new_embeddings, centroids, nprobe=1, vec_col=vec_col)
    _STORE.write(path, meta, {"": batch}, "append")


def ivf_index_compact(
    spark, path: str, target_file_mb: int = 128
) -> int:
    """Rewrite the partitioned inverted lists into ~``target_file_mb``
    files per the usual append-fragmentation maintenance, partition
    layout preserved. The swap retires the old root with the marker in
    it, so the marker is recommitted after it; a crash in between reads
    as a missing marker — loud, never a silently half-compacted index.
    Returns the output file count."""
    return _STORE.compact(spark, path, target_file_mb)[""]


def ivf_index_load(spark, path: str) -> DataFrame:
    """Load a persisted IVF index with the commit-marker check (row
    count vs the marker) — the validating twin of the raw
    ``spark.read.parquet`` that :func:`ivf_topk_indexed` performs."""
    return _STORE.load(spark, path)[1][""]


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    vec_col: str = "embedding",
    static_prune: bool = False,
) -> DataFrame:
    """IVF top-k over a pre-built partitioned index (see
    :func:`ivf_build_index`): identical results to :func:`ivf_topk` with
    the same centroids, but the corpus scan PRUNES to the probed
    partitions instead of reading every inverted list.

    Two pruning modes, both plan-asserted in tests/test_llm_ops.py:

    - default: the broadcast probe join triggers Dynamic Partition
      Pruning (the scan's PartitionFilters gain a dynamicpruning
      subquery; no driver round-trip, the right mode inside a larger
      lazily-planned pipeline);
    - ``static_prune=True``: collects the probed centroid_ids (tiny —
      ``<= nprobe * n_queries`` ints, a documented driver-side exception
      like the QA gate) and pushes a literal ``isin`` partition filter,
      which prunes at plan time — ``inputFiles()`` proves the scan
      touches only the probed directories.
    """
    idx = spark.read.parquet(index_path)
    probes = _ivf_probes(queries, centroids, nprobe, vec_col)
    if static_prune:
        probe_ids = [
            r["centroid_id"]
            for r in probes.select("centroid_id").distinct().collect()
        ]
        idx = idx.where(F.col("centroid_id").isin(probe_ids))
    return _ivf_score_topk(probes, idx, k)


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup)
# ---------------------------------------------------------------------------


def semantic_dedup(
    embeddings: DataFrame,
    nlist: int | str = 16,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    prefilter_dims: int = 8,
    broadcast_pairs: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the corpus embeddings, find
    near-duplicate pairs WITHIN each cluster (cosine >= threshold over
    unit vectors), collapse pairs into duplicate groups, and keep ONE
    representative per group — the member FARTHEST from its cluster
    centroid (the paper's best-performing keep-policy: low-centroid-sim
    examples maximize retained diversity), vec_id as the deterministic
    tie-break.

    Output, one row per corpus vector (singletons are their own group):
    ``(vec_id, centroid_id, centroid_sim, group_id, group_size,
    is_keeper:int)`` where ``group_id`` is the min vec_id in the
    duplicate group and ``centroid_sim`` the 6dp-rounded cosine to the
    assigned centroid. Fully deterministic (seed quantizer, rounded
    sims, id tie-breaks), so the whole operator is oracle-checkable
    against a DuckDB recursive-CTE twin.

    Scale design: the quantizer pass is map-only (broadcast nlist
    centroids — ivf_assign); the candidate generator is the in-cluster
    self-join, which at this fixture broadcasts the corpus side exactly
    like embedding_near_dups (same parallelism note: the probe side is
    widened so pair generation spreads across cores despite the
    nlist-ary join key). At corpus sizes past broadcast, pass
    ``broadcast_pairs=False`` and ``nlist="auto"`` — the 100 TB
    configuration, and a tested code path (pytest pins its output
    bitwise-equal to the broadcast plan): the paper operates at
    nlist ~ sqrt(N) (50k clusters for 5B points), which keeps
    per-cluster candidate sets near-constant so the pair volume grows
    ~linearly with N, and the edge join becomes an ordinary shuffle
    join on a 50k-ary key (``nlist="auto"`` spends one count() job to
    set nlist = isqrt(N); the centroid seed-scan stays nlist-bounded
    and broadcastable either way). Pairs pass the exact
    partial-distance prefilter before the full dot
    (``cos >= t  <=>  ||a-b||^2 <= 2-2t`` on unit vectors — same bound
    and slack as embedding_near_dups). Grouping is
    :func:`~.dedup.dedup_clusters` (large-star/small-star) — O(log n)
    rounds independent of component diameter.
    """
    from ..sources.readers import ensure_parallel as _ensure_parallel
    from .dedup import dedup_clusters

    if nlist == "auto":
        import math

        nlist = max(1, math.isqrt(max(embeddings.count(), 1)))
    elif not isinstance(nlist, int):
        raise ValueError(f"nlist must be an int or 'auto', got {nlist!r}")
    cents = ivf_seed_centroids(embeddings, nlist, vec_col=vec_col)
    assigned = ivf_assign(
        embeddings, cents, nprobe=1, vec_col=vec_col, keep_sim=True
    ).select("vec_id", "centroid_id", "centroid_sim", "v")
    # one unit-normalize pass, reused by every pair this vector meets
    n = _norm(F.col("v"))
    unit = assigned.withColumn(
        "uv", F.transform(F.col("v"), lambda x: x / n)
    ).drop("v")
    # within-cluster near-dup edges; persist via localCheckpoint so the
    # CC rounds and the final verdict join don't re-run the self-join
    a = _ensure_parallel(unit.select("vec_id", "centroid_id", "uv")).alias("a")
    b = unit.select("vec_id", "centroid_id", "uv").alias("b")
    bound = 2.0 - 2.0 * (threshold - 1e-6) + 1e-9
    # broadcast_pairs=False: no hint — the self-join shuffles both sides
    # on centroid_id (sort-merge/shuffle-hash per AQE), the only plan
    # that exists once the corpus outgrows a broadcast
    b_side = F.broadcast(b) if broadcast_pairs else b
    edges = (
        a.join(
            b_side,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(
            _partial_sqdist(F.col("a.uv"), F.col("b.uv"), prefilter_dims)
            <= F.lit(bound)
        )
        .where(
            F.round(_dot(F.col("a.uv"), F.col("b.uv")), 6)
            >= F.lit(threshold)
        )
        .select(
            F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b")
        )
    )
    groups = dedup_clusters(
        unit.select("vec_id"), edges, doc_id_col="vec_id"
    ).select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id").alias("group_id")
    )
    w = Window.partitionBy("group_id")
    w_keep = w.orderBy(F.col("centroid_sim").asc(), F.col("vec_id").asc())
    return (
        unit.select("vec_id", "centroid_id", "centroid_sim")
        .join(groups, "vec_id")
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_keeper",
            (F.row_number().over(w_keep) == 1).cast("int"),
        )
        .select(
            "vec_id", "centroid_id", "centroid_sim",
            "group_id", "group_size", "is_keeper",
        )
    )


def embedding_decontaminate(
    corpus: DataFrame,
    holdout: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic benchmark decontamination — the embedding-side
    counterpart of ``dedup.ngram_decontaminate``: lexical containment
    misses PARAPHRASED benchmark leakage, but a paraphrase's embedding
    still sits next to the benchmark item's. Flags every corpus vector
    whose cosine similarity to ANY holdout vector reaches
    ``threshold``, with the best-matching holdout item attributed.

    Scale posture: the holdout suite is the small side by nature
    (benchmark items, not a crawl) and BROADCASTS; the corpus side is
    map-only through the |corpus| × |holdout| similarity sweep (same
    shape as cosine_topk's broadcast(Q) design — the corpus never
    shuffles to meet the holdout), and only ABOVE-THRESHOLD pairs enter
    the per-doc argmax shuffle, which is sized by the leak count, not
    the corpus. Determinism: similarity rounded to 6dp, ties broken by
    smallest holdout id.

    Zero-norm vectors (an empty/failed embedding) are EXCLUDED from
    the sweep on both sides — cosine is undefined for them, and the
    bare division would silently NULL-drop under non-ANSI sessions but
    throw DIVIDE_BY_ZERO under ANSI ones; the guard makes the "no
    semantic evidence -> not flagged" semantics explicit and
    session-independent.

    Output: (vec_id, label, best_holdout_id, best_sim) — flagged
    corpus vectors only.
    """
    from ..sources.readers import ensure_parallel as _ensure_parallel

    h = holdout.select(
        F.col("vec_id").alias("holdout_id"),
        _as_double(F.col(vec_col)).alias("hv"),
    ).withColumn("hn", _norm(F.col("hv"))).where(F.col("hn") > 0)
    c = _ensure_parallel(corpus).select(
        "vec_id",
        *(["label"] if "label" in corpus.columns else []),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv"))).where(F.col("cn") > 0)
    pairs = (
        c.crossJoin(F.broadcast(h))
        .withColumn(
            "__sim",
            F.round(
                _dot(F.col("cv"), F.col("hv"))
                / (F.col("cn") * F.col("hn")),
                6,
            ),
        )
        .where(F.col("__sim") >= threshold)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__sim").desc(), F.col("holdout_id").asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "vec_id",
            *(["label"] if "label" in corpus.columns else []),
            "holdout_id",
            F.col("__sim").alias("best_sim"),
        )
        .withColumnRenamed("holdout_id", "best_holdout_id")
    )


def diversity_profile(
    embeddings: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    label_col: str | None = "label",
    refine_iters: int = 0,
) -> DataFrame:
    """Corpus diversity audit over embedding clusters — the data-mixture
    diagnostic a curation run reads before choosing dedup/mixing knobs:
    a dominant cluster with high centroid cohesion means over-
    represented near-identical content (raise dedup aggressiveness or
    down-weight the source); many small low-cohesion clusters are the
    long diversity tail worth protecting.

    Plan: assignment is the broadcast-quantizer map-only pass
    (:func:`ivf_assign`, optionally Lloyd-refined seeds); the profile is
    ONE groupBy(centroid_id) left-joined back to the centroid table, so
    the output ALWAYS has one row per centroid — an emptied list (heavy
    duplication, Lloyd migration) reports n_vecs=0 / share=0 / NULL
    cohesion instead of silently vanishing from the audit. Zero-norm
    vectors (failed embeddings) are excluded up front on the same
    grounds as embedding_decontaminate (cosine undefined; NULL-drop vs
    ANSI-throw divergence otherwise). Cohesion is averaged over
    INTEGER micro-sims (the 6dp-rounded per-row cosine scaled to 1e6)
    so the mean is order-independent — the repo's micro-nat contract.

    Per cluster: n_vecs, corpus share, mean 6dp cosine to the centroid
    (cohesion), and — when ``label_col`` exists — the dominant label
    with its share (ties by smallest label, deterministic).

    Output: (centroid_id, n_vecs, share, mean_centroid_sim
    [, dominant_label, dominant_share]) — floats rounded to 6dp.
    """
    has_label = label_col is not None and label_col in embeddings.columns
    src = embeddings.select(
        "vec_id",
        vec_col,
        *([F.col(label_col).alias("label")] if has_label else []),
    ).where(_norm(_as_double(F.col(vec_col))) > 0)
    cents = ivf_seed_centroids(src, nlist, vec_col)
    if refine_iters > 0:
        cents = ivf_refine_centroids(
            src, cents, iterations=refine_iters, vec_col=vec_col
        )
    # "label" passes through ivf_assign's map-only projection — aliased
    # above so NO corpus-sized join is needed to recover it
    assigned = ivf_assign(src, cents, nprobe=1, vec_col=vec_col, keep_sim=True)
    total = src.agg(F.count(F.lit(1)).cast("bigint").alias("__total"))
    micro = F.round(F.col("centroid_sim") * F.lit(1e6), 0).cast("bigint")
    grouped = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(micro).alias("__micro_sum"),
    )
    prof = (
        cents.select("centroid_id")
        .join(grouped, "centroid_id", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "centroid_id",
            F.coalesce("n_vecs", F.lit(0)).cast("bigint").alias("n_vecs"),
            F.round(
                F.coalesce("n_vecs", F.lit(0)) / F.col("__total"), 6
            ).alias("share"),
            F.when(
                F.coalesce("n_vecs", F.lit(0)) > 0,
                F.round(
                    F.col("__micro_sum")
                    / (F.lit(1e6) * F.col("n_vecs")),
                    6,
                ),
            ).alias("mean_centroid_sim"),
        )
    )
    if not has_label:
        return prof
    from pyspark.sql import Window

    lab = (
        assigned.groupBy("centroid_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("centroid_id").orderBy(
                    F.col("__n").desc(), F.col("label").asc()
                )
            ),
        )
        .where(F.col("__rn") == 1)
        .select(
            "centroid_id",
            F.col("label").alias("dominant_label"),
            F.col("__n").alias("__dom_n"),
        )
    )
    return (
        prof.join(lab, "centroid_id", "left")
        .withColumn(
            "dominant_share",
            F.when(
                F.col("n_vecs") > 0,
                F.round(F.col("__dom_n") / F.col("n_vecs"), 6),
            ),
        )
        .select(
            "centroid_id",
            "n_vecs",
            "share",
            "mean_centroid_sim",
            "dominant_label",
            "dominant_share",
        )
    )
