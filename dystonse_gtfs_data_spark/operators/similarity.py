"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products run JVM-side via zip_with/aggregate (no Python).
- ``lsh_topk``: random-hyperplane LSH bucketing — the scale path; only
  vectors sharing a bucket (in any of several hash tables) are compared,
  so the cross product never materializes.
- ``embedding_near_duplicates``: pairs with cosine >= threshold via the
  same LSH bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.lits import lit_double_matrix, lit_doubles


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k per query vector — the correctness
    baseline against which :func:`lsh_topk` / :func:`ivf_topk` recall is
    judged; at real scale those bucketed paths replace it.

    The query side is broadcast (queries are few); the corpus streams
    through executors — no shuffle of the corpus itself.  The per-query
    ranking is a plain row_number window over narrow (query_id,
    neighbor_id, cosine) rows: the exchange carries O(queries × corpus)
    rows, but the window's external sort spills to disk, so no operator
    ever materializes a per-group in-memory buffer — a hot query with a
    billion scored candidates sorts through spill files where a
    collect_list-style partial top-k would hold the whole slice as one
    array and OOM.  Ties break (cosine desc, neighbor_id asc).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))))
    )
    if round_digits is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_digits))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (engine-pinned LCG, no numpy
    on the executors)."""
    state = seed * 0x9E3779B97F4A7C15 % (1 << 63)
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


# Fixed-point scale for the portable plane family: embedding components
# are floored to integers at this scale, so bucket bits come from EXACT
# int64 arithmetic that any SQL engine reproduces bit-for-bit (no
# summation-order float drift can flip a sign).
PORTABLE_QUANT = 1 << 20


def portable_hyperplanes(dim: int, n_planes: int, table: int) -> list[list[int]]:
    """Integer hyperplanes derived from the portable md5 fold (same
    60-bit family as dedup.portable_base_hash): component (t, p, d) is
    ``md5_fold('lsh:t:p:d') % 2001 - 1000`` — uniform in [-1000, 1000].
    A SQL oracle regenerates the identical planes from the literal
    formula; nothing engine-private enters the bucket computation."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(
                hashlib.md5(f"lsh:{table}:{p}:{d}".encode()).hexdigest()[:15], 16
            )
            row.append(h % 2001 - 1000)
        planes.append(row)
    return planes


def lsh_bucket_table_udf_int(all_planes: list[list[list[int]]]):
    """Arrow-vectorized bucket computation for the portable integer
    plane family: floor-quantize components to int64, then exact integer
    matmul per table — summation order is irrelevant for integers, so
    buckets match any SQL twin bit-for-bit."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes_np = [np.asarray(p, dtype=np.int64) for p in all_planes]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vec):
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vec])
        xi = np.floor(x * PORTABLE_QUANT).astype(np.int64)
        out = np.zeros((len(xi), len(planes_np)), dtype=np.int64)
        for ti, table in enumerate(planes_np):
            dots = xi @ table.T  # (n, n_planes) int64, exact
            bits = (dots >= 0).astype(np.int64) << np.arange(
                table.shape[0], dtype=np.int64
            )
            out[:, ti] = bits.sum(axis=1)
        return pd.Series(list(out))

    return buckets


def lsh_bucket_table_udf(all_planes: list[list[list[float]]]):
    """Arrow-vectorized bucket computation for ALL hash tables in one
    pass: returns an ``array<long>`` of bucket ids (one per table).

    Dot products use ``cumsum`` along the dim axis — numpy's cumsum is a
    sequential left-to-right accumulation, so every dot is bit-identical
    to the JVM ``aggregate()`` fold in :func:`_dot` (and to the
    single-node oracle's replica): swapping this in changes the plan,
    not one bucket bit."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes_np = [np.asarray(p, dtype=np.float64) for p in all_planes]

    # no annotations: with `from __future__ import annotations` they are
    # strings pandas_udf cannot resolve against local imports
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vec):
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vec])
        out = np.zeros((len(x), len(planes_np)), dtype=np.int64)
        for ti, table in enumerate(planes_np):
            for pi in range(table.shape[0]):
                dots = np.cumsum(x * table[pi][None, :], axis=1)[:, -1]
                out[:, ti] |= np.where(dots >= 0, 1 << pi, 0)
        return pd.Series(list(out))

    return buckets


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    plane_family: str = "lcg",
    round_digits: int | None = None,
    collapse_identical: bool = False,
) -> DataFrame:
    """Approximate top-k: compare only within matching sign-buckets across
    ``n_tables`` independent hyperplane tables.  Shuffle is O(rows ×
    tables); each bucket join is an equi-join Catalyst can hash.  All
    tables' buckets come from ONE vectorized Arrow pass over each side
    (one scan, one UDF call per batch), then posexplode to
    (table_id, bucket) rows.

    ``plane_family='portable'`` switches to md5-derived INTEGER planes
    with floor-quantized components (:func:`portable_hyperplanes`):
    bucket bits come from exact int64 arithmetic, so an independent SQL
    twin regenerates identical candidate sets.  ``round_digits`` rounds
    the cosine before ranking (cross-engine float agreement, same
    convention as :func:`cosine_topk`).

    ``collapse_identical=True`` is the same output-exact
    mass-duplication valve as :func:`ivf_topk`: identical corpus
    vectors share every bucket of every table (Q × n × tables scored
    rows for content that can only contribute k ranks); one min-id
    representative per distinct vector is scored and expanded with the
    group's k+1 smallest member ids under the (cosine desc, id asc)
    tie-break."""
    if plane_family == "portable":
        all_planes = [
            portable_hyperplanes(dim, n_planes, table=t) for t in range(n_tables)
        ]
        bucket_udf = lsh_bucket_table_udf_int(all_planes)
    else:
        all_planes = [_hyperplanes(dim, n_planes, seed=7 + t) for t in range(n_tables)]
        bucket_udf = lsh_bucket_table_udf(all_planes)

    def tag(df, id_alias, vec_alias):
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            F.posexplode(bucket_udf(F.col(vec_col))).alias("table_id", "bucket"),
        )

    tagged_q = tag(queries, "query_id", "q_vec")
    if collapse_identical:
        reps, members = _collapse_members(corpus, id_col, vec_col, k)
        tagged_r = reps.select(
            F.col("_rep"),
            F.col("_rvec").alias("c_vec"),
            F.posexplode(bucket_udf(F.col("_rvec"))).alias("table_id", "bucket"),
        )
        scored = (
            tagged_r.join(tagged_q, ["table_id", "bucket"])
            .select(
                "query_id",
                "_rep",
                (
                    _dot(F.col("q_vec"), F.col("c_vec"))
                    / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))
                ).alias("cosine"),
            )
            .dropDuplicates(["query_id", "_rep"])
        )
        if round_digits is not None:
            scored = scored.withColumn("cosine", F.round("cosine", round_digits))
        return _expand_topk(scored, members, k, round_before_rank=True)
    tagged_c = tag(corpus, "neighbor_id", "c_vec")
    scored = (
        tagged_c.join(tagged_q, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if round_digits is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_digits))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def allpairs_cosine(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via block-matrix products.

    Vectors are grouped into blocks of ``block_size``; the (b_a <= b_b)
    block pairs are enumerated with a self-join on block id, and each
    block pair computes a dense numpy matmul inside mapInPandas — one
    Arrow batch of two small matrices in, only the qualifying pairs out.
    This is the scalable exact design: work is O(n²·d) regardless, but it
    parallelizes as B² independent tasks of bounded memory, and nothing
    per-pair ever crosses the Python boundary.
    """
    import numpy as np
    import pandas as pd

    blocks = (
        vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .withColumn("block_id", F.floor(F.col("vid") / block_size))
        .groupBy("block_id")
        .agg(
            F.collect_list("vid").alias("ids"),
            F.collect_list("vec").alias("vecs"),
        )
    )
    a = blocks.select(
        F.col("block_id").alias("ba"), F.col("ids").alias("ids_a"), F.col("vecs").alias("vecs_a")
    )
    b = blocks.select(
        F.col("block_id").alias("bb"), F.col("ids").alias("ids_b"), F.col("vecs").alias("vecs_b")
    )
    pairs = a.join(b, F.col("ba") <= F.col("bb"))

    def compute(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                ma = np.array([np.asarray(v, dtype=np.float64) for v in row.vecs_a])
                mb = np.array([np.asarray(v, dtype=np.float64) for v in row.vecs_b])
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                sims = ma @ mb.T
                ii, jj = np.where(sims >= threshold)
                ia, ib, cs = ids_a[ii], ids_b[jj], sims[ii, jj]
                keep = ia < ib  # dedupe diagonal blocks + self pairs
                out_a.append(ia[keep])
                out_b.append(ib[keep])
                out_c.append(cs[keep])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    out = pairs.mapInPandas(compute, schema="id_a long, id_b long, cosine double")
    if round_digits is not None:
        out = out.withColumn("cosine", F.round("cosine", round_digits))
    return out


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids (by cosine)
    — the IVF coarse quantizer.  Centroids are a driver-side list (they
    are tiny: k × dim floats), evaluated as JVM expressions; at k in the
    thousands, switch the argmax to a block matmul like allpairs_cosine."""
    import numpy as np

    if not centroids:
        # empty corpus → empty codebook (train_centroids on 0 rows):
        # an assignment over no inverted lists is the empty relation
        return vectors.select(
            F.col(id_col),
            F.col(vec_col),
            *[F.col(c) for c in extra_cols],
            F.lit(0).alias("centroid_id"),
        ).filter(F.lit(False))
    cents = np.asarray(centroids, dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    norm = _norm(F.col(vec_col))
    # the k×dim centroid matrix ships as ONE nested-list literal and a
    # transform-with-index lambda builds the same (sim, cid) structs the
    # per-centroid F.array(*lits) loop did (identical _dot fold order;
    # the lambda index IS the old F.lit(ci)) — k·dim py4j round trips
    # collapse to one (the round-11 literal-matrix lesson)
    cents_lit = lit_double_matrix(cents)
    scored = F.transform(
        cents_lit,
        lambda row, i: F.struct(
            (_dot(F.col(vec_col), row) / norm).alias("sim"),
            i.alias("cid"),
        ),
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return vectors.select(
        F.col(id_col), F.col(vec_col), *[F.col(c) for c in extra_cols],
        F.explode(top).alias("_c"),
    ).select(
        id_col, vec_col, *extra_cols, F.col("_c.cid").alias("centroid_id")
    )


def kmeans_codebook(
    sample_vectors, k: int, iterations: int
) -> list[list[float]]:
    """Deterministic Lloyd k-means on an in-memory sample: seed with the
    first k vectors, assign by cosine (normalized dot), recenter with a
    sorted-order numpy mean.  Pure numpy, no Spark — callable from the
    engine AND from a single-node oracle, producing identical floats."""
    import numpy as np

    if not len(sample_vectors):
        return []
    x = np.asarray(sample_vectors, dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cents = x[:k].copy()
    for _ in range(iterations):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        assign = np.argmax(xn @ cn.T, axis=1)
        for ci in range(k):
            members = x[assign == ci]
            if len(members):
                cents[ci] = members.mean(axis=0)
    return cents.tolist()


def train_centroids(
    vectors: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    iterations: int = 3,
    sample_size: int = 4096,
) -> list[list[float]]:
    """IVF codebook training on a bounded deterministic sample: the
    ``sample_size`` vectors smallest by ``(xxhash64(vec_id), vec_id)``
    come to the driver (k × dim and sample × dim are both tiny next to
    the corpus), then pure-numpy Lloyd iterations.  Sample-based
    codebook training is the standard IVF practice at scale — a
    16-centroid codebook does not need a full pass over 100 TB — and
    keeps training fully deterministic (a distributed avg() would be
    ulp-nondeterministic in its summation order, making results
    irreproducible run to run).

    The HASH order is load-bearing, not cosmetic (hazard found by
    degenerate-shape probing): plain id-order sampling assumes ids are
    uncorrelated with content, and if the low id range is
    mass-duplicated (one vector in every sampled slot) Lloyd sees one
    point, every centroid collapses onto it, the whole corpus assigns
    to a single inverted list, and ivf_topk silently degrades to brute
    force — measured 4× slower on a 20 %-duplicated 100 k corpus.
    ``xxhash64(vec_id)`` decorrelates the sample from ingestion order
    at zero extra passes (the sort key is computed in the same scan),
    and the single-node replica oracles recompute the identical order
    via the pure-Python hash (functions/xxh.py:xxhash64_long), so the
    codebook stays driver-hash-checkable.  The vec_id tie-break makes
    the order total even under (astronomically unlikely) hash ties."""
    sample = _hash_ordered_sample(vectors, vec_col, sample_size)
    return kmeans_codebook(sample, k, iterations)


def _hash_ordered_sample(
    vectors: DataFrame, vec_col: str, sample_size: int
) -> list[list[float]]:
    """The one codebook-sampling policy, shared by both trainers: the
    ``sample_size`` vectors smallest by ``(xxhash64(vec_id), vec_id)``.
    Content-independent (mass-duplicated id ranges cannot monopolize the
    sample) and replayable by the single-node oracles via the pure-Python
    xxhash64 twin (functions/xxh.py)."""
    rows = (
        vectors.orderBy(F.xxhash64("vec_id"), F.col("vec_id"))
        .limit(sample_size)
        .collect()
    )
    return [list(r[vec_col]) for r in rows]


def _collapse_members(
    corpus: DataFrame, id_col: str, vec_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared helper for the ANN ``collapse_identical`` valves: one
    min-id representative per byte-identical vector group, plus each
    group's k+1 SMALLEST member ids (any later member cannot reach a
    global top-k past its k+1 smaller-id identical-cosine siblings, and
    one slot may be lost to the query filtering itself out).

    Returns ``(reps, members)``: reps = (_rvec, _rep); members =
    (_rep, member_id) with ≤ k+1 rows per rep.  The per-group id sort
    is a window over the vector key — a 1 M-copy group lands in one
    task, but the work is a linear-ish sort, not a quadratic join."""
    w = Window.partitionBy(vec_col).orderBy(F.col(id_col).asc())
    members = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k + 1)
        .withColumn("_rep", F.min(id_col).over(Window.partitionBy(vec_col)))
        .select("_rep", F.col(id_col).alias("member_id"))
    )
    reps = corpus.groupBy(F.col(vec_col).alias("_rvec")).agg(
        F.min(F.col(id_col)).alias("_rep")
    )
    return reps, members


def _expand_topk(
    scored_reps: DataFrame, members: DataFrame, k: int, round_before_rank: bool
) -> DataFrame:
    """Expand rep-level scores (query_id, _rep, cosine) back to member
    rows, drop the query itself, and rank (cosine desc, id asc) — the
    same total order the uncollapsed path ranks, so the top-k is
    output-exact.

    The member join reads only the per-query top-(k+1) reps by
    (cosine desc, _rep asc), which is exact, not a heuristic: a rep
    with k+1 reps ranked ahead gets at least one better member from
    EACH of them — the ahead rep's own rep-id member beats every
    member of a lower rep (strictly higher cosine, or a cosine tie
    where _rep2 < _rep1 ≤ all of rep1's member ids) — and at most one
    of those k+1 is the query filtering itself out, leaving ≥ k
    members ahead.  Without this prune the expansion join pays a
    shuffle of the FULL scored volume, which measured as a wash
    against the dedup savings at modest duplication."""
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("_rep"))
    pruned = (
        scored_reps.withColumn("_rr", F.row_number().over(wr))
        .filter(F.col("_rr") <= k + 1)
        .drop("_rr")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    out = (
        pruned.join(members, "_rep")
        .filter(F.col("member_id") != F.col("query_id"))
        .select("query_id", F.col("member_id").alias("neighbor_id"), "cosine")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if round_before_rank:
        return out.select("query_id", "neighbor_id", "cosine", "rank")
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    collapse_identical: bool = False,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest
    centroid's inverted list; each query probes its ``n_probe`` nearest
    lists and scores only those vectors — an equi-join on centroid_id, so
    the scored pair count shrinks by ~k/n_probe versus brute force.

    ``collapse_identical=True`` is the mass-duplication valve for the
    QUERY side of the quadratic: a vector duplicated n times puts n
    identical entries in one inverted list, and every query probing
    that list scores all n (Q × n scored rows for content that can
    only ever contribute k ranks).  Identical vectors assign to the
    same list, so scoring one min-id representative per distinct
    vector and expanding with each group's k+1 smallest member ids is
    OUTPUT-EXACT under the (cosine desc, id asc) tie-break: a member
    beyond its group's (k+1)-th smallest id always has k+1 identical-
    cosine, smaller-id siblings ranked ahead of it (one of which may
    be the query itself, hence +1).  Default False keeps the
    single-pass shape the catalog oracle hashes."""
    q_assigned = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "centroid_id"
    )
    if collapse_identical:
        reps, members = _collapse_members(corpus, id_col, vec_col, k)
        c_assigned = ivf_assign(
            reps, centroids, "_rep", "_rvec", n_probe=1
        ).select("_rep", F.col("_rvec").alias("c_vec"), "centroid_id")
        scored = c_assigned.join(F.broadcast(q_assigned), "centroid_id").select(
            "query_id",
            "_rep",
            (
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))
            ).alias("cosine"),
        )
        return _expand_topk(scored, members, k, round_before_rank=False)
    c_assigned = ivf_assign(corpus, centroids, id_col, vec_col, n_probe=1).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "centroid_id"
    )
    scored = (
        c_assigned.join(F.broadcast(q_assigned), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q_vec"), F.col("c_vec")) / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank")
    )


def embedding_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 6,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold)
    via multi-table hyperplane LSH candidate generation + exact rescore.

    ``hot_bucket_cap`` is the same mass-duplication valve as
    :func:`..operators.dedup.minhash_lsh_candidates`: identical
    embeddings (mass-duplicated documents embed identically) share
    every bucket of every table, so one vector duplicated n times emits
    ~n²/2 · n_tables candidate rows — job death at corpus scale.
    Buckets above the cap emit a STAR to the bucket's min-id
    representative; star edges still go through the exact cosine
    rescore, and for the content that creates hot buckets (identical
    vectors) each edge rescores at cosine 1.0, so transitive clusters
    are unchanged.  Default None keeps exact all-pairs enumeration (the
    oracle-hashed catalog setting)."""
    all_planes = [_hyperplanes(dim, n_planes, seed=101 + t) for t in range(n_tables)]
    bucket_udf = lsh_bucket_table_udf(all_planes)
    tagged = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.posexplode(bucket_udf(F.col(vec_col))).alias("table_id", "bucket"),
    )
    if hot_bucket_cap is None:
        a, b = tagged.alias("a"), tagged.alias("b")
        cand = (
            a.join(b, ["table_id", "bucket"])
            .filter(F.col("a.vid") < F.col("b.vid"))
            .select(
                F.col("a.vid").alias("id_a"),
                F.col("b.vid").alias("id_b"),
                F.col("a.vec").alias("vec_a"),
                F.col("b.vec").alias("vec_b"),
            )
        )
    else:
        sizes = tagged.groupBy("table_id", "bucket").agg(
            F.count("*").alias("_bn"), F.min("vid").alias("_rep")
        )
        sized = tagged.join(sizes, ["table_id", "bucket"])
        small = sized.filter(F.col("_bn") <= hot_bucket_cap)
        a, b = small.alias("a"), small.alias("b")
        pairs_small = (
            a.join(b, ["table_id", "bucket"])
            .filter(F.col("a.vid") < F.col("b.vid"))
            .select(
                F.col("a.vid").alias("id_a"),
                F.col("b.vid").alias("id_b"),
                F.col("a.vec").alias("vec_a"),
                F.col("b.vec").alias("vec_b"),
            )
        )
        # hot buckets: n-1 star edges to the representative.  A narrow
        # (table, bucket) → rep-vector lookup (the rep's own bucket row)
        # keeps the sizes agg slim and attaches the rep vector once per
        # hot bucket; only _rep_vec is projected so the sized side's
        # _rep stays the single source of the rep id.
        rep_vecs = (
            sizes.filter(F.col("_bn") > hot_bucket_cap)
            .join(
                tagged.select(
                    F.col("vid").alias("_rep"),
                    "table_id",
                    "bucket",
                    F.col("vec").alias("_rep_vec"),
                ),
                ["table_id", "bucket", "_rep"],
            )
            .select("table_id", "bucket", "_rep_vec")
        )
        pairs_hot = (
            sized.filter(F.col("_bn") > hot_bucket_cap)
            .join(rep_vecs, ["table_id", "bucket"])
            .filter(F.col("vid") > F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col("vid").alias("id_b"),
                F.col("_rep_vec").alias("vec_a"),
                F.col("vec").alias("vec_b"),
            )
        )
        cand = pairs_small.unionByName(pairs_hot)
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "cosine",
            _dot(F.col("vec_a"), F.col("vec_b"))
            / (_norm(F.col("vec_a")) * _norm(F.col("vec_b"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization on top of the IVF coarse quantizer
# ---------------------------------------------------------------------------


def fold_dot_py(a, b) -> float:
    """Driver-side dot product with the SAME left-fold order as the JVM
    ``_dot`` aggregate — shared by the engine (codebook norms baked into
    literals) and the single-node oracle so both see identical doubles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def pq_train_codebooks(
    sample_vectors, m_sub: int = 8, ksub: int = 8, iterations: int = 2
):
    """Deterministic per-subspace euclidean Lloyd k-means: seed with the
    first ``ksub`` subvectors, vectorized numpy recenter.  Pure numpy and
    deterministic (shared verbatim by engine and oracle, like
    :func:`kmeans_codebook`).  Returns ``m_sub`` books of ``<=ksub``
    centroids of ``dim/m_sub`` floats — the 100 TB point: a corpus
    vector is then stored as ``m_sub`` small ints (here 8 codes ≈ 8
    bytes) instead of ``dim`` floats, so the inverted lists that flow
    through the probe join shrink ~30×."""
    import numpy as np

    if not len(sample_vectors):
        return []
    x = np.asarray(sample_vectors, dtype=np.float64)
    dim = x.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sd = dim // m_sub
    books = []
    for m in range(m_sub):
        sub = x[:, m * sd : (m + 1) * sd]
        cents = sub[:ksub].copy()
        for _ in range(iterations):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(d2, axis=1)
            for ci in range(len(cents)):
                members = sub[assign == ci]
                if len(members):
                    cents[ci] = members.mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach ``code_m`` columns: per subspace, the index of the nearest
    (euclidean) codebook centroid.  Pure JVM higher-order functions —
    ``transform`` with an index lambda over the literal codebook, a
    ``zip_with``+``aggregate`` left-fold distance (identical float order
    to the oracle's sequential loop), and an ``array_sort`` argmin with
    (d2, code) tie order.  HOFs keep the generated code small and
    loop-shaped; the fully unrolled expression form compiled to a
    multi-second janino method per query."""
    sd = len(codebooks[0][0])
    cols = []
    for m, book in enumerate(codebooks):
        # one nested-list literal per subspace instead of ksub·sd F.lit
        # py4j calls (round-11 literal-matrix lesson; values identical)
        lit_book = lit_double_matrix(book)
        sub = F.slice(F.col(vec_col), m * sd + 1, sd)
        cands = F.transform(
            lit_book,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        sub,
                        c,
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda a, t: a + t,
                ).alias("d2"),
                i.alias("code"),
            ),
        )
        cols.append(
            F.element_at(F.array_sort(cands), 1)["code"].alias(f"code_{m}")
        )
    return vectors.select(F.col(id_col), F.col(vec_col), *cols)


def train_pq_codebooks(
    vectors: DataFrame,
    m_sub: int = 8,
    ksub: int = 8,
    vec_col: str = "embedding",
    iterations: int = 2,
    sample_size: int = 4096,
):
    """PQ codebooks from the same bounded deterministic sample policy as
    :func:`train_centroids` — ``sample_size`` vectors smallest by
    ``(xxhash64(vec_id), vec_id)`` via the shared
    :func:`_hash_ordered_sample` helper, so both trainers see the same
    mass-duplication-immune sample (m_sub × ksub × subdim floats come
    back — tiny)."""
    return pq_train_codebooks(
        _hash_ordered_sample(vectors, vec_col, sample_size),
        m_sub,
        ksub,
        iterations,
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    collapse_identical: bool = False,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): corpus vectors live in
    their nearest coarse centroid's inverted list as ``m_sub`` PQ codes
    (no raw floats), queries probe ``n_probe`` lists, and scoring is
    asymmetric distance computation — exact query subvectors against the
    coded centroid reconstruction:

        cos(q, c) ≈ Σ_m q_m · B_m[code_m]
                    / (|q| · sqrt(Σ_m |B_m[code_m]|²))

    (the reconstruction's norm factors across subspaces, so it is a
    literal lookup, not a recomputation).  The probe join ships only
    (id, centroid_id, codes) for the corpus — the ~30× payload cut that
    makes billion-vector IVF-PQ the standard scale ANN layout.

    ``collapse_identical=True`` is the same output-exact
    mass-duplication valve as :func:`ivf_topk`: identical vectors have
    identical codes and ADC cosines, so one min-id representative per
    distinct vector is scored and expanded with the group's k+1
    smallest member ids under the (cosine desc, id asc) tie-break."""
    sd = len(codebooks[0][0]) if codebooks else 0
    if not centroids or not codebooks:
        return (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(id_col).alias("neighbor_id"),
                F.lit(0.0).alias("cosine"),
                F.lit(0).alias("rank"),
            ).filter(F.lit(False))
        )
    code_cols = tuple(f"code_{m}" for m in range(len(codebooks)))
    members = None
    if collapse_identical:
        reps, members = _collapse_members(corpus, id_col, vec_col, k)
        corpus_side = reps.select(
            F.col("_rep").alias(id_col), F.col("_rvec").alias(vec_col)
        )
    else:
        corpus_side = corpus
    c_assigned = ivf_assign(
        pq_encode(corpus_side, codebooks, id_col, vec_col),
        centroids,
        id_col,
        vec_col,
        n_probe=1,
        extra_cols=code_cols,
    ).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id", *code_cols
    )
    q_assigned = ivf_assign(
        queries, centroids, id_col, vec_col, n_probe=n_probe
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "centroid_id",
    )
    # ADC via HOFs: per subspace, a zip_with/aggregate left-fold partial
    # dot of the exact query subvector against the coded centroid, then
    # the partials chained in subspace order — the oracle replays the
    # identical per-subspace-then-sum float grouping
    adc = F.lit(0.0)
    n2 = F.lit(0.0)
    norm2 = [[fold_dot_py(c, c) for c in book] for book in codebooks]
    for m, book in enumerate(codebooks):
        # nested-list literals (see pq_encode) — same ADC float chain,
        # ~2·ksub·sd fewer py4j calls per subspace
        lit_book = lit_double_matrix(book)
        code = F.col(f"code_{m}")
        cvec = F.element_at(lit_book, code + 1)
        qsub = F.slice(F.col("q_vec"), m * sd + 1, sd)
        adc = adc + F.aggregate(
            F.zip_with(qsub, cvec, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, t: a + t,
        )
        n2 = n2 + F.element_at(
            lit_doubles(norm2[m]), code + 1
        )
    if collapse_identical:
        scored = c_assigned.join(F.broadcast(q_assigned), "centroid_id").select(
            "query_id",
            F.col("neighbor_id").alias("_rep"),
            (adc / (_norm(F.col("q_vec")) * F.sqrt(n2))).alias("cosine"),
        )
        return _expand_topk(scored, members, k, round_before_rank=False)
    scored = (
        c_assigned.join(F.broadcast(q_assigned), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (adc / (_norm(F.col("q_vec")) * F.sqrt(n2))).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = 8,
    rounds: int = 2,
    threshold: float = 0.4,
    collapse_identical: bool = False,
    coarse: int | None | str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    removal with the pair space bounded by k-means clustering instead of
    LSH buckets — the curation step that drops paraphrases and template
    variants exact/minhash dedup cannot see.

    1. Cluster every vector with the deterministic fixed-point k-means
       (:func:`..operators.clustering.kmeans_assign` — engine-pinned
       assignments, so the DuckDB twin lands on identical clusters).
    2. Intra-cluster pairwise cosine via an EQUI-join on the cluster id:
       candidates are Σ_c m_c² , never corpus² — the clustering is the
       blocking structure, exactly the LSH-band role in minhash dedup.
    3. Keep-min-id survivorship: a row is a duplicate iff some LOWER-id
       member of its cluster reaches ``threshold`` cosine.

    Output: (id, cluster, keep) for every input row.

    Scale shape: at 100 TB, k must grow with the corpus (SemDeDup uses
    k ≈ √N) so per-cluster membership stays bounded; the join is a plain
    shuffle equi-join, so AQE's skew-join split handles a hot cluster,
    and the dot product runs as JVM zip_with/aggregate folds — no
    Python, no driver-side matrices.  ``k=None`` applies that valve
    automatically (k = max(8, round(√N)), one count job) — measured at
    the sf1 rehearsal: fixed k=8 on 20k vectors took 51.7 s, √N k=141
    took 34.1 s, and the gap widens with N as the pair join (Σ m_c² ≈
    N²/k) overtakes the assignment's N·k distance work.  The catalog
    entry pins k=8 so its static SQL twin stays reproducible.

    ``coarse`` bounds the ASSIGNMENT stage, which at k=√N is otherwise
    N·k = N^1.5 distance folds — the one stage whose asymptotics used
    to bend wrong two decades past sf10.  ``"auto"`` (default) turns
    the two-level quantizer on exactly when the √N valve chose k
    (coarse = max(2, round(√k)) → N·2√k = N^1.25 total folds, see
    :func:`..operators.clustering.kmeans_assign`), and keeps explicit-k
    calls (the catalog's pinned k=8, every pre-round-10 caller) on the
    flat bit-identical path.  Pass an int to force a cell count, or
    ``None`` to force flat assignment at any k.  Measured (round-10
    embeddings ladder, local[32]): isolated assignment at sf10
    (N=200k, k=447, coarse=21) 97.4 s flat → 18.4 s hierarchical
    (5.3×), decade ratio sf1→sf10 18× flat vs 1.6× hier; full
    semantic_dedup at sf10 118.4 s → 72.9 s (the remainder is the
    pair join, identical shape in both).  At sf1 (N=20k, k=141) the
    two are at parity (~12 s whole-op) — the crossover sits near
    N≈50k, below which hier's extra exchanges cost what its fold
    savings earn.  The dedup quality trade (a vector's true nearest
    fine centroid may sit in another cell) is the standard IVF
    approximation and only moves cluster BOUNDARIES — SemDeDup's
    clustering is a blocking structure, not the answer; at sf10 the
    hier run kept 22,286 of 200k vs flat's 18,282 (different, equally
    valid blocking).

    ``collapse_identical=True`` is the MASS-DUPLICATION valve, and
    unlike the LSH star caps it is OUTPUT-EXACT: AQE can split a hot
    cluster's shuffle partitions, but not the Σ m_c² pair count itself
    — one vector duplicated 1 M times is ~5·10^11 intra-cluster pairs
    no matter how they are partitioned.  The k-means assignment still
    runs on the FULL corpus (it is the linear, broadcast-shaped stage —
    and seeding/centroids depend on duplicate multiplicity, so
    clustering representatives would change assignments); only the
    quadratic pair join collapses to one min-id representative per
    byte-identical vector group.  Equivalence: a representative r is a
    dup in the full run iff some lower-id same-cluster member y reaches
    threshold; rep(y) ≤ y has y's exact vector, hence y's cluster and
    cosine, so the rep-level test fires iff the full run's does.  A
    non-representative x always has the lower-id identical-vector
    rep(x) in its own cluster, so x is a dup iff cosine(v, v) reaches
    threshold — evaluated per row with the same rounded expression, so
    the zero-vector NaN case classifies exactly as the full run would.
    Default False keeps the single-pass shape the catalog oracle
    hashes.

    100 TB steer: even with the √N k valve the intra-cluster pair join
    is Σ m_c² ≈ N^1.5 — at web scale prefer
    :func:`semantic_dedup_windowed`, which replaces the all-pairs join
    with a sorted per-cluster neighbor WINDOW (O(N·w) candidates,
    recall measured by the ``semantic_windowed_recall`` catalog entry);
    combine with ``collapse_identical=True`` when mass duplication is
    expected.  This entry keeps the exact all-pairs semantics the
    oracle hashes.
    """
    from ..cache import tracked_persist
    from .clustering import kmeans_assign

    if coarse == "auto":
        # two-level assignment exactly when the √N valve scales k with
        # the corpus; explicit-k callers stay on the flat path their
        # oracles replay
        coarse = "sqrt_k" if k is None else None
    if k is None:
        k = max(8, round(embeddings.count() ** 0.5))
    if coarse == "sqrt_k":
        coarse = max(2, round(k ** 0.5))
    # the assignment feeds three consumers (both pair sides + the output
    # join); persist the narrow (id, cluster) table so the unrolled
    # k-means plan runs once — at any scale this is 16 bytes/row, the
    # standard SemDeDup materialization.  Harnesses drop it via
    # cache.release_persisted().
    assign = tracked_persist(
        kmeans_assign(
            embeddings, id_col, vec_col, k=k, rounds=rounds, coarse=coarse
        ).select(F.col(id_col).alias("vid"), "cluster")
    )
    # norms computed ONCE per member (map-side), not per pair — the pair
    # join then pays only the dot fold, a 3× cut of the per-pair work
    vecs = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    if collapse_identical:
        # one min-id representative per byte-identical vector group;
        # the pair join below sees representatives only
        reps = tracked_persist(
            embeddings.groupBy(F.col(vec_col).alias("_v")).agg(
                F.min(F.col(id_col)).alias("_rep")
            )
        )
        vecs = vecs.join(
            reps.select(F.col("_rep").alias("vid")), "vid", "leftsemi"
        )
    members = assign.join(vecs, "vid")
    a = members.select(
        F.col("vid").alias("id_a"),
        "cluster",
        F.col("vec").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = members.select(
        F.col("vid").alias("id_b"),
        "cluster",
        F.col("vec").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dup_ids = (
        a.join(b, "cluster")
        .filter(F.col("id_b") < F.col("id_a"))
        # round to 4 digits before the threshold test (the cosine_topk
        # convention): DuckDB's list_cosine_similarity associates the
        # sum/sqrt differently, so an unrounded pair within an ULP of
        # the threshold could classify differently across engines
        .filter(
            F.round(
                _dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                4,
            )
            >= F.lit(threshold)
        )
        .select(F.col("id_a").alias("vid"))
        .distinct()
    )
    if collapse_identical:
        # expand rep-level verdicts back to every copy: a rep keeps per
        # the (equivalent) rep-level test; a non-rep always has its
        # lower-id identical-vector rep in-cluster, so it is a dup iff
        # its self-cosine reaches threshold (same rounded expression,
        # exact NaN classification for zero vectors).  eqNullSafe +
        # the outer coalesce keep NULL-embedding rows: groupBy groups
        # nulls into one rep group, a plain == join would drop them,
        # and the base path classifies them keep=True (null cosine
        # never reaches the threshold filter) — match that exactly.
        self_cos = F.round(
            _dot(F.col(vec_col), F.col(vec_col))
            / (_norm(F.col(vec_col)) * _norm(F.col(vec_col))),
            4,
        )
        return (
            embeddings.select(id_col, vec_col)
            .join(reps, F.col(vec_col).eqNullSafe(F.col("_v")))
            .join(assign, F.col(id_col) == F.col("vid"))
            .join(
                dup_ids.select(F.col("vid").alias("_rep")).withColumn(
                    "_dup", F.lit(True)
                ),
                "_rep",
                "left",
            )
            .select(
                F.col(id_col),
                "cluster",
                F.when(
                    F.col(id_col) == F.col("_rep"),
                    F.coalesce(~F.col("_dup"), F.lit(True)),
                )
                .otherwise(
                    F.coalesce(~(self_cos >= F.lit(threshold)), F.lit(True))
                )
                .alias("keep"),
            )
        )
    return (
        assign.join(dup_ids.withColumn("_dup", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cluster",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def semantic_dedup_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    rounds: int = 2,
    threshold: float = 0.4,
    coarse: int | None = None,
) -> str:
    """DuckDB twin of :func:`semantic_dedup`: the k-means twin as a
    nested CTE (identical assignments by construction, two-level when
    ``coarse`` is set), then the same intra-cluster lower-id cosine
    rule."""
    from .clustering import kmeans_assign_sql

    km = kmeans_assign_sql(
        table, id_col, vec_col, k=k, rounds=rounds, coarse=coarse
    )
    return f"""
    WITH assign AS ({km}),
    dups AS (
      SELECT DISTINCT a.{id_col} AS vid
      FROM assign a
      JOIN assign b ON b.cluster = a.cluster AND b.{id_col} < a.{id_col}
      JOIN {table} ea ON ea.{id_col} = a.{id_col}
      JOIN {table} eb ON eb.{id_col} = b.{id_col}
      WHERE round(list_cosine_similarity(CAST(ea.{vec_col} AS DOUBLE[]),
                                         CAST(eb.{vec_col} AS DOUBLE[])), 4)
            >= {threshold!r}
    )
    SELECT a.{id_col}, a.cluster,
           (d.vid IS NULL) AS keep
    FROM assign a LEFT JOIN dups d ON d.vid = a.{id_col}
    """


def semantic_dedup_windowed(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = 8,
    rounds: int = 2,
    threshold: float = 0.4,
    window: int = 16,
    coarse: int | None | str = "auto",
) -> DataFrame:
    """SemDeDup with the intra-cluster pair join VALVED to a
    centroid-distance neighbor window — the scale form of
    :func:`semantic_dedup` for corpora where even k ≈ √N leaves
    Σ_c m_c² ≈ N^1.5 candidate pairs (the last wrong-bending stage of
    the exact operator at 100 TB).

    Members of each cluster are ranked by EXACT int64 squared distance
    to the recomputed cluster centroid (same 2^20 fixed-point
    quantization as :func:`..operators.clustering.kmeans_assign`, so
    the rank is engine-independent; ties break on id), and only pairs
    within ``window`` ranks of each other are cosine-tested.  Rationale
    (the SemDeDup observation that makes this a good window, not a
    random sample): near-duplicate vectors have near-identical
    distances to ANY fixed point — |d(a,c) − d(b,c)| ≤ d(a,b) by the
    triangle inequality — so semantic duplicates sit at adjacent ranks
    in the centroid-distance order.  Misses happen only when > window−1
    OTHER members interleave between two duplicates' ranks.

    Scale shape: candidates are Σ_c m_c·window ≈ N·window — LINEAR in
    the corpus for fixed window, vs the exact operator's Σ_c m_c²
    (N^1.5 at the k=√N valve).  The pairing is a block equi-join
    (rank-block b = ⌊(r−1)/window⌋; the lower-rank side explodes to
    {b, b+1}, candidates meet on (cluster, block) and filter to rank
    distance ≤ window), so no window-function state and no range join;
    a hot cluster splits across blocks like any equi-key under AQE.

    Recall story (measured per round in tests/BENCH artifacts): this is
    an APPROXIMATION — recall vs exact SemDeDup < 1 by design.  Keep
    the exact operator for corpora that fit it; switch to this entry
    when the pair join dominates.  ``window ≥ max cluster size`` makes
    it EXACT (every intra-cluster pair ranks within the window), which
    is the oracle-synchronized equivalence the parity test pins.

    Output: (id, cluster, keep) — same schema and survivorship rule as
    :func:`semantic_dedup` (a row is a duplicate iff some LOWER-id
    member within its rank window reaches ``threshold`` cosine).
    """
    from ..cache import tracked_persist
    from .clustering import KM_SCALE, kmeans_assign

    if coarse == "auto":
        coarse = "sqrt_k" if k is None else None
    if k is None:
        k = max(8, round(embeddings.count() ** 0.5))
    if coarse == "sqrt_k":
        coarse = max(2, round(k ** 0.5))
    assign = tracked_persist(
        kmeans_assign(
            embeddings, id_col, vec_col, k=k, rounds=rounds, coarse=coarse
        ).select(F.col(id_col).alias("vid"), "cluster")
    )
    quant = embeddings.select(
        F.col(id_col).alias("vid"),
        F.transform(
            F.col(vec_col),
            lambda e: F.floor(
                e.cast("double") * F.lit(float(KM_SCALE)) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("xq"),
    )
    qa = quant.join(assign, "vid")
    # ranking centroid: recomputed from the FINAL assignment's members
    # (floor(mean+0.5) over quantized components — the same integer
    # formula as the k-means update, so the SQL twin recomputes the
    # identical centroid from the identical assignments without the
    # engine exposing k-means internals)
    cents = (
        qa.select("cluster", F.posexplode("xq").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(
            F.floor(F.sum("x") / F.count("*") + F.lit(0.5))
            .cast("bigint")
            .alias("c")
        )
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s["c"],
            ).alias("cq")
        )
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("xq"), F.col("cq"), lambda x, c: (x - c) * (x - c)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, e: acc + e,
    )
    # asc_nulls_last: a NULL/empty vector folds to NULL d2 in Spark but
    # has no long-form rows in the twin — both must rank LAST (DuckDB's
    # ASC default) so null-vec members never perturb real ranks
    wr = Window.partitionBy("cluster").orderBy(
        F.col("_d2").asc_nulls_last(), "vid"
    )
    ranked = (
        qa.join(F.broadcast(cents), "cluster", "left")
        .select("vid", "cluster", d2.alias("_d2"))
        .withColumn("r", F.row_number().over(wr))
        .select("vid", "cluster", "r")
    )
    vecs = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    members = ranked.join(vecs, "vid")
    blk = F.floor((F.col("r") - F.lit(1)) / F.lit(window)).cast("bigint")
    lo = members.select(
        F.col("vid").alias("id_lo"),
        "cluster",
        F.col("r").alias("r_lo"),
        F.col("vec").alias("vec_lo"),
        F.col("nrm").alias("nrm_lo"),
        # a pair with 1 <= r_hi - r_lo <= window has blk_hi in
        # {blk_lo, blk_lo+1}: exploding the lower-rank side to both
        # blocks meets each candidate pair EXACTLY once on (cluster,
        # blk) — the two explode values can never both equal blk_hi
        F.explode(F.array(blk, blk + F.lit(1))).alias("blk"),
    )
    hi = members.select(
        F.col("vid").alias("id_hi"),
        "cluster",
        F.col("r").alias("r_hi"),
        F.col("vec").alias("vec_hi"),
        F.col("nrm").alias("nrm_hi"),
        blk.alias("blk"),
    )
    dup_ids = (
        lo.join(hi, ["cluster", "blk"])
        .filter(
            (F.col("r_hi") > F.col("r_lo"))
            & (F.col("r_hi") <= F.col("r_lo") + F.lit(window))
        )
        .filter(
            F.round(
                _dot(F.col("vec_lo"), F.col("vec_hi"))
                / (F.col("nrm_lo") * F.col("nrm_hi")),
                4,
            )
            >= F.lit(threshold)
        )
        # survivorship is by ID, not rank: the higher-ID side of a
        # qualifying pair is the duplicate, exactly the base rule
        # restricted to window candidates
        .select(F.greatest(F.col("id_lo"), F.col("id_hi")).alias("vid"))
        .distinct()
    )
    return assign.join(
        dup_ids.withColumn("_dup", F.lit(True)), "vid", "left"
    ).select(
        F.col("vid").alias(id_col),
        "cluster",
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
    )


def semantic_dedup_windowed_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    rounds: int = 2,
    threshold: float = 0.4,
    window: int = 16,
    coarse: int | None = None,
) -> str:
    """DuckDB twin of :func:`semantic_dedup_windowed`: the k-means twin
    CTE, the same post-assignment integer centroid recompute, the same
    (d2 NULLS LAST, id) rank, a rank-range pair join (DuckDB's IEJoin
    handles the range directly — no need for the engine's block trick
    at oracle scale), and the same higher-id-is-dup survivorship."""
    from .clustering import KM_SCALE, kmeans_assign_sql

    km = kmeans_assign_sql(
        table, id_col, vec_col, k=k, rounds=rounds, coarse=coarse
    )
    return f"""
    WITH assign AS ({km}),
    lf AS MATERIALIZED (
      SELECT {id_col} AS vid,
             generate_subscripts({vec_col}, 1) - 1 AS dim,
             CAST(floor(CAST(unnest({vec_col}) AS DOUBLE)
                        * {float(KM_SCALE)!r} + 0.5) AS BIGINT) AS x
      FROM {table}
    ),
    cents AS MATERIALIZED (
      SELECT a.cluster, l.dim,
             CAST(floor(sum(l.x) / count(*) + 0.5) AS BIGINT) AS c
      FROM lf l JOIN assign a ON a.{id_col} = l.vid
      GROUP BY 1, 2
    ),
    dist AS MATERIALIZED (
      SELECT l.vid, sum((l.x - c.c) * (l.x - c.c)) AS d2
      FROM lf l
      JOIN assign a ON a.{id_col} = l.vid
      JOIN cents c ON c.cluster = a.cluster AND c.dim = l.dim
      GROUP BY 1
    ),
    ranked AS MATERIALIZED (
      SELECT a.{id_col} AS vid, a.cluster,
             row_number() OVER (
               PARTITION BY a.cluster
               ORDER BY d.d2 ASC NULLS LAST, a.{id_col}) AS r
      FROM assign a LEFT JOIN dist d ON d.vid = a.{id_col}
    ),
    dups AS (
      SELECT DISTINCT
             CASE WHEN lo.vid > hi.vid THEN lo.vid ELSE hi.vid END AS vid
      FROM ranked lo
      JOIN ranked hi ON hi.cluster = lo.cluster
                    AND hi.r > lo.r AND hi.r <= lo.r + {window}
      JOIN {table} ea ON ea.{id_col} = lo.vid
      JOIN {table} eb ON eb.{id_col} = hi.vid
      WHERE round(list_cosine_similarity(CAST(ea.{vec_col} AS DOUBLE[]),
                                         CAST(eb.{vec_col} AS DOUBLE[])), 4)
            >= {threshold!r}
    )
    SELECT a.{id_col}, a.cluster,
           (d.vid IS NULL) AS keep
    FROM assign a LEFT JOIN dups d ON d.vid = a.{id_col}
    """
