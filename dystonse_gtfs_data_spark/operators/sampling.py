"""Deterministic sampling / dataset-assembly operators for training-data
pipelines: hash-stratified sampling, mixture construction to a token
budget, and sequence packing.

Beyond-reference family (the reference engine has no corpus path); these
are the operations that turn a cleaned corpus into an actual training
set.  Everything is deterministic — sampling decisions are pure
functions of the row key via the portable md5 fold
(:func:`..operators.dedup.portable_base_hash`), so a re-run, a retried
task, or an independent engine (the DuckDB oracle twin) reproduces the
exact same sample.  No ``rand()`` anywhere: nondeterministic sampling
breaks task-retry exactly-once semantics on a real cluster.

All decisions are map-side filters or one small aggregate + broadcast
join — nothing here shuffles the corpus itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ws_token_count, ws_token_count_sql
from .dedup import portable_base_hash, portable_base_hash_sql

#: bucket granularity for hash-rate filters.  10^4 keeps every integer
#: product in the mixture inequality (bucket × corpus-token-count) within
#: int64 even at 100 TB scale (10^4 × ~10^13 tokens ≈ 10^17 < 2^63).
SAMPLE_BUCKETS = 10_000


def sample_bucket(col, buckets: int = SAMPLE_BUCKETS):
    """Deterministic bucket in [0, buckets) from any key column.

    Portable across engines (md5 fold), uniform enough for rate
    filtering, and independent of partitioning / row order.
    """
    return F.pmod(portable_base_hash(col.cast("string")), F.lit(buckets))


def sample_bucket_sql(expr: str, buckets: int = SAMPLE_BUCKETS) -> str:
    fold = portable_base_hash_sql(f"substr(md5(CAST({expr} AS VARCHAR)), 1, 15)")
    return f"(({fold}) % {buckets})"


def hash_stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    buckets: int = SAMPLE_BUCKETS,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows.

    A row survives iff ``bucket(id) < round(rate × buckets)`` — an exact
    integer comparison, so the kept set is reproducible bit-for-bit by
    any engine that can compute the md5 fold.  This is the standard
    down-sample step when rebalancing a corpus (e.g. cap English at 30%
    while keeping low-resource languages whole).

    Scale: a pure map-side filter — no shuffle, no aggregate; predicate
    and md5 both run inside whole-stage codegen.
    """
    thr = F.lit(int(round(default_rate * buckets)))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(int(round(rate * buckets)))
        ).otherwise(thr)
    return docs.where(sample_bucket(F.col(id_col), buckets) < thr)


def dataset_mixture(
    docs: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = SAMPLE_BUCKETS,
) -> DataFrame:
    """Down-sample each source to an (expected) per-source token budget.

    Two passes: (1) aggregate per-source total token counts — a tiny
    result, broadcast back; (2) keep a doc iff
    ``bucket(id) × total_source_tokens < budget × buckets``.  The
    take-rate ``budget / total`` is therefore never materialised as a
    float: the inequality is exact int64 arithmetic, so the sample is
    engine-reproducible.  Sources already under budget keep every row
    (bucket < buckets always holds when total ≤ budget).

    Scale: the groupBy shuffles only (source, partial count) pairs
    (map-side combine), the join side is a handful of rows (broadcast),
    and the filter is map-side.  The corpus itself never shuffles.
    """
    toks = ws_token_count(F.col(text_col)).alias("__n_tok")
    totals = (
        docs.select(F.col(source_col), toks)
        .groupBy(source_col)
        .agg(F.sum("__n_tok").alias("__total_tok"))
    )
    return (
        docs.join(F.broadcast(totals), source_col)
        .where(
            sample_bucket(F.col(id_col), buckets) * F.col("__total_tok")
            < F.lit(int(budget_tokens)) * F.lit(buckets)
        )
        .drop("__total_tok")
    )


def pack_sequences(
    docs: DataFrame,
    capacity_tokens: int,
    part_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign docs to fixed-capacity training bins (sequence packing).

    Streaming-pack semantics: within each ``part_col`` partition, docs
    are taken in ``order_col`` order and a doc goes into bin
    ``floor(tokens_before_it / capacity)`` — the cumulative-sum
    formulation of next-fit packing where a bin may overflow by at most
    one document (the standard relaxation; exact next-fit needs a
    sequential scan that no engine parallelises).  Deterministic given
    the ordering columns.

    Returns one row per (partition, bin): doc count, token sum, and the
    exact fill ratio as DECIMAL (engine-stable).

    Scale: the window is partitioned by ``part_col`` — never a single
    global ordering, which would serialise the corpus through one task.
    Skewed sources should be pre-split (salt the partition column) the
    same way any windowed pipeline handles hot keys.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = ws_token_count(F.col(text_col))
    binned = docs.select(
        F.col(part_col),
        F.col(order_col),
        n_tok.alias("n_tok"),
    ).withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / F.lit(capacity_tokens)
        ),
    )
    return binned.groupBy(part_col, "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("token_sum"),
        (
            F.sum("n_tok").cast("decimal(18,6)") / F.lit(capacity_tokens)
        ).alias("fill_ratio"),
    )


def mixture_oracle_sql(
    budget_tokens: int,
    buckets: int = SAMPLE_BUCKETS,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`dataset_mixture` (same integer inequality)."""
    return f"""
    WITH counted AS (
      SELECT *, {ws_token_count_sql('text')} AS n_tok,
             {sample_bucket_sql('doc_id', buckets)} AS bucket
      FROM {table}
    ),
    totals AS (
      SELECT source, sum(n_tok) AS total_tok FROM counted GROUP BY source
    )
    SELECT c.doc_id, c.source
    FROM counted c JOIN totals t USING (source)
    WHERE c.bucket * t.total_tok < {int(budget_tokens)} * {buckets}
    """


#: the portable md5 fold covers [0, 16^15) = [0, 2^60)
_HASH_SPACE = 1 << 60

#: log-scale rank-hash histogram: 64 minor buckets per octave over the
#: 60-bit hash space — 3841 possible bucket indices, the bound on any
#: key's aggregation state regardless of its row count
_RSV_MINOR = 64
_RSV_MAX_BUCKET = 60 * _RSV_MINOR


def deterministic_reservoir(
    df: DataFrame,
    key_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exactly-k-per-key deterministic "reservoir": rank rows inside each
    key by a salted portable hash of their id (a fixed uniform-random
    permutation any engine reproduces) and keep the first ``k``.

    Scale shape — a per-key histogram cutoff, not a per-key sort of the
    corpus, and (since round 6) not a driver-side probe either:

    1. One aggregation pass buckets every row's rank hash into a
       log-scale histogram: ``bucket(hv) = floor(64 · (60 − log2(hv+1)))``
       — a weakly DECREASING step function of ``hv`` with at most 3841
       distinct values, so per-key state is bounded (hot-key safe; no
       unbounded collect_list of row values, only of (bucket, count)
       pairs capped at 3841).
    2. A per-key fold over that tiny histogram finds the smallest
       bucket index ``b`` whose descending cumulative count reaches
       ``min(k, n)``.  Because the bucketization is weakly monotone,
       every row whose hash ranks in the key's top-k lies in a bucket
       ``>= b`` — exactness holds BY CONSTRUCTION for any hash
       distribution, not with high probability.
    3. The corpus passes through a broadcast-join + map-only filter
       ``bucket(hv) >= b``; only the ~k survivors per key (top-k plus
       the boundary bucket's handful of extras) reach the ranking
       window.

    Net exchange volume is O(keys · k) and the operator is fully LAZY:
    the round-5 design verified exactness with a driver-side probe job
    (``bad.limit(1).count()``) before returning, because its uniform
    threshold could clip a key's top-k with ~1e-8 probability and AQE
    cannot prune the in-plan fallback branch at runtime; the histogram
    cutoff cannot clip, so the probe, its persisted intermediates, and
    the fallback union are all gone (one fewer Spark job per call,
    asserted by test).  Unlike rate-based
    :func:`hash_stratified_sample` (map-only, approximate counts), this
    guarantees the exact per-key sample size a curriculum or eval-split
    builder needs.

    Float caveat: ``log2`` over a double is only used as a MONOTONE
    bucketizer evaluated by the SAME expression on both passes — exact
    bucket boundaries are irrelevant to correctness, so double rounding
    above 2^53 is harmless."""
    h = portable_base_hash(
        F.concat(F.lit("rsv:"), F.col(id_col).cast("string"))
    ).alias("hv")
    bucket = (
        F.least(
            F.greatest(
                F.floor(
                    F.lit(float(_RSV_MINOR))
                    * (F.lit(60.0) - F.log2(F.col("hv").cast("double") + F.lit(1.0)))
                ),
                F.lit(0),
            ),
            F.lit(_RSV_MAX_BUCKET),
        )
        .cast("int")
        .alias("_bkt")
    )
    base = df.select(F.col(key_col), F.col(id_col), h).select("*", bucket)

    # data-derived only (counts, not partition layout) → the sample is
    # invariant under repartitioning, as the determinism contract demands
    hist = base.groupBy(key_col, "_bkt").agg(F.count("*").alias("_c"))
    cut = hist.groupBy(key_col).agg(
        F.sum("_c").alias("_n"),
        F.collect_list(F.struct("_bkt", "_c")).alias("_hist"),
    )
    # smallest bucket index whose descending cumulative count covers
    # min(k, n): a fold over <= 3841 histogram entries, pure JVM
    cut = cut.select(
        key_col,
        F.expr(
            f"""aggregate(
              sort_array(_hist, false),
              named_struct('cum', CAST(0 AS BIGINT), 'b', 0),
              (acc, x) -> IF(acc.cum >= least(CAST({int(k)} AS BIGINT), _n),
                             acc,
                             named_struct('cum', acc.cum + x._c, 'b', x._bkt)),
              acc -> acc.b
            )"""
        ).alias("_b"),
    )
    surv = (
        base.join(F.broadcast(cut), key_col)
        .where(F.col("_bkt") >= F.col("_b"))
        .select(key_col, id_col, "hv")
    )
    w = Window.partitionBy(key_col).orderBy("hv", id_col)
    return (
        surv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(key_col, id_col, "rn")
    )


#: weighted_sample ranks rows by the TOP 40 bits of the 60-bit fold:
#: 2^-40 keep-probability resolution is ample, and the smaller operand
#: keeps every decimal128 product exact up to W_total ≈ 10^25 (the full
#: 60-bit hash overflowed — silently NULLing the filter in non-ANSI
#: Spark while the DuckDB HUGEINT twin raised — once W_total ~ 10^19)
_WS_SHIFT = 20
_WS_SPACE = 1 << 40


def weighted_sample(
    docs: DataFrame,
    target_fraction: float,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weight-proportional sampling: a row survives iff

        (hash(id) >> 20) · W_total  <  weight · target_fraction · 2^40 · N

    where ``W_total = Σ weight`` and ``N = count(*)`` — i.e. each row's
    keep probability is ``target_fraction · N · weight / W_total``
    (importance sampling toward heavy documents; the expected kept
    fraction of ROWS is ``target_fraction`` when weights are uniform,
    and the expected kept fraction of WEIGHT is higher — the standard
    token-weighted corpus downsample).

    All arithmetic stays EXACT: the inequality multiplies int64s into
    DECIMAL(38,0) (Spark decimal128 / DuckDB HUGEINT both compute it
    exactly), so the kept set is bit-reproducible by any engine — no
    float rate, no rand().  Both products carry a RUNTIME GUARD: if the
    corpus's weight magnitudes ever exceed the decimal128-exact range
    (W_total ≥ 10^25, or max-weight · scale · N ≥ 10^37) the filter
    raises instead of letting non-ANSI Spark NULL the comparison and
    silently drop rows.  Scale: one tiny global agg broadcast back,
    then a map-only filter."""
    h = F.shiftright(portable_base_hash(F.col(id_col).cast("string")), _WS_SHIFT)
    tot = docs.agg(
        F.sum(F.col(weight_col)).cast("decimal(38,0)").alias("_wtot"),
        F.count("*").cast("decimal(38,0)").alias("_n"),
        F.max(F.col(weight_col)).cast("decimal(38,0)").alias("_wmax"),
    )
    scale = int(round(target_fraction * _WS_SPACE))
    # big-integer literals exceed F.lit's int64 range — parse as SQL
    dec = lambda v: F.expr(f"CAST({v} AS DECIMAL(38,0))")  # noqa: E731
    # hv < 2^40, so hv·W_total < 10^37 needs W_total < ~9·10^24; the
    # right-hand product is bounded via max(weight) — a NULL guard
    # (overflow inside the guard product itself) also routes to raise
    guard = (F.col("_wtot") < dec(10**25)) & (
        F.col("_wmax") * dec(scale) * F.col("_n") < dec(10**37)
    )
    keep = h.cast("decimal(38,0)") * F.col("_wtot") < F.col(weight_col).cast(
        "decimal(38,0)"
    ) * dec(scale) * F.col("_n")
    return (
        docs.join(F.broadcast(tot))
        .where(
            F.when(guard, keep).otherwise(
                F.raise_error(
                    F.lit(
                        "weighted_sample: weight magnitudes exceed the "
                        "decimal128-exact range (W_total >= 1e25) — rescale "
                        "weights before sampling"
                    )
                ).cast("boolean")
            )
        )
        .drop("_wtot", "_n", "_wmax")
    )


def weighted_sample_sql(
    table: str,
    target_fraction: float,
    weight_col: str,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`weighted_sample` (HUGEINT-exact; DuckDB
    raises on HUGEINT overflow, matching the Spark side's guard)."""
    fold = portable_base_hash_sql(
        f"substr(md5(CAST({id_col} AS VARCHAR)), 1, 15)"
    )
    scale = int(round(target_fraction * _WS_SPACE))
    return f"""
    SELECT t.* FROM {table} t,
      (SELECT CAST(sum({weight_col}) AS HUGEINT) AS wtot,
              CAST(count(*) AS HUGEINT) AS n FROM {table}) s
    WHERE CAST(({fold}) // {1 << _WS_SHIFT} AS HUGEINT) * s.wtot
          < CAST({weight_col} AS HUGEINT) * CAST({scale} AS HUGEINT) * s.n
    """


def cap_per_key(
    df: DataFrame,
    key_cols: list[str],
    n: int,
    order_cols: list,
) -> DataFrame:
    """Deterministic per-key cap — the anti-spam / anti-domination pass
    a crawl pipeline runs before mixing (CommonCrawl-derived sets cap
    documents per registered domain so no host dominates the corpus).

    Keeps the first ``n`` rows of each key group in ``order_cols`` order
    (rank them best-first: quality desc, then an id tie-break so the cut
    is total and engine-independent), emitting ``key_rank`` so callers
    can audit how deep each key ran.

    Scale shape: one hash shuffle on the key + a within-partition sort —
    the standard window top-n.  A pathologically hot key concentrates
    its sort in one task; at that point pre-prune with the two-phase
    trick (cap per (key, salt) at n first — any row ranked > n within
    its salt bucket cannot rank <= n globally — then re-rank the
    survivors, <= salt x n rows per key, exactly).
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("key_rank", F.row_number().over(w))
        .filter(F.col("key_rank") <= n)
    )


def unimax_allocation(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: int = 4,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = SAMPLE_BUCKETS,
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023,
    arXiv:2304.09151): split a total token budget across languages as
    uniformly as possible subject to a per-language repeat cap —
    water-filling where language L contributes ``min(cap_L, t)`` tokens,
    ``cap_L = tokens_L x max_epochs``, and the water level ``t`` solves
    ``sum(min(cap_L, t)) = budget``.

    The allocation math runs on the per-language aggregate frame (one
    row per language — tiny by construction), entirely as window
    functions: rank languages by capacity ascending; the candidate
    level with the first ``i-1`` languages fully capped is
    ``t_i = (B - prefix_cap) / (N - i + 1)``, and the true level is the
    first candidate satisfying ``t_i <= cap_i`` (none ⇒ the budget
    covers every cap).  No driver collect, no join: the level is
    selected with two more windows over the same frame.

    The allocation then turns into an actual selection: ``alloc_L``
    tokens means ``floor(alloc/total)`` full epochs of language L plus a
    partial epoch chosen by the repo's deterministic hash-rate filter
    (``bucket(id) x total < remainder x buckets`` — exact int64
    arithmetic, map-side, identical in any engine).  The corpus itself
    never shuffles: the only aggregations are per-language sums.

    Output: one row per language — totals, cap, the exact allocation,
    full-epoch count, and the partial-epoch document/token counts.
    """
    n_tok = ws_token_count(F.col(text_col))
    per_doc = docs.select(
        F.col(lang_col), F.col(id_col), n_tok.alias("_n_tok")
    )
    totals = per_doc.groupBy(lang_col).agg(
        F.count("*").alias("n_docs"), F.sum("_n_tok").alias("tot_tokens")
    )
    # water-filling on the tiny per-language frame (window functions on
    # an intentionally global window: N = number of languages)
    w_all = Window.partitionBy(F.lit(1))
    w_ord = w_all.orderBy("cap_tokens", lang_col)
    ranked = (
        totals.withColumn(
            "cap_tokens", F.col("tot_tokens") * F.lit(int(max_epochs))
        )
        .withColumn("_rn", F.row_number().over(w_ord))
        .withColumn("_nl", F.count("*").over(w_all))
        .withColumn(
            "_pref",
            F.sum("cap_tokens").over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "_t",
            (
                F.lit(int(budget_tokens))
                - (F.col("_pref") - F.col("cap_tokens"))
            ).cast("double")
            / (F.col("_nl") - F.col("_rn") + 1),
        )
    )
    # the true level is the FIRST (by rank) candidate satisfying
    # t_i <= cap_i.  Selected with two more windows over the same tiny
    # frame rather than a join: a literal-keyed 1-row join would
    # constant-fold its equi-condition away and degenerate to a
    # BroadcastNestedLoopJoin.  Sentinel 8e18: "budget covers every
    # cap" — large enough that least() always picks the cap, small
    # enough to floor/cast into int64 in BOTH engines (1e308 would
    # overflow the BIGINT cast).
    alloc = (
        ranked.withColumn(
            "_vrn",
            F.min(
                F.when(F.col("_t") <= F.col("cap_tokens"), F.col("_rn"))
            ).over(w_all),
        )
        .withColumn(
            "_level",
            F.max(
                F.when(F.col("_rn") == F.col("_vrn"), F.col("_t"))
            ).over(w_all),
        )
        .withColumn(
            "alloc_tokens",
            F.least(
                F.col("cap_tokens"),
                F.floor(F.coalesce(F.col("_level"), F.lit(8.0e18)))
                .cast("long"),
            ),
        )
        .withColumn(
            "full_epochs", F.floor(F.col("alloc_tokens") / F.col("tot_tokens"))
        )
        .withColumn(
            "_rem", F.col("alloc_tokens") % F.col("tot_tokens")
        )
        .select(
            lang_col, "n_docs", "tot_tokens", "cap_tokens",
            "alloc_tokens", "full_epochs", "_rem",
        )
    )
    partial = (
        per_doc.join(F.broadcast(alloc), lang_col)
        .where(
            sample_bucket(F.col(id_col), buckets) * F.col("tot_tokens")
            < F.col("_rem") * F.lit(buckets)
        )
        .groupBy(lang_col)
        .agg(
            F.count("*").alias("partial_docs"),
            F.sum("_n_tok").alias("partial_tokens"),
        )
    )
    return (
        alloc.join(partial, lang_col, "left")
        .select(
            lang_col, "n_docs", "tot_tokens", "cap_tokens", "alloc_tokens",
            "full_epochs",
            F.coalesce("partial_docs", F.lit(0)).alias("partial_docs"),
            F.coalesce("partial_tokens", F.lit(0)).alias("partial_tokens"),
            F.round(
                F.col("alloc_tokens").cast("double") / F.col("tot_tokens"), 4
            ).alias("epochs_r"),
        )
    )


def unimax_oracle_sql(
    budget_tokens: int,
    max_epochs: int = 4,
    buckets: int = SAMPLE_BUCKETS,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`unimax_allocation` — identical window
    formulation, identical int64 partial-epoch inequality; the water
    level is a single IEEE-754 division in both engines, so comparisons
    against it agree bit-for-bit."""
    return f"""
    WITH per_doc AS (
      SELECT lang, doc_id, {ws_token_count_sql('text')} AS n_tok FROM {table}
    ),
    totals AS (
      SELECT lang, count(*) AS n_docs, sum(n_tok) AS tot_tokens,
             sum(n_tok) * {int(max_epochs)} AS cap_tokens
      FROM per_doc GROUP BY lang
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY cap_tokens, lang) AS rn,
             count(*) OVER () AS nl,
             sum(cap_tokens) OVER (ORDER BY cap_tokens, lang
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
      FROM totals
    ),
    lev AS (
      SELECT *,
             CAST({int(budget_tokens)} - (pref - cap_tokens) AS DOUBLE)
               / (nl - rn + 1) AS t
      FROM ranked
    ),
    vrn AS (
      SELECT *,
             min(CASE WHEN t <= cap_tokens THEN rn END) OVER () AS valid_rn
      FROM lev
    ),
    levelled AS (
      SELECT *,
             max(CASE WHEN rn = valid_rn THEN t END) OVER () AS level
      FROM vrn
    ),
    alloc AS (
      SELECT lang, n_docs, tot_tokens, cap_tokens,
             least(cap_tokens,
                   CAST(floor(coalesce(level, 8e18)) AS BIGINT))
               AS alloc_tokens
      FROM levelled
    ),
    alloc2 AS (
      SELECT *,
             CAST(floor(alloc_tokens / tot_tokens) AS BIGINT) AS full_epochs,
             alloc_tokens % tot_tokens AS rem
      FROM alloc
    ),
    partial AS (
      SELECT d.lang, count(*) AS partial_docs, sum(d.n_tok) AS partial_tokens
      FROM per_doc d JOIN alloc2 a ON a.lang = d.lang
      WHERE {sample_bucket_sql('d.doc_id', buckets)} * a.tot_tokens
            < a.rem * {buckets}
      GROUP BY d.lang
    )
    SELECT a.lang AS lang,
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(a.tot_tokens AS BIGINT) AS tot_tokens,
           CAST(a.cap_tokens AS BIGINT) AS cap_tokens,
           CAST(a.alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(a.full_epochs AS BIGINT) AS full_epochs,
           CAST(coalesce(p.partial_docs, 0) AS BIGINT) AS partial_docs,
           CAST(coalesce(p.partial_tokens, 0) AS BIGINT) AS partial_tokens,
           round(CAST(a.alloc_tokens AS DOUBLE) / a.tot_tokens, 4) AS epochs_r
    FROM alloc2 a LEFT JOIN partial p ON p.lang = a.lang
    """
