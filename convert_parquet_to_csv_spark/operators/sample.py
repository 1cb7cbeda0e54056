"""Seeded exact-n sampling (SURVEY.md §2 Op-4).

The reference draws exactly *n* rows uniformly, deterministic under a
seed: ``df.sample(n=i, seed=721)`` (reference utils.py:71-73, polars).
Spark's built-in ``DataFrame.sample`` is *fractional and approximate*
(Bernoulli per-row), so exact-n needs its own operator. Cross-engine
RNG parity is a non-goal (SURVEY.md §7.3); determinism under our own
seed is the requirement.

Three strategies, chosen by data size (``strategy="auto"`` — the
default — picks ``rand`` for n below :data:`AUTO_THRESHOLD_N` and
``threshold`` above, so a 100 TB caller asking for a billion rows
never funnels them through the driver merge by accident):

``rand``
    ``orderBy(rand(seed)).limit(n)``. Catalyst compiles Sort+Limit to
    ``TakeOrderedAndProject``: each partition keeps a size-n heap, the
    driver merges — **no full shuffle**, but the driver-side merge
    materializes up to n rows per partition heap: right for n up to
    ~1M, the wrong tool beyond (hence ``auto``).

``threshold``
    Two-phase for huge n where a driver-side merge of n rows is too
    big: assign r=rand(seed), keep r below an over-sampled cutoff
    (n/N · safety), then take the exact n smallest r by ranking a
    *range-partitioned*, partition-sorted copy of the tiny filtered
    set. Scales to any n; costs one count + one narrow filter + one
    sort of ~n·safety rows.

``hash``
    Deterministic pseudo-random order by ``md5(key)`` — no RNG at
    all, so the *same rows* are chosen by any engine (DuckDB oracle
    included). Same TakeOrderedAndProject physical shape as ``rand``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from convert_parquet_to_csv_spark.sources.io_ops import _with_row_index

DEFAULT_SEED = 721  # the reference's seed (utils.py:73)

# auto strategy cutoff: above this n, the TakeOrderedAndProject
# driver merge (n rows per partition heap) stops being cheap and the
# two-phase threshold strategy wins (VERDICT r2: the default must
# pick by size, not silently total-sort for huge n).
AUTO_THRESHOLD_N = 1_000_000


def _hash_order_col(df: DataFrame, key_cols: list[str] | None) -> Column:
    """md5 over the concatenated key rendering.

    NOTE: ``concat_ws`` SKIPS NULL columns, so multi-column keys with
    NULLs can collide (('a', NULL, 'b') == ('a', 'b', NULL)) — fine
    for the sampling use (keys here are non-null ids, and the DuckDB
    oracles replay the same concat semantics), but for content
    fingerprints use the NULL-safe sentinel variant in
    operators/upsert.snapshot_diff."""
    cols = key_cols or df.columns
    return F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))


def choose_strategy(n: int) -> str:
    """The ``auto`` policy: ``rand`` (TakeOrderedAndProject, driver
    merges per-partition heaps) while n is driver-merge-cheap,
    ``threshold`` (two-phase, never more than ~n·safety rows sorted,
    distributed) beyond :data:`AUTO_THRESHOLD_N`."""
    return "rand" if n <= AUTO_THRESHOLD_N else "threshold"


def sample_exact_n(
    df: DataFrame,
    n: int,
    seed: int = DEFAULT_SEED,
    strategy: str = "auto",
    key_cols: list[str] | None = None,
    safety: float = 2.0,
) -> DataFrame:
    """Exactly ``n`` uniformly-chosen rows, deterministic under ``seed``.

    ``strategy="auto"`` (default) delegates to :func:`choose_strategy`
    so huge-n callers get the distributed two-phase path without
    opting in; pass ``rand``/``threshold``/``hash`` explicitly to pin
    a strategy (the gated ``sample_exact_n_rand`` query does, for
    reference-parity semantics).

    ``key_cols`` (hash strategy): columns forming a unique-ish key;
    defaults to all columns. ``safety`` (threshold strategy): cutoff
    over-sampling factor guarding against Bernoulli variance; 2.0 makes
    under-selection vanishingly unlikely for n ≥ 100 (P < 1e-40 by
    Chernoff: keep-probability is doubled, so selecting < n requires
    the binomial to fall below half its mean).
    """
    if n < 0:
        raise ValueError(f"sample size must be non-negative, got {n}")
    if n == 0:
        return df.limit(0)

    if strategy == "auto":
        strategy = choose_strategy(n)

    if strategy == "rand":
        return df.orderBy(F.rand(seed)).limit(n)

    if strategy == "hash":
        return df.orderBy(_hash_order_col(df, key_cols), *[
            F.col(c) for c in (key_cols or [])
        ]).limit(n)

    if strategy == "threshold":
        total = df.count()
        if n >= total:
            return df
        cutoff = min(1.0, (n / total) * safety)
        with_r = df.withColumn("_r", F.rand(seed))
        # Narrow filter: ~n·safety survivors; everything below touches
        # only them.
        filtered = with_r.filter(F.col("_r") <= cutoff).persist()
        try:
            # The Chernoff bound on the cutoff only makes under-selection
            # negligible for n >= ~100; verify and fall back rather than
            # silently returning fewer than n rows.
            if filtered.count() < n:
                return df.orderBy(F.rand(seed)).limit(n)
            exact = _take_n_smallest(filtered, "_r", n).drop("_r")
            # Materialize (≤ n rows) so the cache can be released here
            # instead of pinning blocks for the session.
            return exact.localCheckpoint(eager=True)
        finally:
            filtered.unpersist()

    raise ValueError(f"unknown sampling strategy: {strategy!r}")


def sample_stratified_exact_n(
    df: DataFrame,
    strata_cols: list[str],
    n: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Exactly ``n`` rows *per stratum*, deterministic (hash order).

    The training-data workhorse: "k documents per language", "k events
    per type". Hash ordering (md5 of ``key_cols``) means any engine
    picks the same rows — oracle-checkable, like the ``hash`` strategy
    of :func:`sample_exact_n`.

    One shuffle (the window partition on the strata). Each stratum is
    sorted within its partition; for pathologically hot strata at
    100 TB, pre-filter with the threshold trick of
    :func:`sample_exact_n` per stratum before the window.
    """
    if n <= 0:
        return df.limit(0)
    order = _hash_order_col(df, key_cols)
    w = Window.partitionBy(*strata_cols).orderBy(
        order, *[F.col(c) for c in (key_cols or [])]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def _take_n_smallest(df: DataFrame, order_col: str, n: int) -> DataFrame:
    """Exact global top-n by ``order_col`` without a one-partition funnel.

    A bare ``Window.orderBy`` moves every row to a single partition; at
    large n that is the bottleneck. Instead: range-partition on the
    order column and sort within partitions, so partition-then-row
    order IS global order, and rank rows with the shared contiguous
    row index (:func:`_with_row_index` — per-partition offsets, only
    the tiny counts table reaches the driver).
    """
    ordered = df.repartitionByRange(
        df.sparkSession.sparkContext.defaultParallelism, order_col
    ).sortWithinPartitions(order_col)
    return (
        _with_row_index(ordered, "_rank")
        .filter(F.col("_rank") < n)
        .drop("_rank")
    )


def sample_weighted_n(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Exactly ``n`` rows, weighted without replacement, deterministic.

    Efraimidis-Spirakis A-ES: per-row uniform u, rank by u^(1/w) —
    equivalently (and numerically safer) by the exponential draw
    −ln(u)/w ascending. u comes from md5 of the key columns (no RNG:
    any engine picks the same rows, same as the ``hash`` strategy),
    mapped to (0,1) via (v+0.5)/2^32 over the first 8 hex digits.

    Same TakeOrderedAndProject shape as ``sample_exact_n`` — per-
    partition heaps, no full sort. The training-data use: sample a
    mixture proportional to per-row quality/length weights.

    Rows with NULL or non-positive weight are never drawn (A-ES
    semantics; also avoids ANSI-mode divide-by-zero and NULL scores
    sorting first).
    """
    if n <= 0:
        return df.limit(0)
    df = df.filter(F.col(weight_col).cast("double") > 0)
    h = _hash_order_col(df, key_cols)
    v = F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(1 << 32))
    w = F.col(weight_col).cast("double")
    score = -F.log(u) / w
    return (
        df.withColumn("_score", score)
        .orderBy("_score", *[F.col(c) for c in (key_cols or [])])
        .limit(n)
        .drop("_score")
    )


def split_train_val_test(
    df: DataFrame,
    strata_cols: list[str] | None = None,
    weights: tuple[int, int, int] = (8, 1, 1),
    key_cols: list[str] | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment, stratum-balanced.

    Rows are ordered by md5 of the key (engine-independent, no RNG)
    within each stratum and dealt by Bresenham-interleaved proportional
    assignment: row n is 'train' iff ⌊n·w0/T⌋ increments at n, 'val'
    iff ⌊n·(w0+w1)/T⌋ increments otherwise, else 'test'. After ANY
    prefix of n rows each class holds within one row of its exact
    share — contiguous block dealing (pos % 10 < 8) deviates by up to
    w−1 rows and starves small strata of val/test entirely, and
    hash-threshold splits only converge in expectation. One window
    shuffle on the strata (or one global window when unstratified —
    at scale, stratify on anything coarse first).
    """
    total = sum(weights)
    c1, c2 = weights[0], weights[0] + weights[1]
    order = _hash_order_col(df, key_cols)
    w = (
        Window.partitionBy(*strata_cols) if strata_cols else Window.partitionBy()
    ).orderBy(order, *[F.col(c) for c in (key_cols or [])])
    n = F.row_number().over(w)
    label = (
        F.when(F.floor(n * c1 / total) > F.floor((n - 1) * c1 / total), "train")
        .when(F.floor(n * c2 / total) > F.floor((n - 1) * c2 / total), "val")
        .otherwise("test")
    )
    return df.withColumn(split_col, label)


def split_by_group(
    df: DataFrame,
    group_cols: list[str],
    weights: tuple[int, int, int] = (8, 1, 1),
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: every row of a GROUP
    (duplicate cluster, domain, source) receives the SAME label, so
    near-duplicates and same-site pages can never straddle train and
    test — the contamination a row-level split (cf.
    :func:`split_train_val_test`) structurally allows. Groups are
    ordered by md5 of the group key (no RNG, engine-replayable) and
    assigned by CUMULATIVE ROW MASS against exact integer thresholds
    (group g is train while 10·C_g ≤ 8·T, then val while ≤ 9·T,
    else test, for weights 8/1/1) — proportions track row counts,
    not group counts, so one giant domain doesn't starve the others.

    Scale shape: one per-group size aggregation, a cumulative window
    over the GROUP table ordered by hash, a 1-row total broadcast,
    and a group-key join back (broadcast for dimension-scale groups;
    AQE decides otherwise). The cumulative window is single-partition
    over GROUPS — fine for domain/source-scale keys; for data-scale
    group keys (per-cluster ids) route the cumsum through the
    two-level binned device used by select_to_token_budget."""
    total_w = sum(weights)
    c1 = weights[0]
    c2 = weights[0] + weights[1]
    key = F.md5(F.concat_ws("|", *[F.col(c) for c in group_cols]))
    sizes = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_gn")
    )
    w = Window.orderBy(key, *[F.col(c) for c in group_cols])
    cum = sizes.withColumn(
        "_cum",
        F.sum("_gn").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    total = sizes.agg(F.sum("_gn").alias("_total"))
    labeled = cum.crossJoin(F.broadcast(total)).select(
        *[F.col(c).alias(f"_lg_{c}") for c in group_cols],
        F.when(
            F.col("_cum") * total_w <= F.col("_total") * c1, "train"
        )
        .when(F.col("_cum") * total_w <= F.col("_total") * c2, "val")
        .otherwise("test")
        .alias(split_col),
    )
    # NULL-SAFE join back: groupBy keeps a NULL group (missing
    # metadata is common), and a plain equi-join would silently DROP
    # those rows while their mass still moved the thresholds — the
    # split must label every input row, like the row-level splitter.
    cond = None
    for c in group_cols:
        clause = F.col(c).eqNullSafe(F.col(f"_lg_{c}"))
        cond = clause if cond is None else (cond & clause)
    return df.join(labeled, cond).drop(
        *[f"_lg_{c}" for c in group_cols]
    )
