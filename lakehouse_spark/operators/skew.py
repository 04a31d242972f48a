"""Skew mitigation (engine addition; SURVEY.md §4 physical-layout notes).

The reference never shuffles, so it has no skew problem — a 1000-executor
cluster does. Two standard techniques, both pure DataFrame ops:

- **salted aggregation**: decomposable aggregates (sum/count/min/max) run in
  two phases — phase 1 groups on (key, salt) spreading one hot key over N
  reducers, phase 2 re-combines per key. Results are EXACTLY the direct
  group-by's (oracle-checked in the catalog); only the shuffle distribution
  changes.
- **salted broadcast join**: replicate the small side N× with salt ids so a
  skewed probe side spreads its hot keys. AQE's skew-join splitting covers
  the sort-merge case at runtime; explicit salting remains useful when the
  skew is known and extreme (one key ≫ one partition).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)
_exchange_noop_logged = False


def spread(df: DataFrame, by: str | None = None) -> DataFrame:
    """Scale-adaptive compute-spread for CPU-heavy per-row pipelines
    (shingling, per-shingle hashing, vector math): when the input arrives in
    fewer partitions than the session's default parallelism — a single
    small parquet file / single row group, or at scale one unsplittable
    (gzip) input — hash-repartition it up to ``defaultParallelism`` so the
    expensive narrow work downstream runs on every core instead of the
    scan's one task. A NO-OP whenever the input already carries enough
    partitions (the 100 TB case: thousands of files/splits), so it never
    adds an exchange where the layout is already healthy.

    ``by`` names a (near-)unique column: hash-partitioning on it is
    deterministic under task retry (guide §2.5 warns round-robin repartition
    additionally pays a local sort for exactly that determinism) and its
    cardinality ≫ partition count spreads evenly. Falls back to round-robin
    when no key is given. Results are unaffected — every downstream operator
    in this package is partitioning-independent (order-independent
    aggregates, explicit tie-breaks).

    Scope guard: the partition probe (``df.rdd.getNumPartitions()``) is only
    safe on narrow, scan-backed plans. With AQE on, touching ``.rdd`` of a
    plan that contains an ``Exchange`` finalizes the adaptive plan — the
    upstream shuffle/broadcast stages run eagerly and that work is discarded
    when the returned (re-planned) frame executes; on a streaming frame it
    raises outright. Neither input needs a spread anyway: a post-exchange
    frame is already partitioned at session sizing, and a streaming source
    carries its own partitioning. So spread is a structural NO-OP unless the
    input's physical plan is exchange-free (the scan-stage case it exists
    for)."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # pragma: no cover - defensive: unplannable input
        return df
    # AQE wraps a plan in AdaptiveSparkPlan exactly when it will need
    # exchanges (or subqueries) — the wrapped string does NOT show them
    # (EnsureRequirements runs per-stage at runtime), so test the wrapper
    # itself; with AQE off the Exchange nodes are in the string directly.
    if plan.startswith("AdaptiveSparkPlan") or "Exchange" in plan:
        global _exchange_noop_logged
        if not _exchange_noop_logged:
            _exchange_noop_logged = True
            _log.debug(
                "spread: input plan already has an exchange; returned "
                "unchanged (logged once per process)"
            )
        return df
    # Exchange-free ⇒ not wrapped in AdaptiveSparkPlan ⇒ the probe is pure
    # scan-partition metadata (no job runs). Still forces physical planning
    # of the (narrow) subtree — cheap on scans, which is all that reaches
    # this line.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(by)) if by else df.repartition(target)


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase decomposable aggregation: ``aggs`` maps output column →
    (input column, fn) with fn ∈ {sum, count, min, max}. A count re-combines
    with sum in phase 2; the rest re-combine with themselves."""
    _PHASE2 = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    for _, (_, fn) in aggs.items():
        if fn not in _PHASE2:
            raise ValueError(f"non-decomposable aggregate: {fn}")

    salted = df.withColumn(
        "__salt", (F.rand(seed=7) * n_salts).cast("int")
    )
    phase1 = salted.groupBy(*key_cols, "__salt").agg(
        *[
            getattr(F, fn)(col).alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )
    return phase1.groupBy(*key_cols).agg(
        *[
            getattr(F, _PHASE2[fn])(out).alias(out)
            for out, (_, fn) in aggs.items()
        ]
    )


def salted_broadcast_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Replicate the small side across ``n_salts`` salt ids and join on
    (key, salt): a hot probe key spreads over n_salts tasks instead of one.
    The small side must tolerate n_salts× replication (it's broadcast
    anyway)."""
    salted = skewed.withColumn("__salt", (F.rand(seed=7) * n_salts).cast("int"))
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted.join(
        F.broadcast(replicated), [key, "__salt"], how
    ).drop("__salt")


def top_keys(df: DataFrame, key_cols: list[str], n: int = 20) -> DataFrame:
    """Skew diagnosis: the n heaviest keys with their row counts — run this
    before deciding to salt."""
    counts = df.groupBy(*key_cols).count()
    return counts.orderBy(F.desc("count"), *key_cols).limit(n)


def adaptive_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    hot_multiplier: float = 8.0,
    min_hot_rows: int = 1000,
    max_hot_keys: int = 1000,
    how: str = "inner",
) -> DataFrame:
    """Selective skew join: salt ONLY the hot keys, leave the rest alone.

    Blanket salting (:func:`salted_broadcast_join`) replicates the whole
    dim ``n_salts``× even though typically a handful of keys are skewed —
    at a 100 TB fact with a wide dim that replication is real money. This
    probe-and-split shape is what engines do under the name "skew join
    optimization":

    1. probe the fact's key histogram (one map-side-combined count — the
       shuffled relation is one row per key) and collect keys with
       ``count > max(hot_multiplier × avg, min_hot_rows)``, capped at
       ``max_hot_keys`` heaviest (the cap bounds driver memory; keys past
       it fall back to the plain join, which AQE's runtime skew split
       still covers);
    2. hot fact rows join a salted broadcast replica of ONLY the hot dim
       rows (hot dim side is ≤ max_hot_keys rows — broadcastable by
       construction);
    3. cold fact rows join the dim normally (Spark picks SMJ/broadcast);
    4. union. Result equals the plain join EXACTLY (oracle-checked);
       only the shuffle distribution changes.

    ``how``: 'inner' or 'left' (dim-preserving joins would need dim-side
    residual handling the split doesn't do)."""
    if how not in ("inner", "left"):
        raise ValueError(f"adaptive_skew_join supports inner/left, got {how!r}")
    counts = fact.groupBy(key).count()
    stats = counts.agg(
        F.avg("count").alias("avg"), F.count("*").alias("nkeys")
    ).collect()[0]
    if stats.nkeys == 0:
        return fact.join(dim, key, how)
    threshold = max(float(stats.avg) * hot_multiplier, float(min_hot_rows))
    hot_rows = (
        counts.filter(F.col("count") > threshold)
        .orderBy(F.desc("count"), key)
        .limit(max_hot_keys)
        .collect()
    )
    # NULL keys never match an equi join and must NOT enter the isin()
    # lists: `NOT (k IN (NULL, ...))` is NULL (not TRUE) for every
    # non-matching key, which would silently drop all cold rows.
    hot = [r[key] for r in hot_rows if r[key] is not None]
    if not hot:
        return fact.join(dim, key, how)
    fact_hot = fact.filter(F.col(key).isin(hot))
    fact_cold = fact.filter(~F.col(key).isin(hot) | F.col(key).isNull())
    dim_hot = dim.filter(F.col(key).isin(hot))
    hot_joined = salted_broadcast_join(fact_hot, dim_hot, key, n_salts, how)
    cold_joined = fact_cold.join(dim, key, how)
    return hot_joined.unionByName(cold_joined)
