"""Query catalog: every implemented operator as a named (Spark builder,
DuckDB oracle SQL) pair over the driver's testdata tables.

This is the correctness gate's contract (see __spark_entry__.py): the driver
runs each builder on Spark and the oracle SQL on DuckDB at sf0.01 and
compares row counts, schemas, and order-insensitive value hashes.

Cross-engine determinism rules applied throughout:
- every aggregate/computed column is aliased IDENTICALLY on both sides;
- every float is rounded (4 decimals; 6 for cosine) on BOTH sides;
- every LIMIT sits on a TOTAL order (explicit tie-break columns);
- sums of integers are cast to BIGINT on the DuckDB side (DuckDB widens to
  INT128 where Spark stays INT64);
- row_number outputs are cast to INTEGER on the DuckDB side (Spark emits
  INT32);
- the shared 60-bit hash is md5-based: Spark `conv(substr(md5(x),1,15),16,10)`
  == DuckDB `CAST('0x'||substr(md5(x),1,15) AS BIGINT)` (functions.scalar.hash64).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_spark.io import load_table


@dataclass
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only
    headline: bool = False  # include in bench.py timing suite
    doc: str = ""


CATALOG: dict[str, QuerySpec] = {}


def _q(name: str, oracle: str | None, headline: bool = False, doc: str = ""):
    def reg(fn):
        CATALOG[name] = QuerySpec(fn, oracle, headline, doc)
        return fn

    return reg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dsum(col, digits: int = 2):
    """Order-independent rounded sum for money/quantity columns.

    Double summation order is schedule-dependent (partial-aggregate combine
    order varies with partitioning), so round(sum(double), 2) can flip a
    cent between runs/engines whenever a group's true sum sits near a
    half-cent boundary — ~1% of groups at 100-row group sizes (measured on
    tpch_q7: 4 of 600 groups). Summing in DECIMAL is exact and
    order-independent; the oracle SQL mirrors it with
    ``CAST(round(sum(CAST(x AS DECIMAL(18,4))), d) AS DOUBLE)``. The 18,4
    input widens automatically during aggregation in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(18,4)")), digits).cast("double")


def _ssum(col, digits: int = 2, scale: int = 10000):
    """Order-independent rounded sum at INT64 speed: the value is snapped to
    a 1/scale grid (exact for money/quantity columns with <= 4 decimal
    digits), summed as bigint (exact, order-independent, no decimal-kernel
    cost — decimal sums measured ~2x slower on the 8-agg flagship query),
    HALF-UP rounded to the 10^-digits grid IN INT64, then divided back by
    one shared double division. The earlier form ``round(sum_bigint /
    10000.0, 2)`` diverged from DuckDB in the last ulp once group totals
    passed ~1e14 grid units (caught by the round-10 sf0.1 sweep on
    agg_grouping_sets): engine ``round(double, 2)`` implementations differ
    there, so rounding must happen BEFORE the value ever becomes a double.
    int64 overflow bound unchanged: |sum(x)| * scale < 9.2e18 — fine to
    ~1e14 in column units; use _dsum where totals can exceed that.
    Oracle mirror: :func:`_ssum_sql` (same CASE/%% arithmetic — bigint
    remainder carries the dividend's sign in BOTH engines, so the sign
    split makes the snap HALF-UP-away-from-zero exactly)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(F.round(c * scale).cast("long"))
    mod = scale // (10**digits)
    if mod > 1:
        half = mod // 2
        pos = (s + half) - (s + half) % mod
        neg = -((-s + half) - (-s + half) % mod)
        s = F.when(s >= 0, pos).otherwise(neg)
    return s.cast("double") / F.lit(float(scale))


def _ssum_sql(expr: str, digits: int = 2, scale: int = 10000) -> str:
    """DuckDB mirror of :func:`_ssum`: identical int64 snap, one double
    division. The aggregate sub-expression repeats textually; engines
    dedupe identical aggregates so it computes once. ``CAST(scale AS
    DOUBLE)`` (not a ``10000.0`` literal) so the same string is also safe
    under Spark SQL, where a bare decimal literal is DECIMAL typed."""
    s = f"sum(CAST(round(({expr}) * {scale}) AS BIGINT))"
    mod = scale // (10**digits)
    if mod > 1:
        half = mod // 2
        s = (
            f"(CASE WHEN {s} >= 0"
            f" THEN ({s} + {half}) - ({s} + {half}) % {mod}"
            f" ELSE -((-{s} + {half}) - (-{s} + {half}) % {mod}) END)"
        )
    return f"CAST({s} AS DOUBLE) / CAST({scale} AS DOUBLE)"


def _dsum_sql(expr: str, digits: int = 2) -> str:
    """Spark/DuckDB-safe SQL source of :func:`_dsum` (identical expression
    tree; see hash64_spark_sql on why hot builders compose SQL strings
    instead of Column chains)."""
    return (
        f"CAST(round(sum(CAST(({expr}) AS DECIMAL(18,4))), {digits})"
        " AS DOUBLE)"
    )


def _savg_sql(expr: str, digits: int = 4, scale: int = 10000) -> str:
    """Order-independent rounded mean, as SQL that runs unchanged in Spark
    and DuckDB (oracles use the same string). Values are snapped to a
    1/scale grid and summed as bigint, exactly as in :func:`_ssum`; the
    exact mean ``s / (n * scale)`` is then rounded HALF-UP (away from
    zero) to ``digits`` IN INT64 — ``q * d`` with ``d = n * scale /
    10^digits`` is ``|s|`` moved to the nearest multiple of ``d`` — and
    divided back by one shared double division, so the result is the
    double nearest the exactly rounded mean in both engines. Rounding the
    double mean instead (``round(s / (n * scale), d)``) broke exact ties
    differently per engine: a mean of 4721.59625 gave Spark 4721.5963 and
    DuckDB 4721.5962. Exact for columns with <= 4 decimal digits; the
    int64 bound is _ssum's. ``CAST(... AS DOUBLE)`` rather than a bare
    decimal literal, same reason as :func:`_ssum_sql`."""
    if scale % 10**digits:
        raise ValueError(f"digits={digits} is finer than the 1/{scale} grid")
    s = f"sum(CAST(round(({expr}) * {scale}) AS BIGINT))"
    a = f"abs({s})"
    d = f"(count({expr}) * {scale // 10**digits})"
    x = f"({a} - {a} % {d} + CASE WHEN 2 * ({a} % {d}) >= {d} THEN {d} ELSE 0 END)"
    return (
        f"CAST(CASE WHEN {s} >= 0 THEN {x} ELSE -{x} END AS DOUBLE)"
        f" / CAST(count({expr}) * {scale} AS DOUBLE)"
    )


def _savg(col: str, digits: int = 4, scale: int = 10000):
    """Column form of :func:`_savg_sql`."""
    return F.expr(_savg_sql(col, digits, scale))

