"""Query registry: every SURVEY §2.2 operator row registers here as a
(spark implementation, DuckDB oracle SQL) pair.

Determinism contract (SURVEY §2.2 preamble / FIXTURES §C):
- the driver's comparison is order-insensitive, so no final ORDER BY is
  required for correctness — but every aggregate/computed column must carry
  the SAME alias on both sides;
- double aggregations go through exact DECIMAL sums and surface as DOUBLE
  (``dsum``/``davg`` helpers) so Spark's parallel summation order can never
  diverge from DuckDB's;
- no raw sub-second timestamps in outputs (Spark truncates parquet ns→µs,
  DuckDB keeps ns) — use date_trunc/CAST(DATE);
- approximate/nondeterministic ops register with ``oracle=None`` (the
  driver then records a weaker rows-only check) or a bound-style oracle.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_state
from ..sources import read_events

__all__ = ["Query", "QUERIES", "query", "load", "dsum", "davg", "dmul"]


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Register a query under ``name`` with its DuckDB oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Scan handle for ``{sf_dir}/{table}.parquet``."""
    # DataFrames are immutable, so the reader for a given (sf_dir, table)
    # is built once per session and reused from the session state — a
    # real engine resolves tables through a catalog instead of re-reading
    # parquet footers (schema inference + py4j round-trips) every query.
    # The grading driver may hand us a session it built itself; every
    # timestamp normalization below (NTZ→TIMESTAMP cast, unix_micros
    # bucketing) is only value-preserving under a UTC session timezone,
    # so pin it here rather than trusting session.py to have run.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    scans = session_state(spark).scans
    cache_key = (sf_dir, table)
    cached = scans.get(cache_key)
    if cached is not None and cached.sparkSession is spark:
        return cached
    path = f"{sf_dir}/{table}.parquet"
    if table == "events":
        df = read_events(spark, path)
    else:
        df = spark.read.parquet(path)
    scans[cache_key] = df
    return df


# ---------------------------------------------------------------------- #
# deterministic numeric helpers                                          #
#                                                                        #
# Floating-point SUM is order-dependent; Spark sums partials in shuffle  #
# order, DuckDB in its own scan order, so raw double sums can differ in  #
# the last ulps.  Two exact-summation strategies:                        #
#                                                                        #
# dsum(col)  — for RAW stored columns whose values have ≤`scale` decimal #
#   digits (prices, discounts): scale to integer units, round to BIGINT  #
#   (lossless for such data), sum exactly, divide once.  Numerically     #
#   identical to an exact DECIMAL(18,s) sum cast back to DOUBLE — both   #
#   compute nearest-double(total_units / 10^s) — but ~3× faster: long    #
#   hash-agg stays in whole-stage codegen while Spark's Decimal sum      #
#   pays per-row overflow-checked BigDecimal updates.                    #
#   DuckDB twin: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)           #
#   Overflow headroom: LONG holds ±9.2e18 units; at scale 2 that is      #
#   ±9.2e16 in value — safe for any per-group sum we ship.  For higher   #
#   dynamic range switch that call site back to an explicit DECIMAL(38)  #
#   sum and accept the slower path.                                      #
#                                                                        #
# ssum(expr) — for COMPUTED doubles (products etc.): double→DECIMAL      #
#   casts round differently across engines (Spark: exact-decimal         #
#   HALF_UP; DuckDB: fp-scaled), so instead scale to integer units in    #
#   double math (identical on both engines), round to BIGINT, sum        #
#   exactly, divide once.                                                #
#   DuckDB twin: SUM(CAST(FLOOR((expr) * S + 0.5) AS BIGINT)) / S.0            #
#                                                                        #
# NO final ROUND on outputs: both engines hold bit-identical doubles by  #
# construction, and ROUND itself is the only remaining divergence risk   #
# (Spark rounds via exact decimal expansion, DuckDB via fp scaling —     #
# they disagree when a value sits on a representable .5 boundary).       #
# ---------------------------------------------------------------------- #

# String inputs (a column name or any SQL snippet) build ONE F.expr tree —
# a single py4j round-trip — instead of ~6 Column-algebra calls per
# aggregate; on a plan with many aggregates the construction overhead is
# measurable.  `cast(... as double)` for the divisor: a bare `100.0`
# literal would parse as DECIMAL in Spark SQL and drag the whole division
# into decimal arithmetic.


# Rounding primitive: floor(x*S + 0.5), NOT round(x*S).  Spark's round()
# on DOUBLE expands every row through java.math.BigDecimal (exact-decimal
# HALF_UP) — measured 3× slower end-to-end on a 600 K-row Q1 than the
# floor form, which stays in IEEE double math inside whole-stage codegen.
# Cross-engine equality is BY CONSTRUCTION: the DuckDB twin runs the
# byte-identical formula (same multiply, same +0.5, same floor) on the
# same doubles, so both engines floor the same bit pattern.  floor(x+0.5)
# is round-half-up, which equals round-half-away for the non-negative
# measures these helpers are used on (prices, quantities, rates).


def dsum(col: str | Column, scale: int = 2) -> Column:
    s = 10 ** scale
    if isinstance(col, str):
        return F.expr(
            f"sum(floor(({col}) * {s} + 0.5d)) / cast({s} as double)"
        )
    return F.sum(F.floor(col * F.lit(float(s)) + F.lit(0.5))) / F.lit(float(s))


def davg(col: str | Column) -> Column:
    s = 10 ** 6
    if isinstance(col, str):
        return F.expr(
            f"sum(floor(({col}) * {s} + 0.5d))"
            f" / cast({s} as double) / count({col})"
        )
    return (
        F.sum(F.floor(col * F.lit(float(s)) + F.lit(0.5)))
        / F.lit(float(s))
        / F.count(col)
    )


def ssum(expr: Column | str, scale: int = 10_000) -> Column:
    """Exact sum of a computed-double expression via scaled integers."""
    if isinstance(expr, str):
        return F.expr(
            f"sum(floor(({expr}) * {scale} + 0.5d))"
            f" / cast({scale} as double)"
        )
    return F.sum(F.floor(expr * F.lit(float(scale)) + F.lit(0.5))) / F.lit(
        float(scale)
    )
