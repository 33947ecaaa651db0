"""Query registry — one entry per implemented operator (SURVEY.md §2).

Each entry pairs a Spark plan builder with the equivalent ANSI SQL for the
DuckDB oracle (or None for genuinely non-SQL-expressible ops, which get the
driver's weaker rows-only check).

Determinism conventions (so the order-insensitive value hash matches):

* elementwise float math stays DOUBLE: identical expression trees built from
  correctly-rounded primitives (+ - * / sqrt; never libm pow) are
  bit-identical across engines, so no rounding is needed;
* float AGGREGATES (sums/avgs) are order-nondeterministic, so they are
  computed as exact 6-decimal fixed-point BIGINT sums surfaced as DOUBLE —
  see functions/numeric.py (fx_sum / fx_sum_sql) for the construction and
  why it is bit-identical across engines at ANY magnitude (the earlier
  DECIMAL(18,6)-sum-cast-to-DOUBLE convention relied on DuckDB's
  decimal->double cast being correctly rounded, which fails past 2^53
  unscaled).  The surfaced column must NOT stay decimal: the driver's
  oracle fetch coerces DuckDB decimals to float64 while Spark collects
  Decimal objects, so a decimal OUTPUT column never hash-matches;
* every aggregate/computed column is aliased identically in both dialects;
* no query depends on row order (the driver sorts before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: SparkFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    doc: str = ""


QUERIES: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: SparkFn) -> SparkFn:
        def pinned(spark: SparkSession, sf_dir: str, _fn: SparkFn = fn) -> DataFrame:
            # Pin the session timezone BEFORE the plan is built, not just
            # inside the loaders: timestamp literals parse in the session
            # timezone at analysis time, so an op that constructs literals
            # before its first load_* call would otherwise shift by the host
            # session's offset (found by the Asia/Kathmandu sweep —
            # op_range_join built its interval bounds pre-load).  DuckDB
            # reads naive timestamps; UTC makes Spark collect the same
            # wall-clock values whatever timezone the driver started with.
            from daq_3i_spark.cache import release_shared
            from daq_3i_spark.sources.tables import pin_utc

            # Self-enforce the bounded-cache contract: drop the PREVIOUS
            # op's shared() frames before building this one, so any harness
            # that runs many registry entries in one session (the driver's
            # 50-query sweep included) cannot accumulate cached frames until
            # session end.  Safe by the cache.py lifetime rule — a registry
            # build starts a new logical job, so no earlier op's query can
            # still be executing; the frames the CURRENT op shares stay live
            # for its own consumers and are released by the NEXT build (or
            # an explicit release_shared()).
            release_shared()
            pin_utc(spark)
            # the shared() caches' consumers: let AQE re-partition joins
            # that feed a cache (a vanilla session defaults it to false)
            spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
            return _fn(spark, sf_dir)

        pinned.__name__ = getattr(fn, "__name__", name)
        pinned.__doc__ = fn.__doc__
        QUERIES[name] = QueryDef(name=name, spark=pinned, oracle=oracle, doc=doc)
        return fn

    return deco


def spark_queries() -> dict[str, SparkFn]:
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_map() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
