"""Parquet table loaders for the driver-provided tables.

Always ``spark.read.parquet`` (columnar scan, predicate pushdown + column
pruning reach the footer).  At 100 TB these would be partitioned/bucketed
table roots; the API is the same.

``events.parquet`` has shipped with two different physical types for ``ts``
across testdata generations, so the loader adapts to what the footer says:

* TIMESTAMP(NANOS) — Spark's vectorized reader rejects it
  ([PARQUET_TYPE_ILLEGAL]); we read nanos as long
  (``spark.sql.legacy.parquet.nanosAsLong``, runtime-settable) and truncate
  to microseconds with *integer* division (epoch nanos overflow double's
  53-bit mantissa, so float division would perturb the microsecond);
* TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark reads TIMESTAMP_NTZ;
  cast to TIMESTAMP under the UTC session timezone (an exact relabeling).

Either way the session timezone is pinned to UTC first, so TIMESTAMP values
collect as the same naive datetimes DuckDB reads from the parquet — the
driver's value hash sees identical rows whatever timezone its session
started with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from daq_3i_spark.schemas import ALL_TABLES
from daq_3i_spark.session import memo


def pin_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC (runtime-settable SQL conf).

    DuckDB parquet timestamps are naive; with a UTC session every Spark
    TIMESTAMP renders/collects as the same naive value, making epoch
    extraction (unix_micros vs epoch_us) and timestamp outputs engine-
    portable regardless of the host session's default zone."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    kind = dict(df.dtypes).get(col)
    if kind == "bigint":  # legacy TIMESTAMP(NANOS) footer read via nanosAsLong
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if kind == "timestamp_ntz":  # exact relabel under the pinned UTC session
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``spark.read.parquet`` with a per-SESSION memo of the returned
    DataFrame handle.

    Every ``spark.read.parquet`` call pays a driver-side footer/schema probe
    plus file listing (~50-120 ms measured at sf0.1) and a query touching k
    tables pays it k times PER PLAN CONSTRUCTION — the r18 floor census put
    ~25% of the sub-2 s tail's total time in exactly this (guide §6 file
    listing; VERDICT r17 #3).  The memo stores the lazy RELATION (a logical
    plan handle), never data: every action still scans the parquet files
    fresh, nothing is persisted, and the memo dies with the Python session
    object (``session.memo``).  One entry per path, stamped with the path's
    (mtime, size): a rewritten table re-probes and replaces its entry, so
    rewrites never accumulate stale relations; the sf test tables themselves
    are read-only.
    """
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    tables = memo(spark, "_daq_raw_tables")
    hit = tables.get(path)
    if hit is None or hit[0] != stamp:
        hit = tables[path] = (stamp, spark.read.parquet(path))
    return hit[1]


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_ts(_raw_table(spark, sf_dir, "events"))


def events_raw_schema(spark: SparkSession, sf_dir: str):
    """The pre-normalization schema of the events feed (probed from the
    footer by a batch read — one driver-side metadata call, scale-free).
    readStream requires an explicit schema; deriving it from the footer keeps
    the stream replay correct across testdata generations."""
    pin_utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _raw_table(spark, sf_dir, "events").schema


def read_events_stream(spark: SparkSession, path_glob: str, sf_dir: str) -> DataFrame:
    """readStream over the events feed with ``ts`` normalized to TIMESTAMP —
    the streaming twin of load_events (same adaptivity, same UTC pin)."""
    schema = events_raw_schema(spark, sf_dir)
    return _normalize_ts(spark.readStream.schema(schema).parquet(path_glob))


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTER metadata — a driver-side file-statistics
    read (microseconds per file, NO Spark job, so plan construction stays
    lazy), the input for size-derived plan parameters such as the IVF
    coarse-quantizer cell count.  The same class of statistics Spark's own
    planner reads (file sizes) when sizing scan partitions."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    pin_utc(spark)
    return _raw_table(spark, sf_dir, name)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + round-robin repartition to the session's parallelism.

    The local test tables are single-row-group parquet files — one split, so
    a scan feeds ONE task and every downstream per-row kernel (hashing,
    unrolled dot products) runs on one core.  The cheap round-robin exchange
    (a few MB) fans the kernel out across all cores.  On a production table
    with many splits the scan parallelizes by itself and callers would use
    plain load_table; use this only in front of compute-heavy projections.
    """
    df = load_table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view (for spark.sql plans)."""
    for name in ALL_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition an already-filtered DataFrame to session
    parallelism — load_spread's post-filter form, so selective predicates
    still push down to the scan before the fan-out exchange."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
