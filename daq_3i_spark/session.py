"""SparkSession factory.

Local test mode is ``local[N]`` (one JVM); the config below is chosen so the
same code is correct on a multi-executor cluster at 100 TB:

- AQE on (runtime coalesce, skew-join splitting) — replaces hand-tuning
  shuffle partition counts per stage.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster this
  is the *initial* number only, AQE coalesces.
- UTC session timezone so timestamps hash identically against the DuckDB
  oracle (DuckDB parquet timestamps are naive/UTC).
- Arrow enabled for the (few) pandas-UDF paths.

A query that needs its own shuffle width runs on :func:`isolated`, a clone of
the caller's session, instead of setting the width on the shared session and
restoring it: two ops running concurrently in one session would leak their
widths into each other.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "daq_3i_spark", cpus: str | int | None = None) -> SparkSession:
    cpus = str(cpus or DEFAULT_CPUS)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/re-partition around cached frames (the iterative
        # ops persist() their reused edge/state frames; without this the
        # cache pins every downstream shuffle at the static partition count)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


@contextmanager
def isolated(spark: SparkSession, partitions: int | None = None) -> Iterator[SparkSession]:
    """A clone of ``spark`` whose ``spark.sql.shuffle.partitions`` is
    ``partitions`` (default: the context's parallelism); ``spark``'s own conf
    never changes.

    ``newSession()`` shares the SparkContext and the cache but starts from
    the context's conf: it drops every SQL conf set at runtime (a UTC pin, a
    test session's codegen gate), so each runtime-modifiable key is copied
    over.  It also has its own streaming query manager, whose queries the
    caller's listeners never see, so the caller's listeners are forwarded to
    it while the block runs.  Frames move between the two with
    :func:`rebind`."""
    clone = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if spark.conf.isModifiable(k):
            clone.conf.set(k, v)
    clone.conf.set(
        "spark.sql.shuffle.partitions",
        str(partitions or spark.sparkContext.defaultParallelism),
    )
    listeners = list(spark._jsparkSession.streams().listListeners())
    for lsn in listeners:
        clone._jsparkSession.streams().addListener(lsn)
    try:
        yield clone
    finally:
        if listeners:
            # progress events reach listeners asynchronously through the
            # context's listener bus: let them land before unhooking
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            for lsn in listeners:
                clone._jsparkSession.streams().removeListener(lsn)


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s logical plan as a frame of ``spark``: it plans and runs under
    ``spark``'s conf from then on."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, spark)


def memo(owner, name: str) -> dict:
    """The dict memo ``name`` kept as an attribute of ``owner``: a session
    for handles of its plans (dims, tables), the ``SparkContext`` for
    session-free JVM objects (decode's columns).  It dies with its owner,
    so no memoized handle outlives the JVM objects it refers to."""
    d = getattr(owner, name, None)
    if d is None:
        d = {}
        setattr(owner, name, d)
    return d
