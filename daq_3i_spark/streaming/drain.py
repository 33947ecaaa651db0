"""The one way to drain a stream: run it with ``availableNow`` to the end.

Every streaming op that consumes a bounded feed goes through :func:`drain`;
only the live pipeline (``run_pipeline(available_now=False)``) and a query
that is meant to be stopped mid-stream start their own.  :func:`feed_stream`
is the one way to replay a directory of parquet files as micro-batches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.listener import StreamingQueryProgress

from daq_3i_spark.session import isolated, rebind


def feed_stream(spark: SparkSession, feed: str) -> DataFrame:
    """The parquet files under ``feed`` as a stream, one micro-batch per
    file (in modification-time order); the schema is the files' own."""
    return (
        spark.readStream.schema(spark.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )


def drain(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None] | None = None,
    *,
    mode: str = "append",
    checkpoint: str | None = None,
    partitions: int | None = None,
) -> tuple[DataFrame | None, list[StreamingQueryProgress]]:
    """Run the streaming frame ``df`` with ``trigger(availableNow=True)``
    until its feed is consumed; returns ``(result, progress)``.

    ``sink`` is a ``foreachBatch`` function, and ``result`` is then None;
    without one the rows go to a memory sink in output ``mode`` and
    ``result`` is that table, a frame of ``df``'s session.  ``progress`` is
    the query's ``recentProgress``.

    The query runs on a clone of ``df``'s session (``session.isolated``)
    whose shuffle width is ``partitions``, default the context's
    parallelism.  Stateful streaming fixes its state-store count to the
    shuffle width at query start, and AQE never coalesces it: at the
    vanilla default of 200, every micro-batch pays 200 state-store commits
    (and 200 Python state workers for ``applyInPandasWithState``) for a
    handful of keys, measured 8x slower on the keyed-state ops.  The clone
    has its own catalog and query manager, so the memory sink's fixed name
    never collides with a concurrent drain's."""
    spark = df.sparkSession
    with isolated(spark, partitions) as clone:
        writer = rebind(df, clone).writeStream.outputMode(mode)
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        if sink is None:
            writer = writer.format("memory").queryName("drained")
        else:
            writer = writer.foreachBatch(sink)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        if sink is not None:
            return None, q.recentProgress
        # the memory sink's plan is a leaf the analyzer cannot re-instance,
        # so a self-join of it leaves both sides with one set of attribute
        # ids and fails to resolve; toDF re-projects every column through a
        # fresh alias, which the analyzer can re-instance
        table = clone.table("drained")
        return rebind(table.toDF(*table.columns), spark), q.recentProgress
