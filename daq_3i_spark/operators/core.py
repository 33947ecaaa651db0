"""Core DAQ operators as set-based DataFrame transforms.

These replace the reference's row-at-a-time loops with single declarative
statements (the reference's own comment at daq-3i.py:176-178 records that
intent).  No Python in any plan.

Scale note (r13): the DAQ group key (channel_id / event_type) is
CONFIG-cardinality — a few dozen values — while the fact is data-sized, so
a per-key window would put one key's entire history through one task.
Every fact-sized path here is therefore a map-side-combinable aggregate
(max-struct latest), a two-phase mergeable bottom-n, or a threshold
computed over (key, id) pairs and joined back as a config-cardinality
broadcast; the only window left (:func:`latest_per_key`,
:func:`status_snapshot`) serves key-cardinality-bounded inputs such as the
per-batch status merge.  With the fact written partitioned/bucketed by
``channel_id`` the remaining narrow shuffles disappear entirely (bucketed
scan → no exchange).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(df: DataFrame, key: str | list[str], order: list[Column]) -> DataFrame:
    """Most recent row per key — the batch analog of the reference's
    ``ChannelState`` latest-wins slot (bus.py:32-36; SURVEY §2.4
    op_latest_per_channel).  Deterministic: pass a total order (e.g.
    [F.desc('ts'), F.desc('id')]).  ``key`` may name several columns; a
    frame already hash-partitioned on a subset of them plans no exchange.

    Window form — correct ONLY for key-cardinality-bounded inputs (the
    status-snapshot merge: <= 2 rows per parameter).  For a LOW-cardinality
    key over a data-sized frame this single-tasks each key's history — use
    a max-struct aggregate instead (op_latest_per_channel, r13)."""
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _unpack(df_cols: list[str], key: str, row: str) -> list[Column]:
    """Re-project (key, struct) back to the input's column order."""
    return [
        F.col(key) if c == key else F.col(f"{row}.{c}").alias(c) for c in df_cols
    ]


def oldest_n_per_key(df: DataFrame, key: str, order_col: str, n: int) -> DataFrame:
    """Bottom-n rows per key (the reference's delete-candidate scan,
    daq-3i.py:209: ORDER BY id ASC LIMIT n per channel).

    Two-phase mergeable bottom-n (r13; replaces a per-key row_number
    window): per-shuffle-partition bottom-n via
    ``array_sort(collect_list(struct))[:n]`` — groups bounded by partition
    size — then bottom-n of the <= P*n-row union.  A low-cardinality key
    over a data-sized frame (40 channels x the whole fact) spans every
    scan task instead of single-tasking per key; array_sort makes both
    phases order-independent, so output is bit-stable under any
    partitioning provided ``order_col`` leads a total order (the callers
    order by the unique id)."""
    cols = [order_col] + [c for c in df.columns if c not in (key, order_col)]

    def bot(col: Column) -> Column:
        return F.slice(F.array_sort(F.collect_list(col)), F.lit(1), F.lit(n))

    return (
        df.groupBy(key, F.spark_partition_id().alias("__p"))
        .agg(bot(F.struct(*cols)).alias("__ks"))
        .select(key, F.explode("__ks").alias("__r"))
        .groupBy(key)
        .agg(bot(F.col("__r")).alias("__ks"))
        .select(key, F.explode("__ks").alias("__r"))
        .select(*_unpack(df.columns, key, "__r"))
    )


def retention_min_keep_ids(
    df: DataFrame, channels: DataFrame, key: str = "channel_id"
) -> DataFrame:
    """Per-key retention THRESHOLD: the ``history_len``-th largest id (or
    the key's smallest id when fewer rows exist) — the keep/drop boundary
    both retention formulations filter against.

    Two-phase mergeable top-n over (key, id) PAIRS ONLY (r13; replaces the
    per-key id-desc window, which single-tasked each of the 40 config
    channels' entire history): per-shuffle-partition newest-n ids via
    ``sort_array(collect_list(id), desc)[:n]`` — groups bounded by
    partition size, 16-byte rows — then the same over the <= P*n union.
    ids are unique, so the threshold (and every filter against it) is
    bit-exact under any partitioning.  The FACT itself never shuffles:
    consumers join this key-cardinality frame back with a broadcast hint —
    legitimate under the r12 rule because the frame is bounded by the
    channels CONFIG cardinality (one long per channel), not by the data —
    and filter.

    Returns (key, __min_keep).  ``channels`` needs columns
    (id, history_len); rows of keys absent from ``channels`` get no
    threshold (inner-join semantics, as before)."""
    ch = channels.select(F.col("id").alias(key), "history_len")
    ids = df.select(key, "id").join(ch, key)

    def top(col: Column, n: Column) -> Column:
        return F.slice(F.sort_array(F.collect_list(col), False), F.lit(1), n)

    return (
        ids.groupBy(key, F.spark_partition_id().alias("__p"))
        .agg(
            top(F.col("id"), F.max("history_len")).alias("__ks"),
            F.max("history_len").alias("__hl"),
        )
        .select(key, "__hl", F.explode("__ks").alias("__id"))
        .groupBy(key)
        .agg(top(F.col("__id"), F.max("__hl")).alias("__ks"))
        .select(key, F.element_at("__ks", F.size("__ks")).alias("__min_keep"))
    )


def retention_keep(df: DataFrame, channels: DataFrame, key: str = "channel_id") -> DataFrame:
    """Retention policy, keep-side formulation (SURVEY §2.5 op_retention_topk):
    keep the newest ``history_len`` rows per channel; one statement, no batch
    cap (the reference's ≤100-deletes-per-cycle cap is an artifact of row-at-
    a-time deletes — daq-3i.py:203-204 — deliberately not replicated).

    Threshold form (r13): join :func:`retention_min_keep_ids`'s
    key-cardinality frame back and filter ``id >= __min_keep`` — the fact
    is scanned (a 2-column pruned pass for the threshold, then the filter
    pass) but never shuffled."""
    # the threshold frame is bounded by the channels CONFIG cardinality
    # (one long per channel, <1 KB however big the fact) — a hint here is
    # safe at any data scale, unlike a fact-cardinality frame
    thr = F.broadcast(retention_min_keep_ids(df, channels, key))
    return df.join(thr, key).filter(F.col("id") >= F.col("__min_keep")).drop(
        "__min_keep"
    )


def status_snapshot(updates: DataFrame, key: str = "parameter") -> DataFrame:
    """Batch analog of the daq_status upsert (daq_status.py:36-68): latest
    update per parameter wins.  In streaming this is the foreachBatch MERGE;
    as a query it is latest-per-key over the update log."""
    w = Window.partitionBy(key).orderBy(F.col("ts").desc(), F.col("status").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
