"""Streaming operators as driver-checkable registry entries.

Each op actually RUNS a Structured Streaming query, drained to the end by
``streaming.drain.drain`` on a clone of the caller's session (so its state
width never touches the caller's conf), and returns the materialized
result, so the driver's batch contract still applies; where the drained
result is deterministic it gets a full DuckDB oracle.  The events replays
run as one micro-batch, so their watermarks drop nothing and the stream
result equals its batch twin exactly; the file-feed replays run 2-5
micro-batches, and each of those ops is built so that its result does not
depend on where the batches split (mergeable aggregates held in the state
store, a watermark geometry fixed by the data, per-batch idempotent sinks).

The live-mode behaviors that can't be driver-checked (multi-batch state
evolution, trigger cadence, heartbeat listener) are exercised in
tests/test_streaming.py instead.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from daq_3i_spark.functions.convert import convert_case_duckdb
from daq_3i_spark.functions.decode import REG_COUNT, decode_sql_duckdb
from daq_3i_spark.plans.registry import register
from daq_3i_spark.session import isolated, rebind
from daq_3i_spark.sources.daq_dims import conversions_rows, dims_cte_sql
from daq_3i_spark.streaming.drain import drain, feed_stream

_D = dims_cte_sql()
_CONVS = [(cid, expr) for cid, _name, expr in conversions_rows()]

# the modbus_sim poll instant used by op_source_modbus_sim AND its oracle
_MODBUS_POLL_TS = 1_700_000_000

# REG_COUNT (functions/decode.py) rendered as SQL, for the simulator oracle
_REG_COUNT_SQL = (
    "CASE format_code "
    + " ".join(f"WHEN {k} THEN {v}" for k, v in sorted(REG_COUNT.items()))
    + " ELSE 1 END"
)

_TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".tmp")


def _workdir(name: str) -> str:
    # per-PROCESS directory: concurrent runners (sharded pytest workers, a
    # parity sweep next to a plan-quality build) executing the same sink op
    # otherwise rmtree each other's staging mid-service — a collision, not
    # a crash-safety gap (each service run is self-contained)
    d = os.path.join(_TMP_ROOT, f"{name}-w{os.getpid()}")
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    return d


@register(
    "op_stream_pipeline",
    f"""WITH {_D},
    joined AS (
      SELECT cd.id, cd.channel_id, cd.ts, cd.value, c.conversion_id, c.history_len
      FROM channel_data cd JOIN channels c ON cd.channel_id = c.id AND c.enabled
    ),
    conv AS (
      SELECT id, channel_id, ts,
             {convert_case_duckdb(_CONVS, "conversion_id", "value")} AS value,
             history_len
      FROM joined
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY channel_id ORDER BY id DESC) AS rn
      FROM conv
    )
    SELECT id, channel_id, ts, value FROM ranked WHERE rn <= history_len""",
    doc="the COMPLETE reference daemon as one streaming query (SURVEY §3.1): "
    "file-replay source -> broadcast enrich -> compiled convert -> "
    "foreachBatch append + status MERGE, then set-based retention; returns "
    "the final channel_data sink. Exactly-once: the append and the "
    "hash-bucketed status merge each commit a manifest version recording "
    "the batch_id (sources/sink.py), so a replayed batch is a no-op",
)
def op_stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.streaming.pipeline import read_channel_data, run_pipeline

    work = _workdir("op_stream_pipeline")
    run_pipeline(spark, sf_dir, work, available_now=True)
    return read_channel_data(spark, work)


@register(
    "op_stream_window_agg",
    """SELECT epoch_us(time_bucket(INTERVAL '1 minute', ts)) AS window_start_us,
           epoch_us(time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute')
             AS window_end_us,
           event_type, count(*) AS n_events,
           (CAST(CAST(SUM(CAST(FLOOR((value) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6) AS sum_value
    FROM events GROUP BY 1, 2, 3""",
    doc="watermarked tumbling-window aggregation running as a real streaming "
    "query (readStream replay, complete mode, availableNow drain); equals "
    "the batch twin op_window_agg_events because the single-batch replay "
    "drops nothing at the watermark",
)
def op_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.streaming.pipeline import events_stream
    from daq_3i_spark.streaming.windows import windowed_aggs

    events = events_stream(spark, sf_dir).select(
        "ts",
        "event_type",
        "value",
    )
    aggs, _ = drain(windowed_aggs(events), mode="complete")
    return aggs.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "op_stream_latest_per_channel",
    f"""WITH {_D},
    ranked AS (
      SELECT channel_id, id, ts, value,
             row_number() OVER (PARTITION BY channel_id
                                ORDER BY ts DESC, id DESC) AS rn
      FROM channel_data
    ) SELECT channel_id, id, ts, value FROM ranked WHERE rn = 1""",
    doc="the ChannelState latest-value slot as a keyed-state streaming op "
    "(applyInPandasWithState, O(1) state per channel) — run over the replay "
    "and drained; matches the batch window analog exactly",
)
def op_stream_latest_per_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.streaming.pipeline import build_sample_stream
    from daq_3i_spark.streaming.stateful import latest_per_key_stream

    latest, _ = drain(latest_per_key_stream(build_sample_stream(spark, sf_dir)), mode="update")
    return latest


@register(
    "op_sink_partitioned_scan",
    f"""WITH {_D}
    SELECT id, channel_id, ts, value FROM channel_data
    WHERE CAST(ts AS DATE) = DATE '2024-01-02'""",
    doc="the 100 TB sink layout round-tripped: channel_data written "
    "date-partitioned (sorted by channel_id within partitions, "
    "sources/sink.py), read back with a partition filter — the scan lists "
    "only the matching p_date directory (partition pruning), never the rest "
    "of the table",
)
def op_sink_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.sources.sink import (
        read_channel_data_partitioned,
        write_channel_data_partitioned,
    )

    work = _workdir("op_sink_partitioned")
    path = os.path.join(work, "channel_data_part")
    write_channel_data_partitioned(channel_data_df(spark, sf_dir), path)
    return (
        read_channel_data_partitioned(spark, path)
        .filter(F.col("p_date") == F.lit("2024-01-02").cast("date"))
        .select("id", "channel_id", "ts", "value")
    )


@register(
    "op_sink_zorder",
    f"""WITH {_D}
    SELECT id, channel_id, ts, value FROM channel_data""",
    doc="Z-order (Morton) clustered sink layout — the OPTIMIZE ZORDER BY "
    "analog: channel_data is range-partitioned and sorted on the bit-"
    "interleave of (channel_id, hour-of-month), so every output file owns "
    "a compact box in (channel, time) space and parquet min/max stats "
    "prune files for CHANNEL predicates and TIME predicates alike (a "
    "single-column sort prunes only its own column; tests measure the "
    "file-hit counts for both predicate shapes).  The interleave is pure "
    "Catalyst bit arithmetic (sources/sink.py:morton_code) — whole-stage "
    "codegen, one range shuffle.  The interleave width comes from the "
    "channel CONFIG dimension (driver-side metadata), not a fact-table "
    "max aggregate — the steady-state writer path.  Oracle = the full "
    "table: clustering must be content-neutral",
)
def op_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df, channels_rows
    from daq_3i_spark.sources.sink import write_channel_data_zordered

    work = _workdir("op_sink_zorder")
    path = os.path.join(work, "channel_data_z")
    # channel ids are config metadata (the reference's channels table) — the
    # interleave width is known without a fact-table pass (VERDICT r9 #1)
    ch_bits = max(int(r[0]) for r in channels_rows()).bit_length()
    write_channel_data_zordered(channel_data_df(spark, sf_dir), path, ch_bits=ch_bits)
    return spark.read.parquet(path).select("id", "channel_id", "ts", "value")


#: the CDC batch window for the MERGE op: only these days' partitions may
#: be rewritten; everything else must stay byte-for-byte.
_MERGE_LO, _MERGE_HI = "2024-01-10 00:00:00", "2024-01-15 00:00:00"


@register(
    "op_sink_merge_upsert",
    f"""WITH {_D},
    merged AS (
      SELECT id, channel_id, ts,
             CASE WHEN id % 7 = 0 AND ts >= TIMESTAMP '{_MERGE_LO}'
                                  AND ts <  TIMESTAMP '{_MERGE_HI}'
                  THEN value + 1000 ELSE value END AS value
      FROM channel_data
      UNION ALL
      SELECT id + 1000000000, channel_id, ts, CAST(id % 100 AS DOUBLE)
      FROM channel_data
      WHERE id % 13 = 0 AND ts >= TIMESTAMP '{_MERGE_LO}'
                        AND ts <  TIMESTAMP '{_MERGE_HI}'
    )
    SELECT id, channel_id, ts, value FROM merged""",
    doc="MERGE INTO on the date-partitioned sink (the Delta MERGE "
    "primitive, completing the table-service triad with retention and "
    "compaction): a CDC batch of updates (matched ids take the source "
    "value) and inserts (unmatched ids append) lands via the versioned-"
    "manifest protocol — ONLY the batch's days are rewritten (anti-join "
    "targets + union source per touched partition), every other "
    "partition's files stay byte-for-byte, and a crash at any stage "
    "leaves the previous version complete (sources/sink.py:merge_upsert)."
    "  The oracle states the merged end-state directly, so any lost "
    "update, duplicated key, or leaked unmatched row is a hash mismatch",
)
def op_sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.sources.sink import (
        merge_upsert,
        write_channel_data_partitioned,
    )

    work = _workdir("op_sink_merge_upsert")
    path = os.path.join(work, "channel_data_part")
    cd = channel_data_df(spark, sf_dir)
    write_channel_data_partitioned(cd, path)
    in_window = (F.col("ts") >= F.lit(_MERGE_LO).cast("timestamp")) & (
        F.col("ts") < F.lit(_MERGE_HI).cast("timestamp")
    )
    updates = cd.filter(in_window & (F.pmod(F.col("id"), F.lit(7)) == 0)).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    inserts = cd.filter(in_window & (F.pmod(F.col("id"), F.lit(13)) == 0)).select(
        (F.col("id") + F.lit(1_000_000_000)).alias("id"),
        "channel_id",
        "ts",
        F.pmod(F.col("id"), F.lit(100)).cast("double").alias("value"),
    )
    merge_upsert(spark, path, updates.unionByName(inserts))
    return spark.read.parquet(path).select("id", "channel_id", "ts", "value")


@register(
    "op_sink_change_feed",
    f"""WITH {_D},
    w AS (
      SELECT * FROM channel_data
      WHERE ts >= TIMESTAMP '{_MERGE_LO}' AND ts < TIMESTAMP '{_MERGE_HI}'
    )
    SELECT 'update_pre' AS change_type, id, channel_id, ts, value
    FROM w WHERE id % 7 = 0
    UNION ALL
    SELECT 'update_post', id, channel_id, ts, value + 1000
    FROM w WHERE id % 7 = 0
    UNION ALL
    SELECT 'insert', id + 1000000000, channel_id, ts, CAST(id % 100 AS DOUBLE)
    FROM w WHERE id % 13 = 0""",
    doc="change data feed between sink versions (the Delta table_changes "
    "analog, built on the manifest protocol's retained versions): after a "
    "MERGE with keep_versions=2, the op computes the GENERIC row-level "
    "diff of version 1 vs version 2 — full-outer join on the key, "
    "null-safe struct comparison, emitting insert / delete / update_pre / "
    "update_post rows exactly as a CDC consumer expects.  The oracle "
    "states the merge spec's expected changes directly, so the hash match "
    "proves generic version-diff == the applied merge.  At 100 TB the "
    "diff joins only the versions' differing partitions (the manifest "
    "names them), and a production feed would persist per-commit deltas "
    "instead of re-diffing — this op is the correctness baseline for one",
)
def op_sink_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.sources.sink import (
        merge_upsert,
        read_channel_data_versioned,
        write_channel_data_partitioned,
    )

    work = _workdir("op_sink_change_feed")
    path = os.path.join(work, "channel_data_part")
    cd = channel_data_df(spark, sf_dir)
    write_channel_data_partitioned(cd, path)
    in_window = (F.col("ts") >= F.lit(_MERGE_LO).cast("timestamp")) & (
        F.col("ts") < F.lit(_MERGE_HI).cast("timestamp")
    )
    updates = cd.filter(in_window & (F.pmod(F.col("id"), F.lit(7)) == 0)).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    inserts = cd.filter(in_window & (F.pmod(F.col("id"), F.lit(13)) == 0)).select(
        (F.col("id") + F.lit(1_000_000_000)).alias("id"),
        "channel_id",
        "ts",
        F.pmod(F.col("id"), F.lit(100)).cast("double").alias("value"),
    )
    merge_upsert(spark, path, updates.unionByName(inserts), keep_versions=2)

    cols = ["id", "channel_id", "ts", "value"]
    v1 = read_channel_data_versioned(spark, path, version=1).select(cols).alias("a")
    v2 = read_channel_data_versioned(spark, path, version=2).select(cols).alias("b")
    j = v1.join(v2, F.col("a.id") == F.col("b.id"), "full_outer")

    # ONE pass over the version diff: each joined row emits its 0-2 change
    # rows via a conditional array + explode, instead of the pre-r17 union
    # of FOUR projections of the same join — that shape re-executed the
    # full-outer join subtree once per branch (2 SortMergeJoins + 2 extra
    # scans in the sf0.1 plan; at 100 TB it shuffles both versions four
    # times).  Same rows: the when-chain conditions are exactly the old
    # branch filters (a-null -> insert, b-null -> delete, both present and
    # differing -> update_pre + update_post), and explode drops the empty
    # unchanged case.  guide §2.4 (remove shuffles outright).
    def entry(tag: str, pre: str) -> Column:
        return F.struct(
            F.lit(tag).alias("change_type"),
            *[F.col(f"{pre}.{c}").alias(c) for c in cols],
        )

    row_a = F.struct(*[F.col(f"a.{c}") for c in cols])
    row_b = F.struct(*[F.col(f"b.{c}") for c in cols])
    changes = (
        F.when(F.col("a.id").isNull(), F.array(entry("insert", "b")))
        .when(F.col("b.id").isNull(), F.array(entry("delete", "a")))
        .when(
            ~row_a.eqNullSafe(row_b),
            F.array(entry("update_pre", "a"), entry("update_post", "b")),
        )
    )  # unchanged rows: NULL array — explode emits nothing
    return (
        j.select(F.explode(changes).alias("ch"))
        .select("ch.change_type", *[F.col(f"ch.{c}").alias(c) for c in cols])
    )


#: time-retention cutoff — deliberately MID-DAY so the policy exercises both
#: paths: whole partitions strictly before the cutoff DATE drop at the
#: directory level (no data read), and the single straddled partition is
#: rewritten with a row filter.
_RETENTION_CUTOFF = "2024-01-21 12:00:00"


@register(
    "op_sink_retention_time",
    f"""WITH {_D}
    SELECT id, channel_id, ts, value FROM channel_data
    WHERE ts >= TIMESTAMP '{_RETENTION_CUTOFF}'""",
    doc="time-based retention on the date-partitioned sink (DELETE WHERE "
    "ts < cutoff with partition-drop semantics — the production complement "
    "of the reference's count-based keep-newest-N, daq-3i.py:193-215): "
    "channel_data lands date-partitioned (sources/sink.py), partitions "
    "wholly before the cutoff date are DROPPED at the file-listing level "
    "(zero rows read or rewritten — at 100 TB this is a metadata operation "
    "per expired day), only the one partition the mid-day cutoff straddles "
    "is rewritten with a row filter, and every surviving partition's files "
    "are untouched (tests pin the mtimes).  Oracle = the plain WHERE over "
    "the same rows, proving drop+rewrite == row-level delete",
)
def op_sink_retention_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.sources.sink import (
        apply_time_retention,
        write_channel_data_partitioned,
    )

    work = _workdir("op_sink_retention_time")
    path = os.path.join(work, "channel_data_part")
    write_channel_data_partitioned(channel_data_df(spark, sf_dir), path)
    apply_time_retention(spark, path, _RETENTION_CUTOFF)
    return spark.read.parquet(path).select("id", "channel_id", "ts", "value")


@register(
    "op_sink_time_travel",
    f"""WITH {_D}
    SELECT id, channel_id, ts, value FROM channel_data""",
    doc="snapshot isolation on the versioned sink, hash-proven: channel_data "
    "lands date-partitioned, a retention pass (DELETE WHERE ts < cutoff) "
    "runs with keep_versions=2, and the op returns the PRE-retention "
    "version via read_channel_data_versioned(version=1) — the oracle is "
    "the FULL table, so any row the service touched in v1's retained "
    "files is a hash mismatch.  This is the Delta/Iceberg time-travel "
    "contract reduced to its core (sources/sink.py manifest protocol): "
    "old versions stay byte-readable until their retention lapses, which "
    "is what makes reproducible training-data snapshots possible on a "
    "table that services keep rewriting",
)
def op_sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.sources.sink import (
        apply_time_retention,
        read_channel_data_versioned,
        write_channel_data_partitioned,
    )

    work = _workdir("op_sink_time_travel")
    path = os.path.join(work, "channel_data_part")
    write_channel_data_partitioned(channel_data_df(spark, sf_dir), path)
    apply_time_retention(spark, path, _RETENTION_CUTOFF, keep_versions=2)
    return read_channel_data_versioned(spark, path, version=1).select(
        "id", "channel_id", "ts", "value"
    )


@register(
    "op_stream_due_filter",
    f"""WITH RECURSIVE {_D},
    t AS (
      SELECT cd.id, cd.channel_id, cd.ts, cd.value,
             CAST(ch.timing AS BIGINT) * 1000000 AS timing_us,
             row_number() OVER (PARTITION BY cd.channel_id
                                ORDER BY cd.ts, cd.id) AS rn
      FROM channel_data cd JOIN channels ch ON cd.channel_id = ch.id
    ),
    walk AS (
      SELECT channel_id, rn, id, ts, value,
             epoch_us(ts) AS last_us, TRUE AS emitted
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.channel_id, t.rn, t.id, t.ts, t.value,
             CASE WHEN epoch_us(t.ts) - w.last_us > t.timing_us
                  THEN epoch_us(t.ts) ELSE w.last_us END,
             epoch_us(t.ts) - w.last_us > t.timing_us
      FROM t JOIN walk w ON t.channel_id = w.channel_id AND t.rn = w.rn + 1
    )
    SELECT channel_id, id, ts, value FROM walk WHERE emitted""",
    # the keyed-state walk IS SQL-expressible as a recursive CTE: one
    # frontier row per channel per step, carrying the last-emitted clock —
    # exactly _due_fn's sequential scan in (ts, id) order.  The availableNow
    # single-file replay delivers one micro-batch, so the streaming result
    # equals this whole-history walk.
    doc="the per-channel sampling-interval gate (check_read_due, bus.py:38-49) "
    "as a keyed-state streaming op: emit iff ts - last_emitted_ts > timing "
    "(strict, seconds), state = one timestamp per channel.  Oracled via a "
    "recursive-CTE replay of the same walk; tests/test_streaming.py also "
    "verifies against a sequential reference implementation",
)
def op_stream_due_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channels_df
    from daq_3i_spark.streaming.pipeline import build_sample_stream
    from daq_3i_spark.streaming.stateful import due_filter_stream

    samples = build_sample_stream(spark, sf_dir)
    timing = channels_df(spark).select(
        F.col("id").alias("channel_id"), "timing"
    )
    due, _ = drain(due_filter_stream(samples.join(F.broadcast(timing), "channel_id")))
    return due


@register(
    "op_source_modbus_sim",
    f"""WITH {_D},
    polled AS (
      SELECT c.id AS channel_id, c.bus_id, c.address, c.format_code,
             {_REG_COUNT_SQL} AS n_regs
      FROM channels c JOIN buses b ON c.bus_id = b.id
      WHERE c.enabled AND b.enabled AND b.protocol = 1 AND c.func_code = 3
    ),
    regs AS (
      SELECT channel_id, bus_id, address, format_code,
             address % 65536 AS r0,
             CASE WHEN n_regs >= 2 THEN (address + 1) % 65536 END AS r1,
             CASE WHEN n_regs >= 3 THEN (address + 2) % 65536 END AS r2
      FROM polled
    )
    SELECT channel_id, bus_id, address, format_code,
           make_timestamp({_MODBUS_POLL_TS * 1_000_000}) AS ts,
           {decode_sql_duckdb('format_code', 'r0', 'r1', 'r2')} AS value
    FROM regs""",
    # the simulator is fully pinned (register n holds n + tick, one tick,
    # poll_ts fixed — modbus_server.py:89-95), so the oracle reconstructs the
    # poll sweep from the dims CTE + the shared DuckDB decode rendering
    doc="the MODBUS acquisition source as a PySpark Python DataSource "
    "(sources/modbus_source.py): simulated device with the reference "
    "simulator's register map, partitioned one-per-bus, decode applied "
    "downstream; live pymodbus transport is the documented swap-in.  "
    "Deterministic, so fully oracled: the expected sweep is rebuilt in SQL "
    "from the same dims fixture and decode arithmetic",
)
def op_source_modbus_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.decode import decode_cols
    from daq_3i_spark.sources.modbus_source import ModbusSimDataSource

    try:
        spark.dataSource.register(ModbusSimDataSource)
    except Exception:
        pass  # already registered in this session
    raw = spark.read.format("modbus_sim").option("poll_ts", _MODBUS_POLL_TS).load()
    return raw.select(
        "channel_id",
        "bus_id",
        "address",
        "format_code",
        F.timestamp_seconds("poll_ts").alias("ts"),
        decode_cols(
            F.col("format_code"),
            F.get("registers", 0),  # F.get is NULL out-of-bounds (short arrays)
            F.get("registers", 1),
            F.get("registers", 2),
        ).alias("value"),
    )


@register(
    "op_stream_window_sliding",
    """WITH w AS (
      SELECT time_bucket(INTERVAL '1 minute', ts) - k * INTERVAL '1 minute'
               AS window_start,
             event_type, value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) u
    )
    SELECT CAST(window_start AS TIMESTAMP) AS window_start,
           CAST(window_start + INTERVAL '2 minutes' AS TIMESTAMP) AS window_end,
           event_type, count(*) AS n_events,
           (CAST(CAST(SUM(CAST(FLOOR((value) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6) AS sum_value
    FROM w GROUP BY 1, 2, 3""",
    doc="sliding event-time windows (2-min width, 1-min slide) as a real "
    "watermarked streaming aggregation (complete-mode availableNow drain; "
    "single-batch replay drops nothing) — completes the window matrix: "
    "tumbling/sliding/session, each in batch AND streaming form",
)
def op_stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.streaming.pipeline import events_stream
    from daq_3i_spark.streaming.windows import sliding_aggs

    events = events_stream(spark, sf_dir).select(
        "ts",
        "event_type",
        "value",
    )
    aggs, _ = drain(sliding_aggs(events), mode="complete")
    return aggs


@register(
    "op_stream_stream_join",
    """SELECT a.user_id,
           epoch_us(a.ts) AS ts_a_us, epoch_us(b.ts) AS ts_b_us,
           a.value AS value_a, b.value AS value_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000""",
    doc="stream-stream windowed self-join: each event matched with the same "
    "user's follow-up events within 5 minutes — both sides watermarked, the "
    "time-range constraint bounds join state so expired rows are evicted "
    "(the canonical Structured Streaming interval join); single-batch "
    "availableNow drain makes the result the complete pair set, oracle = "
    "the equivalent batch range join",
)
def op_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.streaming.pipeline import events_stream

    def side(tag: str) -> DataFrame:
        return events_stream(spark, sf_dir).select(
            F.col("user_id").alias(f"user_{tag}"),
            F.col("ts").alias(f"ts_{tag}"),
            F.col("value").alias(f"value_{tag}"),
        ).withWatermark(f"ts_{tag}", "1 hour")

    left, right = side("a"), side("b")
    joined = left.join(
        right,
        F.expr(
            "user_a = user_b AND ts_b > ts_a "
            "AND ts_b <= ts_a + interval 5 minutes"
        ),
    )
    pairs, _ = drain(joined)
    return pairs.select(
        F.col("user_a").alias("user_id"),
        F.unix_micros("ts_a").alias("ts_a_us"),
        F.unix_micros("ts_b").alias("ts_b_us"),
        "value_a",
        "value_b",
    )


@register(
    "op_stream_dedup_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
    doc="streaming exact deduplication: dropDuplicates over the watermarked "
    "event stream keeps ONE row per (user_id, event_type) across "
    "micro-batches (keyed dedup state, the exactly-once upgrade of the "
    "reference's at-most-once slot overwrite); emitting just the key "
    "columns makes the drained result deterministic — oracle is DISTINCT",
)
def op_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.streaming.pipeline import events_stream

    events = events_stream(spark, sf_dir).select(
        "ts",
        "user_id",
        "event_type",
    )
    keys, _ = drain(
        events.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return keys


@register(
    "op_graceful_stop",
    f"""WITH {_D},
    joined AS (
      SELECT cd.id, cd.channel_id, cd.ts, cd.value, c.conversion_id
      FROM channel_data cd JOIN channels c ON cd.channel_id = c.id AND c.enabled
    )
    SELECT id, channel_id, ts,
           {convert_case_duckdb(_CONVS, "conversion_id", "value")} AS value
    FROM joined""",
    doc="cooperative shutdown mid-stream + checkpointed resume (SURVEY §2.7 "
    "op_graceful_stop; the reference's SIGTERM `stopping` flag, "
    "daq-3i.py:296-321).  The feed is split into 2 files streamed one per "
    "micro-batch; query.stop() lands after the first progress event, then a "
    "second query on the SAME checkpoint drains the rest.  Because the "
    "foreachBatch sink is idempotent per batch_id, the stop can land before, "
    "between, or inside a batch and the union of both runs is still exactly "
    "the full feed — the oracle is the plain batch enrich+convert of every "
    "event, no retention, nothing lost or duplicated",
)
def op_graceful_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.streaming.pipeline import (
        enrich_and_convert,
        persist_batch,
        read_channel_data,
    )

    work = _workdir("op_graceful_stop")
    feed = _replay_feed(
        spark, work, channel_data_df(spark, sf_dir),
        _sf_feed_key("channel_data_2f", sf_dir), n_files=2,
    )

    enriched = enrich_and_convert(feed_stream(spark, feed), spark)
    ckpt = os.path.join(work, "ckpt")

    def sink(batch: DataFrame, batch_id: int) -> None:
        persist_batch(spark, work, batch, batch_id)

    # the first query is stopped, not drained, so it runs on its own clone
    with isolated(spark) as clone:
        q = (
            rebind(enriched, clone).writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline and q.isActive and not q.recentProgress:
            time.sleep(0.2)
        q.stop()  # cooperative: the stopping flag analog
        q.awaitTermination()
    drain(enriched, sink, checkpoint=ckpt)
    return read_channel_data(spark, work)


# --- incremental continuous-aggregate refresh --------------------------------

#: refresh split instant — deliberately NOT on an hour boundary, so the
#: bucket containing it receives rows from BOTH the stored aggregate's epoch
#: and the delta; correct maintenance must invalidate and recompute that
#: straddled bucket, not merge into it blindly.
_ROLLUP_SPLIT = "2024-01-25 12:30:00"


from daq_3i_spark.plans.reference_ops import (  # no cycle: reference_ops
    ROLLUP_HOURLY_SQL,                         # never imports streaming_ops
    hourly_rollup,
)


@register(
    "op_rollup_incremental",
    ROLLUP_HOURLY_SQL,  # the oracle IS the from-scratch recompute
    doc="incremental refresh of the hourly continuous aggregate "
    "(TimescaleDB-style invalidate-and-recompute): the rollup of everything "
    "before the split instant is materialized to parquet (the stored "
    "aggregate), then a delta batch (ts >= split) arrives; the op "
    "invalidates exactly the (channel, hour) buckets the delta touches via "
    "a broadcast anti-join on the stored table, recomputes those buckets "
    "from the full data, and unions them with the untouched stored rows.  "
    "The ORACLE is the from-scratch rollup — a hash match proves "
    "incremental maintenance == full recompute, including the bucket the "
    "split instant straddles.  At scale the delta is one micro-batch and "
    "the anti-join prunes to touched partitions; only touched buckets "
    "re-aggregate",
)
def op_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    split = F.lit(_ROLLUP_SPLIT).cast("timestamp")

    # epoch 1: the stored aggregate (what a foreachBatch epilogue persisted)
    work = _workdir("op_rollup_incremental")
    path = os.path.join(work, "rollup_hourly")
    hourly_rollup(cd.filter(F.col("ts") < split)).write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)

    # epoch 2: the delta invalidates every (channel, hour) bucket it touches
    delta = cd.filter(F.col("ts") >= split)
    touched = delta.select(
        "channel_id",
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("bucket_us"),
    ).distinct()
    kept = stored.join(F.broadcast(touched), ["channel_id", "bucket_us"], "anti")
    # recompute touched buckets from the FULL data (pre-split rows of the
    # straddled bucket included) — a semi-join prunes the scan to them
    refreshed = hourly_rollup(
        cd.withColumn(
            "bucket_us", F.unix_micros(F.date_trunc("hour", F.col("ts")))
        ).join(F.broadcast(touched), ["channel_id", "bucket_us"], "semi")
    )
    return kept.unionByName(refreshed)



def _sf_feed_key(name: str, sf_dir: str) -> str:
    """Feed-cache key: the semantic derivation name + a FINGERPRINT of the
    resolved sf_dir — sha1 over the realpath and every parquet entry's
    (name, size, mtime_ns).  Keying on the basename alone (pre-r13) let two
    corpora sharing a basename, or the same path regenerated in place under
    a recycled pid, silently serve each other's cached feed — a
    wrong-results path the oracle can't see because the cached feed IS the
    input (ADVICE r12).  Symlinked fixture tables fingerprint their TARGET
    (os.stat follows links), so a fixture that re-links to new data re-keys.
    A DIRECTORY-shaped table (which table_rows supports) fingerprints every
    contained file's (relative name, size, mtime_ns) — the directory's own
    stat does not change when a part file inside is overwritten in place,
    so hashing it alone would keep a stale feed key (ADVICE r13)."""
    import hashlib

    root = os.path.realpath(sf_dir)
    h = hashlib.sha1(root.encode())

    def upd(rel: str, st: os.stat_result) -> None:
        h.update(f"|{rel}:{st.st_size}:{st.st_mtime_ns}".encode())

    try:
        for f in sorted(os.listdir(root)):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(root, f)
            if os.path.isdir(p):
                for dirpath, dirnames, filenames in os.walk(p):
                    dirnames.sort()
                    for part in sorted(filenames):
                        rel = os.path.relpath(os.path.join(dirpath, part), root)
                        upd(rel, os.stat(os.path.join(dirpath, part)))
            else:
                upd(f, os.stat(p))
    except OSError:
        pass
    return f"{name}-{h.hexdigest()[:16]}"


def _purge_dead_worker_caches() -> None:
    """Drop ``*-w{pid}`` cache dirs whose worker pid is no longer alive: a
    recycled pid must never inherit a predecessor's cache, and .tmp
    otherwise grows without bound across sessions (ADVICE r12).  A pid that
    exists but belongs to another user (PermissionError from kill 0) is
    treated as alive — never delete under a live process.  An own-pid dir
    is ALSO purged: this module creates ``-w{pid}`` dirs only after import
    and is imported once per process, so at purge time (module import) an
    own-pid dir can only be a dead predecessor's whose pid we recycled —
    skipping it was the one inheritance path left open (ADVICE r13)."""
    import re

    try:
        entries = os.listdir(_TMP_ROOT)
    except OSError:
        return
    me = os.getpid()
    for e in entries:
        m = re.fullmatch(r".+-w(\d+)", e)
        if not m:
            continue
        if int(m.group(1)) == me:
            shutil.rmtree(os.path.join(_TMP_ROOT, e), ignore_errors=True)
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(_TMP_ROOT, e), ignore_errors=True)
        except PermissionError:
            pass


_purge_dead_worker_caches()


def _cached_feed(feed_key: str, build_fn) -> str:
    """Per-process cache for CUSTOM-BUILT feed directories (the sliced,
    mtime-stamped layouts the watermark/stale replays use): ``build_fn``
    populates a fresh directory once per process; a ``_FEED_DONE`` marker
    written only after it returns gates reuse, so a crashed half-build is
    rebuilt, never trusted.  Streams and batch re-reads both ignore
    underscore-prefixed files (Spark's hidden-file rule), and reuse
    preserves the build's explicit mtime stamps — slice ordering is
    byte-identical on every run.  Consumers only READ the feed; the
    per-op checkpoint still lives under the op's own _workdir."""
    cache = os.path.join(_TMP_ROOT, f"feedcache-w{os.getpid()}", feed_key)
    marker = os.path.join(cache, "_FEED_DONE")
    if not os.path.exists(marker):
        if os.path.isdir(cache):
            shutil.rmtree(cache)
        os.makedirs(cache)
        build_fn(cache)
        with open(marker, "w"):
            pass
    return cache


def _replay_feed(spark: SparkSession, work: str, feed_df: DataFrame,
                 feed_key: str | None, n_files: int = 4) -> str:
    """Materialize the 4-file replay feed, reusing a per-process cache when
    ``feed_key`` names the feed's semantic content (e.g. three replay ops
    all stream the identical channel_data derivation — writing it once
    saves a full derive+encode per op).  Safe to share because streams only
    READ the feed, checkpoints stay per-op under ``work``, and every
    consumer's aggregate is order-insensitive over the batch slicing.  The
    cache directory is pid-scoped exactly like _workdir (concurrent
    sharded workers never share); parquet's _SUCCESS marker gates reuse so
    a crashed half-write is rewritten, never trusted."""
    if feed_key is None:
        feed = os.path.join(work, "feed")
        feed_df.repartition(n_files).write.parquet(feed)
        return feed
    cache = os.path.join(_TMP_ROOT, f"feedcache-w{os.getpid()}", feed_key)
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        feed_df.repartition(n_files).write.mode("overwrite").parquet(cache)
    return cache


def _replay_aggregate(
    spark: SparkSession,
    work: str,
    feed_df: DataFrame,
    agg_fn,
    feed_key: str | None = None,
) -> DataFrame:
    """The incremental-aggregate shape shared by every maintenance op:
    replay ``feed_df`` as 4 micro-batches, run ``agg_fn`` (a
    ``groupBy(...).agg(...)``) on the stream and drain it in complete mode.
    Spark's state store keeps each group's aggregation buffer across the
    batches and commits it exactly once per batch through the checkpoint,
    so the drained table is the aggregate over the whole feed; a replayed
    batch recomputes from the state version below it.  8 state partitions:
    the store's width is fixed at query start and never coalesced, and at
    ``local[32]``'s width of 32 the per-partition commits made four of these
    ops ~2x slower (sf0.1, 4-core host)."""
    feed = _replay_feed(spark, work, feed_df, feed_key)
    result, _ = drain(
        agg_fn(feed_stream(spark, feed)), mode="complete",
        checkpoint=os.path.join(work, "ckpt"), partitions=8,
    )
    return result


@register(
    "op_stream_rollup_refresh",
    ROLLUP_HOURLY_SQL,  # oracle: from-scratch recompute over all batches
    doc="the hourly continuous aggregate maintained ACROSS MICRO-BATCHES: "
    "the sample feed replays in 4 micro-batches (maxFilesPerTrigger=1) "
    "through one streaming groupBy drained in complete mode — counts and "
    "fixed-point BIGINT sums add, min/min and max/max combine, so the "
    "state store's aggregation buffers are exact and order-insensitive "
    "(nothing ever re-scans raw history — the 100 TB continuous-aggregate "
    "path, unlike op_rollup_incremental's invalidate-and-recompute which "
    "re-reads touched buckets).  The oracle is the from-scratch rollup "
    "over everything, so the hash match proves 4-batch incremental state "
    "== batch recompute bit-for-bit.  Complete-mode state, exactly-once "
    "via the checkpoint: a crashed batch re-runs from the state version "
    "below it",
)
def op_stream_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.numeric import fx_unscaled
    from daq_3i_spark.sources.daq_dims import channel_data_df

    work = _workdir("op_stream_rollup_refresh")

    def aggregate(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "channel_id",
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("bucket_us"),
        ).agg(
            F.count("*").alias("n_samples"),
            F.sum(fx_unscaled(F.col("value"))).alias("sum_fx"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    final = _replay_aggregate(
        spark, work, channel_data_df(spark, sf_dir), aggregate,
        feed_key=_sf_feed_key("channel_data", sf_dir),
    )
    return final.select(
        "channel_id",
        "bucket_us",
        "n_samples",
        (F.col("sum_fx").cast("double") / F.lit(1e6)).alias("sum_value"),
        "min_value",
        "max_value",
    )


@register(
    "op_stream_trend",
    None,  # oracle attached below: the batch op's trend SQL, shared verbatim
    doc="the per-(channel, day) least-squares drift rate maintained ACROSS "
    "MICRO-BATCHES — the streaming twin of op_timeseries_trend, and the "
    "cleanest possible demonstration that sufficient statistics ARE the "
    "streaming-native form of regression: the aggregate is the five "
    "plain BIGINT sums (n, Σx, Σy, Σxy, Σx²) per (channel, date), "
    "kept as complete-mode state (exactly-once via the checkpoint) in one "
    "streaming groupBy, and slope/intercept are derived from the drained "
    "state with the batch op's exact expression tree — so the 4-batch "
    "incremental aggregate hash-matches the from-scratch DuckDB "
    "recompute bit-for-bit.  At 100 TB this is how a drift dashboard "
    "stays current: the state is (channel × day)-cardinality, "
    "nothing re-scans sample history, and a late sample folds into its "
    "day's statistics exactly like an in-order one",
)
def op_stream_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.plans.analytics_ops import _fx3
    from daq_3i_spark.sources.daq_dims import channel_data_df

    work = _workdir("op_stream_trend")

    def aggregate(df: DataFrame) -> DataFrame:
        p = df.select(
            "channel_id",
            F.to_date("ts").alias("trend_date"),
            F.hour("ts").cast("bigint").alias("x"),
            _fx3(F.col("value")).alias("y"),
        )
        return p.groupBy("channel_id", "trend_date").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )

    s = _replay_aggregate(
        spark, work, channel_data_df(spark, sf_dir), aggregate,
        feed_key=_sf_feed_key("channel_data", sf_dir),
    )
    # identical final expression tree to op_timeseries_trend — the oracle is
    # shared verbatim, so any drift here is a hash mismatch
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_fx = num.cast("double") / den.cast("double")
    return s.filter(den > 0).select(
        "channel_id",
        "trend_date",
        F.col("n").alias("n_samples"),
        (slope_fx / F.lit(1e3)).alias("slope_per_hour"),
        (
            (F.col("sy").cast("double") - slope_fx * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / F.lit(1e3)
        ).alias("intercept"),
    )


# --- small-file compaction of the date-partitioned sink ----------------------

#: fragmentation split: dates before this stay compact (one pre-written
#: file) so the threshold check has untouched partitions to preserve;
#: dates at/after it receive 8 per-micro-batch appends each.
_COMPACT_SPLIT = "2024-01-16"
_COMPACT_MAX_FILES = 4


@register(
    "op_sink_compaction",
    f"WITH {_D} SELECT id, channel_id, ts, value FROM channel_data",
    doc="small-file compaction of the streaming sink (the OPTIMIZE table "
    "service): half the date partitions are written compact, the other "
    "half fragmented by 8 micro-batch-style appends (one file each), then "
    f"compact_partitions rewrites every partition above {_COMPACT_MAX_FILES} "
    "files into ceil(bytes/128MB) range-sorted files (one at this scale) "
    "and leaves the rest byte-for-byte untouched (tests pin file "
    "inventories).  The oracle is the full table — compaction must be "
    "content-neutral, so any lost or duplicated row is a hash mismatch.  "
    "At 100 TB this is the idempotent background service that keeps scan "
    "cost from degrading into per-file open overhead as micro-batches "
    "accumulate; the pass is crash-safe via the versioned-manifest commit "
    "protocol (sources/sink.py, kill-tested in tests/test_sink_services.py)",
)
def op_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.sources.sink import compact_partitions

    work = _workdir("op_sink_compaction")
    path = os.path.join(work, "sink")
    cd = channel_data_df(spark, sf_dir).withColumn("p_date", F.to_date("ts"))
    split = F.lit(_COMPACT_SPLIT).cast("date")
    # compact history: one sorted file per old partition
    (
        cd.filter(F.col("p_date") < split)
        .repartition(F.col("p_date"))
        .sortWithinPartitions("channel_id", "id")
        .write.partitionBy("p_date")
        .parquet(path)
    )
    # fragmented recent partitions: 8 fragment writes, one file per partition
    # each.  CONCURRENT Spark jobs into per-fragment tmp dirs, moved into
    # the sink afterwards (the stale-monitor slice-writer pattern) — 8
    # sequential direct appends measured 3.3 s of the op's 5.5 s, and
    # concurrent .mode('append') jobs into ONE path would collide in the
    # committer's shared _temporary dir
    from concurrent.futures import ThreadPoolExecutor

    recent = cd.filter(F.col("p_date") >= split).persist()
    recent.count()

    def write_fragment(k: int) -> str:
        tmp = os.path.join(work, f"frag{k}")
        (
            recent.filter(F.pmod(F.col("id"), F.lit(8)) == k)
            .repartition(F.col("p_date"))
            .write.partitionBy("p_date")
            .parquet(tmp)
        )
        return tmp

    with ThreadPoolExecutor(max_workers=8) as pool:
        tmps = list(pool.map(write_fragment, range(8)))
    recent.unpersist()
    for k, tmp in enumerate(tmps):
        for pdir in os.listdir(tmp):
            if not pdir.startswith("p_date="):
                continue
            dstdir = os.path.join(path, pdir)
            os.makedirs(dstdir, exist_ok=True)
            for f in os.listdir(os.path.join(tmp, pdir)):
                if f.endswith(".parquet"):
                    shutil.move(
                        os.path.join(tmp, pdir, f),
                        os.path.join(dstdir, f"frag{k}-{f}"),
                    )
        shutil.rmtree(tmp)
    compact_partitions(spark, path, max_files=_COMPACT_MAX_FILES)
    return spark.read.parquet(path).select("id", "channel_id", "ts", "value")


# --- streaming anomaly threshold via the mergeable histogram sketch ----------

_ANOM_W = 5.0  # value-bucket width (values span 0..~560 -> ~112 buckets)
_ANOM_PCT = 99  # integer percentile: threshold = first bucket with cum% >= 99


@register(
    "op_stream_anomaly_sketch",
    f"""WITH {_D},
    b AS (
      SELECT channel_id,
             CAST(floor(value / {_ANOM_W}) AS BIGINT) AS bucket,
             count(*) AS cnt
      FROM channel_data GROUP BY 1, 2
    ), c AS (
      SELECT channel_id, bucket,
             sum(cnt) OVER (PARTITION BY channel_id ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY channel_id) AS n
      FROM b
    ), q AS (
      SELECT channel_id, min(bucket) AS qbucket
      FROM c WHERE cum * 100 >= n * {_ANOM_PCT}
      GROUP BY channel_id
    )
    SELECT cd.id, cd.channel_id, cd.value, q.qbucket
    FROM channel_data cd JOIN q USING (channel_id)
    WHERE CAST(floor(cd.value / {_ANOM_W}) AS BIGINT) >= q.qbucket""",
    doc="anomaly detection with an INCREMENTALLY-MAINTAINED threshold (the "
    "streaming complement of op_anomaly_rank's exact batch percentile): the "
    "sample feed replays in 4 micro-batches and one streaming groupBy "
    "keeps the per-(channel, value-bucket) histogram counts as "
    "complete-mode state, exactly-once via the checkpoint — counts add "
    "(the op_sql_histogram_quantile sketch), so the p99 threshold is "
    "maintainable at 100 TB ingest without ever re-scanning history.  "
    "The final threshold bucket per channel is the first with cum*100 >= "
    "n*99 (integer cross-multiply, bit-portable), and samples at or above "
    "it are flagged.  Oracle = the "
    "same histogram arithmetic over all data in one batch, hash-proving "
    "4-batch incremental state == from-scratch.  A production deployment "
    "flags inside each batch against the running threshold; the replay "
    "flags once at the end so the result is batch-deterministic",
)
def op_stream_anomaly_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    work = _workdir("op_stream_anomaly_sketch")
    bucket = F.floor(F.col("value") / _ANOM_W).cast("bigint").alias("bucket")

    def aggregate(df: DataFrame) -> DataFrame:
        return (
            df.select("channel_id", bucket)
            .groupBy("channel_id", "bucket")
            .agg(F.count("*").alias("cnt"))
        )

    hist = _replay_aggregate(
        spark, work, channel_data_df(spark, sf_dir), aggregate,
        feed_key=_sf_feed_key("channel_data", sf_dir),
    )
    w_cum = Window.partitionBy("channel_id").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("channel_id")
    qb = (
        hist.select(
            "channel_id",
            "bucket",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("n"),
        )
        .filter(F.col("cum") * 100 >= F.col("n") * _ANOM_PCT)
        .groupBy("channel_id")
        .agg(F.min("bucket").alias("qbucket"))
    )
    # the flag pass re-derives the feed frame instead of re-reading the
    # written files — identical content (the feed IS this derivation), and
    # it stays valid under the shared feed cache
    flagged = (
        channel_data_df(spark, sf_dir)
        .join(F.broadcast(qb), "channel_id")
        .filter(
            F.floor(F.col("value") / _ANOM_W).cast("bigint") >= F.col("qbucket")
        )
    )
    return flagged.select("id", "channel_id", "value", "qbucket")


# --- stale-channel liveness monitor (event-time state timeout) ---------------

#: channels with channel_id % 5 == 0 stop producing at this instant — the
#: feed drops their later samples so the monitor has something to detect.
_STALE_CUT = "2024-01-13 00:00:00"
#: staleness threshold, seconds.  6 days is chosen against the corpus shape
#: (Jan 1-30, max intra-channel gap ~3.2 d at sf0.001) so that (a) no LIVE
#: channel's event-time lag ever exceeds it at any micro-batch boundary and
#: (b) every stopped channel's timeout fires strictly before the last data
#: batch's watermark — each stopped channel fires EXACTLY ONCE with its true
#: final timestamp, which is what makes a multi-batch state-timeout run
#: hash-oracle-able at all.
_STALE_AFTER_S = 6 * 86400
#: event-time slice boundaries: one parquet file (= one micro-batch, via
#: maxFilesPerTrigger=1 + mtime ordering) per slice, so the watermark
#: trajectory is a deterministic function of the DATA, not of file layout.
_STALE_SLICES = [
    "2023-12-01 00:00:00",
    "2024-01-08 12:00:00",
    "2024-01-16 00:00:00",
    "2024-01-23 12:00:00",
    "2024-02-15 00:00:00",
]


@register(
    "op_stream_stale_monitor",
    f"""WITH {_D}
    SELECT channel_id, epoch_us(max(ts)) AS last_ts_us,
           CAST(-1 AS INTEGER) AS status
    FROM channel_data
    WHERE channel_id % 5 = 0 AND ts < TIMESTAMP '{_STALE_CUT}'
    GROUP BY channel_id""",
    doc="dead-channel liveness detection via keyed state + EVENT-TIME timeout "
    "(applyInPandasWithState, streaming/stateful.py:stale_monitor_stream): "
    "channels ending in 0 or 5 stop producing mid-feed, the replay runs in 4 "
    "watermark-ordered micro-batches, and a stale marker (status=-1, the "
    "reference's failure code, bus.py:94) fires when the watermark passes a "
    "channel's last event + 6 days.  The threshold/slice geometry makes the "
    "emitted set deterministic — every stopped channel fires exactly once "
    "with its true last timestamp, no live channel ever fires — so the "
    "oracle is the batch recomputation of stale channels at the final "
    "watermark.  State per key is one timestamp; at 100 TB the state store "
    "shards by channel_id and the timeout scan is O(#channels) per batch",
)
def op_stream_stale_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.streaming.stateful import stale_monitor_stream

    work = _workdir("op_stream_stale_monitor")

    # one file per event-time slice, mtimes strictly increasing: the file
    # source orders by modification time, so micro-batch k == slice k and the
    # watermark advances through the slice boundaries deterministically.
    # The slice writes read a cached frame and run as CONCURRENT Spark jobs
    # (4 sequential scan+coalesce jobs measured 2.2 s of the op's 5 s);
    # mtimes are assigned sequentially afterwards, so ordering is unaffected.
    # The whole layout builds ONCE per process (_cached_feed).
    def build(feed: str) -> None:
        from concurrent.futures import ThreadPoolExecutor

        cd = channel_data_df(spark, sf_dir)
        fed = cd.filter(
            (F.col("channel_id") % 5 != 0)
            | (F.col("ts") < F.lit(_STALE_CUT).cast("timestamp"))
        ).persist()
        fed.count()

        def write_slice(k: int) -> str:
            lo, hi = _STALE_SLICES[k], _STALE_SLICES[k + 1]
            tmp = os.path.join(work, f"tmp{k}")
            fed.filter(
                (F.col("ts") >= F.lit(lo).cast("timestamp"))
                & (F.col("ts") < F.lit(hi).cast("timestamp"))
            ).coalesce(1).write.parquet(tmp)
            return tmp

        with ThreadPoolExecutor(max_workers=4) as pool:
            tmps = list(pool.map(write_slice, range(len(_STALE_SLICES) - 1)))
        fed.unpersist()
        for k, tmp in enumerate(tmps):
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(feed, f"slice_{k}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))

    feed = _cached_feed(_sf_feed_key("stale_slices", sf_dir), build)

    stream = feed_stream(spark, feed).select("channel_id", "ts")
    out = os.path.join(work, "markers")

    def sink(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(out)

    # 8 state partitions, not the default width: 40 channel keys pay per-
    # partition Python state workers + state-store commits across FIVE
    # micro-batches (4 data + the timeout-firing no-data batch) — measured
    # 6.9 -> 4.9 s at sf0.1 with identical results (state shards by key
    # either way; the rest is irreducible per-batch machinery)
    drain(
        stale_monitor_stream(stream, stale_after_s=_STALE_AFTER_S), sink,
        checkpoint=os.path.join(work, "ckpt"), partitions=8,
    )
    markers = spark.read.parquet(out)
    return markers.select(
        "channel_id", F.unix_micros("last_ts").alias("last_ts_us"), "status"
    )


# --- streaming OHLC bars via arg-min/arg-max mergeable aggregates ------------


@register(
    "op_stream_ohlc",
    None,  # oracle attached below: the batch op's OHLC_SQL, shared verbatim
    doc="OHLC/volume bars maintained ACROSS MICRO-BATCHES — the streaming "
    "twin of op_events_ohlc and the one aggregate in the mergeable family "
    "whose state is NOT plain sums: open/close are arg-min/arg-max over "
    "the (ts, event_id) event order, so the state carries the VALUE "
    "TOGETHER WITH ITS ORDERING KEY as a struct, and min_by/max_by on "
    "that key are associative and exact, like count/sum/min/max.  The "
    "feed replays in 4 micro-batches through one streaming groupBy "
    "(complete-mode state, exactly-once via the checkpoint); the oracle is "
    "the from-scratch bar computation over everything, so the hash match "
    "proves 4-batch key-carrying state == batch recompute bit-for-bit.  "
    "At 100 TB this is how live dashboards keep bars current: the state "
    "is bar-cardinality, nothing re-scans "
    "event history, and a late event merges into its bar exactly like an "
    "in-order one (no watermark, so nothing is discarded)",
)
def op_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.numeric import fx_unscaled
    from daq_3i_spark.sources.tables import load_events

    work = _workdir("op_stream_ohlc")
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.window("ts", "15 minutes").getField("start").alias("w"),
        "ts",
        "event_id",
        "value",
    )
    okey = F.struct("ts", "event_id")

    def aggregate(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "w").agg(
            F.min_by(F.struct("ts", "event_id", "value"), okey).alias("open_s"),
            F.max_by(F.struct("ts", "event_id", "value"), okey).alias("close_s"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count("*").alias("n_events"),
            F.sum(fx_unscaled(F.col("value"))).alias("vol_fx"),
        )

    final = _replay_aggregate(
        spark, work, ev, aggregate, feed_key=_sf_feed_key("events_ohlc", sf_dir)
    )
    return final.select(
        "event_type",
        F.unix_micros("w").alias("bucket_us"),
        F.col("open_s.value").alias("open"),
        F.col("close_s.value").alias("close"),
        "high",
        "low",
        F.col("n_events").cast("bigint").alias("n_events"),
        (F.col("vol_fx").cast("double") / F.lit(1e6)).alias("volume"),
    )


# attach the shared batch oracle (import here to avoid a cycle at module
# import time: analytics_ops imports nothing from streaming_ops)
import dataclasses  # noqa: E402

from daq_3i_spark.plans.analytics_ops import OHLC_SQL as _OHLC_SQL  # noqa: E402
from daq_3i_spark.plans.analytics_ops import _trend_oracle  # noqa: E402
from daq_3i_spark.plans.registry import QUERIES  # noqa: E402

QUERIES["op_stream_ohlc"] = dataclasses.replace(
    QUERIES["op_stream_ohlc"], oracle=_OHLC_SQL
)
QUERIES["op_stream_trend"] = dataclasses.replace(
    QUERIES["op_stream_trend"], oracle=_trend_oracle()
)


# --- watermark semantics proven: late deliveries drop, windows finalize ------

#: late set: week-1 events (id % 7 == 0) are WITHHELD from the time-ordered
#: slices and delivered last — after the watermark has passed their windows
_LATE_CUT = "2024-01-08 00:00:00"
_LATE_SLICES = ["2024-01-10 00:00:00", "2024-01-20 00:00:00"]


@register(
    "op_stream_late_drop",
    """WITH ot AS (
      SELECT * FROM events
      WHERE NOT (event_id % 7 = 0 AND ts < TIMESTAMP '2024-01-08 00:00:00')
    ), m AS (SELECT max(ts) AS mx FROM ot),
    w AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM ot GROUP BY 1, 2
    )
    SELECT epoch_us(ws) AS window_start_us, event_type, n_events
    FROM w, m
    WHERE ws + INTERVAL '2 hours' <= mx""",
    doc="watermark semantics proven end-to-end — the one streaming behavior "
    "the single-batch replays cannot show: hourly windowed counts with a "
    "1-hour watermark run over FOUR mtime-ordered micro-batches where "
    "week-1 events with id%7==0 are withheld from the time-ordered slices "
    "and delivered LAST, after the watermark (max on-time event time - 1h) "
    "has passed far beyond their windows.  Append mode then (a) emits only "
    "FINALIZED windows (window_end <= watermark -> the oracle's "
    "ws + 2h <= max(ts) cut: 1h window + 1h delay), and (b) DROPS the "
    "late deliveries, whose windows were already finalized — so the "
    "oracle's counts EXCLUDE the late set, and the hash match proves both "
    "behaviors exactly (a non-dropping engine double-counts week-1 "
    "windows; an eager emitter leaks trailing windows).  State is bounded "
    "by windows inside the watermark horizon — the property that makes "
    "unbounded-stream aggregation feasible at all",
)
def op_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.tables import load_events

    work = _workdir("op_stream_late_drop")

    def build(feed: str) -> None:
        ev = load_events(spark, sf_dir).select("event_id", "ts", "event_type")
        late = (F.col("event_id") % 7 == 0) & (
            F.col("ts") < F.lit(_LATE_CUT).cast("timestamp")
        )
        bounds = [None, *_LATE_SLICES, None]
        slices = []
        for k in range(3):  # time-ordered on-time slices
            cond = ~late
            if bounds[k] is not None:
                cond &= F.col("ts") >= F.lit(bounds[k]).cast("timestamp")
            if bounds[k + 1] is not None:
                cond &= F.col("ts") < F.lit(bounds[k + 1]).cast("timestamp")
            slices.append(cond)
        slices.append(late)  # the late delivery, last

        ev_c = ev.persist()
        ev_c.count()
        for k, cond in enumerate(slices):
            tmp = os.path.join(work, f"tmp{k}")
            ev_c.filter(cond).coalesce(1).write.parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(feed, f"slice_{k}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
        ev_c.unpersist()

    feed = _cached_feed(_sf_feed_key("late_slices", sf_dir), build)

    agg = (
        feed_stream(spark, feed).withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    windows, _ = drain(agg, checkpoint=os.path.join(work, "ckpt"), partitions=8)
    return windows.select(
        F.unix_micros(F.col("window").getField("start")).alias("window_start_us"),
        "event_type",
        "n_events",
    )


# --- forecast-error monitor maintained across micro-batches -------------------


@register(
    "op_stream_forecast_monitor",
    None,  # patched below: shares op_events_forecast_naive's oracle verbatim
    doc="op_events_forecast_naive's seasonal-naive MAE/bias maintained "
    "ACROSS MICRO-BATCHES: the event feed replays in 4 micro-batches "
    "through one streaming (event_type, hour) count, kept as "
    "complete-mode state, exactly-once via the checkpoint; the drained "
    "counts feed the SAME scoring tree as the batch op "
    "(analytics_ops._forecast_eval — one definition, shared).  The "
    "oracle is the batch op's verbatim, so the 4-batch incremental "
    "aggregate is hash-PROVEN equal to the "
    "from-scratch evaluation — the monitoring loop a deployment runs "
    "against live ingest without ever re-scanning history.  Scale "
    "shape: the state holds one count per (type, hour), so it grows "
    "with the calendar, not the data; scoring runs on "
    "the dimension frame",
)
def op_stream_forecast_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.plans.analytics_ops import _forecast_eval, _hourly_counts
    from daq_3i_spark.sources.tables import load_events

    work = _workdir("op_stream_forecast_monitor")

    s = _replay_aggregate(
        spark, work, load_events(spark, sf_dir), _hourly_counts,
        feed_key=_sf_feed_key("events_full", sf_dir),
    )
    return _forecast_eval(s)


QUERIES["op_stream_forecast_monitor"] = dataclasses.replace(
    QUERIES["op_stream_forecast_monitor"],
    oracle=QUERIES["op_events_forecast_naive"].oracle,
)
