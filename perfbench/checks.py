"""Output checks, run outside the timed path.

The pipeline checks compare the program's tables, read back through its own
readers (``read_channel_data``, ``read_status``), against a DuckDB reference
computed from the generated files alone.  The query checks reuse the repo's
oracle helpers (``tests/oracle_check.py``) unchanged.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from daq_3i_spark import schemas
from daq_3i_spark.functions.convert import convert_case_duckdb
from daq_3i_spark.sources.daq_dims import channels_rows, conversions_rows
from daq_3i_spark.streaming import pipeline


def _channels_sql() -> str:
    names = [f.name for f in schemas.CHANNELS.fields]
    rows = []
    for r in channels_rows():
        d = dict(zip(names, r))
        conv = "NULL" if d["conversion_id"] is None else d["conversion_id"]
        rows.append(f"({d['id']}, {conv}, {d['history_len']}, {str(d['enabled']).upper()})")
    return f"SELECT * FROM (VALUES {', '.join(rows)}) t(id, conversion_id, history_len, enabled)"


def reference_rows(files: list[str], retention: bool, threads: int) -> list[tuple]:
    """(id, channel_id, ts µs, value) the pipeline must hold after consuming
    ``files``: enabled channels only, converted, and with ``retention`` the
    newest ``history_len`` rows per channel."""
    convs = [(cid, expr) for cid, _name, expr in conversions_rows()]
    value = convert_case_duckdb(convs, "ch.conversion_id", "e.value")
    keep = "WHERE rn <= history_len" if retention else ""
    sql = f"""
        WITH ch AS ({_channels_sql()}),
        rows AS (
            SELECT e.event_id AS id, CAST(e.user_id % 40 + 1 AS INTEGER) AS channel_id,
                   epoch_us(e.ts) AS ts, {value} AS value, ch.history_len,
                   row_number() OVER (PARTITION BY ch.id ORDER BY e.event_id DESC) AS rn
            FROM read_parquet({files!r}) e JOIN ch ON ch.id = e.user_id % 40 + 1
            WHERE ch.enabled
        )
        SELECT id, channel_id, ts, value FROM rows {keep}
    """
    con = duckdb.connect(config={"threads": threads})
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def check_pipeline(spark: SparkSession, work_dir: str, files: list[str],
                   retention: bool, threads: int) -> list[str]:
    """Problems found in ``work_dir`` after the pipeline consumed ``files``
    (empty list = pass): channel_data must equal the reference exactly once
    per row, and daq_status must hold one row per channel seen plus the
    heartbeat, each with that key's max ``ts``."""
    every = reference_rows(files, False, threads)
    want = reference_rows(files, True, threads) if retention else every
    got = [
        (r[0], r[1], r[2], r[3])
        for r in pipeline.read_channel_data(spark, work_dir)
        .select("id", "channel_id", F.unix_micros("ts"), "value").collect()
    ]
    problems = []
    if sorted(got) != sorted(want):
        problems.append(f"channel_data: {len(got)} rows ({len(set(got))} distinct), "
                        f"reference {len(want)}")
    want_status = {}
    for _id, ch, ts, _v in every:
        key = f"CHL: {ch}"
        want_status[key] = max(want_status.get(key, ts), ts)
    want_status[pipeline.HEARTBEAT_PARAMETER] = max(r[2] for r in every)
    status = pipeline.read_status(spark, work_dir)
    got_status = [] if status is None else [
        (r[0], r[1], r[2])
        for r in status.select("parameter", "status", F.unix_micros("ts")).collect()
    ]
    if sorted(got_status) != sorted((k, pipeline.STATUS_OK, v) for k, v in want_status.items()):
        problems.append(f"daq_status: {len(got_status)} rows, reference {len(want_status)}")
    return problems


def check_query(df, oracle_sql: str, sf_dir: str) -> list[str]:
    from oracle_check import compare, run_oracle

    return compare(df, run_oracle(oracle_sql, sf_dir))
