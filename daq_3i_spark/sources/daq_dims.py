"""Synthesized DAQ configuration dimensions + the channel_data fact view.

The reference loads three tiny config tables at startup (buses, channels,
conversions — /root/reference/daq-3i.py:127-161, db_model.py:9-46) and appends
to a channel_data fact table (db_model.py:49-54).  The driver test corpus has
no such tables, so we synthesize them *deterministically* (pure arithmetic on
the row id — FIXTURES.md §A) and derive ``channel_data`` as a view over the
driver's ``events`` table via the FIXTURES.md §A.6 mapping:

    event_id -> id,  user_id % 40 + 1 -> channel_id,  ts -> ts,  value -> value

Every generator here is a pure function of the row index, so the *same rows*
can be rendered (a) as a Spark DataFrame and (b) as a DuckDB ``VALUES`` CTE —
which is what lets the DuckDB oracle check queries that join these dims.

At scale these are exactly the "small dim" side of a broadcast join: a few
hundred bytes each, broadcast to every executor (never shuffled).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from daq_3i_spark import schemas
from daq_3i_spark.session import memo

N_BUSES = 4
N_CHANNELS = 40

# FIXTURES.md §A.3: asteval-style programs binding x -> Value (conversion.py:10-12).
# id 6 is deliberately malformed to exercise the null-on-error path
# (conversion.py:13-15).
CONVERSION_EXPRS = [
    "Value = x",
    "Value = x / 10",
    "Value = x * 1.5 + 2",
    "Value = (x - 4000) / 16000 * 100",
    "Value = x ** 0.5",
    "Value = ",
]


def buses_rows() -> list[tuple]:
    rows = []
    for i in range(1, N_BUSES + 1):
        rows.append(
            (
                i,
                f"bus_{i}",
                2 if i == 4 else 1,  # one non-MODBUS bus for the protocol filter path
                f"10.0.0.{i}",
                502,
                3,
                i != 3,  # one disabled bus (op_filter_enabled)
            )
        )
    return rows


def channels_rows() -> list[tuple]:
    rows = []
    units = ["kWh", "V", "A", None]
    timings = [1, 5, 15, 60]
    hist = [1, 10, 100]
    for i in range(1, N_CHANNELS + 1):
        if i % 11 == 0:
            conversion_id = None  # NULL conversion (daq-3i.py:150-153 null path)
        elif i % 7 == 0:
            conversion_id = 0  # 0 == no conversion
        else:
            conversion_id = (i % 6) + 1
        rows.append(
            (
                i,
                f"chl_{i}",
                (i - 1) % 4 + 1,
                (i - 1) % 8 + 1,
                (i * 7) % 99,
                timings[(i - 1) % 4],
                conversion_id,
                4 if i == 40 else 3,  # one unsupported func code (modbus.py:48-49)
                (i - 1) % 14,  # cover all 14 format codes (modbus.py:11-24)
                i % 10 != 0,  # ~90% enabled
                units[(i - 1) % 4],
                hist[i % 3],
                f"Channel {i} long name" if i % 5 else None,
            )
        )
    return rows


def conversions_rows() -> list[tuple]:
    return [(i + 1, f"conv_{i + 1}", e) for i, e in enumerate(CONVERSION_EXPRS)]


def _dim_df(
    spark: SparkSession, name: str, rows: Callable[[], list[tuple]], schema
) -> DataFrame:
    """Per-SESSION memo of the dimension frames, each a ``LocalRelation``
    built from a ``pyarrow.Table``.  ``createDataFrame(list_of_tuples,
    schema)`` plans as a ``LogicalRDD`` instead, whose every broadcast runs
    a Spark job through Python workers (~0.25 s per live micro-batch); an
    arrow table plans as a ``LocalRelation`` with or without the arrow
    conf, and keeps the schema's nullability.  The memo stores the lazy
    relation handle, never computed results, and dies with the session
    object.  ``rows`` is called only on a miss."""
    tables = memo(spark, "_daq_dim_tables")
    df = tables.get(name)
    if df is None:
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows()], schema=to_arrow_schema(schema)
        )
        df = tables[name] = spark.createDataFrame(table)
    return df


def buses_df(spark: SparkSession) -> DataFrame:
    return _dim_df(spark, "buses", buses_rows, schemas.BUSES)


def channels_df(spark: SparkSession) -> DataFrame:
    return _dim_df(spark, "channels", channels_rows, schemas.CHANNELS)


def conversions_df(spark: SparkSession) -> DataFrame:
    return _dim_df(spark, "conversions", conversions_rows, schemas.CONVERSIONS)


def channel_data_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> channel_data per FIXTURES.md §A.6 (the acquisition feed)."""
    from pyspark.sql import functions as F

    from daq_3i_spark.sources.tables import load_events

    events = load_events(spark, sf_dir)
    return events.select(
        F.col("event_id").alias("id"),
        (F.col("user_id") % 40 + 1).cast("int").alias("channel_id"),
        F.col("ts"),
        F.col("value"),
    )


# --- SQL rendering (DuckDB oracle side) --------------------------------------

_SQL_TYPES = {
    "buses": [
        ("id", "INTEGER"),
        ("name", "VARCHAR"),
        ("protocol", "INTEGER"),
        ("address", "VARCHAR"),
        ("port", "INTEGER"),
        ("timeout", "INTEGER"),
        ("enabled", "BOOLEAN"),
    ],
    "channels": [
        ("id", "INTEGER"),
        ("name", "VARCHAR"),
        ("bus_id", "INTEGER"),
        ("device_id", "INTEGER"),
        ("address", "INTEGER"),
        ("timing", "INTEGER"),
        ("conversion_id", "INTEGER"),
        ("func_code", "INTEGER"),
        ("format_code", "INTEGER"),
        ("enabled", "BOOLEAN"),
        ("eng_unit", "VARCHAR"),
        ("history_len", "INTEGER"),
        ("long_name", "VARCHAR"),
    ],
    "conversions": [
        ("id", "INTEGER"),
        ("name", "VARCHAR"),
        ("expr", "VARCHAR"),
    ],
}


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _values_cte(name: str, rows: list[tuple]) -> str:
    cols = _SQL_TYPES[name]
    raw = ", ".join("(" + ", ".join(_lit(v) for v in row) + ")" for row in rows)
    casts = ", ".join(f"CAST(c{i} AS {typ}) AS {col}" for i, (col, typ) in enumerate(cols))
    anon = ", ".join(f"c{i}" for i in range(len(cols)))
    return f"{name} AS (SELECT {casts} FROM (VALUES {raw}) AS _t({anon}))"


CHANNEL_DATA_CTE = (
    "channel_data AS (SELECT event_id AS id,"
    " CAST(user_id % 40 + 1 AS INTEGER) AS channel_id, ts, value FROM events)"
)


@lru_cache(maxsize=1)
def dims_cte_sql() -> str:
    """The CTE bodies for buses/channels/conversions/channel_data, to embed as
    ``WITH {dims_cte_sql()}, more AS (...) SELECT ...`` in oracle SQL."""
    return ",\n".join(
        [
            _values_cte("buses", buses_rows()),
            _values_cte("channels", channels_rows()),
            _values_cte("conversions", conversions_rows()),
            CHANNEL_DATA_CTE,
        ]
    )


def register_daq_views(spark: SparkSession, sf_dir: str) -> None:
    buses_df(spark).createOrReplaceTempView("buses")
    channels_df(spark).createOrReplaceTempView("channels")
    conversions_df(spark).createOrReplaceTempView("conversions")
    channel_data_df(spark, sf_dir).createOrReplaceTempView("channel_data")
