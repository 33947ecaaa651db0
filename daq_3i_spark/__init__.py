"""daq_3i_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the daq-3i reference (a MODBUS data-acquisition
daemon; see /root/reference), re-expressed Spark-first.

The reference is a streaming ingestion pipeline:

    source (MODBUS poll) -> decode registers -> scalar conversion
        -> latest-value state -> append sink + status upsert + retention

This package maps that to Structured Streaming + DataFrame writes and extends
it with the LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis), designed for 100 TB scale:

- declarative DataFrame/SQL plans (Catalyst picks physical strategy),
- broadcast joins for the small config dimensions,
- vectorized / pure-Catalyst kernels (register decode is native bit
  arithmetic, incl. an arithmetic IEEE-754 float decode — no Python in the
  hot path),
- micro-batch exactly-once sinks instead of row-at-a-time INSERT+COMMIT.

Layout:
    session.py    SparkSession factory (AQE, UTC, arrow, shuffle width) and
                  the conf-isolated session clone ops run width-pinned work on
    schemas.py    explicit StructTypes for all tables (no inference)
    sources/      parquet table loaders, synthesized DAQ config dims,
                  Modbus Python DataSource (simulated device)
    functions/    register decode, conversion compiler, text analysis,
                  vector math
    operators/    latest-per-key, retention, status upsert, dedup family,
                  similarity search, window aggs, multimodal plumbing
    plans/        the query registry: name -> (spark callable, DuckDB oracle)
    streaming/    end-to-end Structured Streaming pipeline + stateful ops
"""

__version__ = "0.1.0"
