"""CLI surface parity (daq_3i_spark/cli.py vs the reference's daq-3i.py
modes): switch/flag grammar, CREATE-TABLE, the full run, NO-TRUNC, and
TRUNC-ONLY as a single action."""

from __future__ import annotations

import os
import shutil

import pytest

from daq_3i_spark import cli

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def test_arg_grammar():
    switches, flags = cli.process_args(
        ["prog", "-c", "conf.ini", "PRINT-LIVE", "-L", "DEBUG", "NO-TRUNC"]
    )
    assert switches == [("-c", "conf.ini"), ("-L", "DEBUG")]
    assert flags == ["PRINT-LIVE", "NO-TRUNC"]


def test_unknown_flag_fatal():
    with pytest.raises(SystemExit) as e:
        cli.Env(["prog", "BOGUS-MODE"])
    assert e.value.code == -1


def _conf(work: str, sf_dir: str) -> str:
    path = os.path.join(work, "conf.ini")
    os.makedirs(work, exist_ok=True)
    with open(path, "w") as f:
        f.write(f"[engine]\nfeed_dir = {sf_dir}\nwork_dir = {work}\ncpus = 4\n")
    return path


def test_modes_end_to_end(spark, sf_dir):
    from daq_3i_spark.sources.daq_dims import channels_df
    from daq_3i_spark.streaming.pipeline import read_channel_data

    work = os.path.join(TMP, "cli_run")
    shutil.rmtree(work, ignore_errors=True)
    conf = _conf(work, sf_dir)

    # CREATE-TABLE initializes an empty sink layout (implemented here; the
    # reference declares but stubs it, daq-3i.py:80,326-330)
    assert cli.main(["prog", "-c", conf, "CREATE-TABLE"], spark=spark) == 0
    assert read_channel_data(spark, work).count() == 0

    # full run with NO-TRUNC: all enriched samples land in the sink
    shutil.rmtree(work)
    conf = _conf(work, sf_dir)
    assert cli.main(["prog", "-c", conf, "NO-TRUNC"], spark=spark) == 0
    n_all = read_channel_data(spark, work).count()
    assert n_all > 0

    # TRUNC-ONLY applies retention afterwards, in place
    assert cli.main(["prog", "-c", conf, "TRUNC-ONLY"], spark=spark) == 0
    kept = read_channel_data(spark, work)
    n_kept = kept.count()
    assert 0 < n_kept < n_all
    hist = dict(channels_df(spark).select("id", "history_len").collect())
    counts = {r["channel_id"]: r["count"] for r in kept.groupBy("channel_id").count().collect()}
    assert all(n <= hist[cid] for cid, n in counts.items())
    shutil.rmtree(work, ignore_errors=True)


def test_create_table_status_visible_and_superseded(spark, sf_dir):
    """CREATE-TABLE commits an empty manifest for each table (CREATE TABLE
    IF NOT EXISTS): the initialized status table reads as an empty TYPED
    frame, upserts commit over it and read latest-wins, a repeated
    CREATE-TABLE keeps the data, and only the newest manifest is kept."""
    import datetime as dt

    from daq_3i_spark.streaming.pipeline import (
        _status_versions,
        read_status,
        upsert_status,
    )

    work = os.path.join(TMP, "cli_status_init")
    shutil.rmtree(work, ignore_errors=True)
    conf = _conf(work, sf_dir)
    assert cli.main(["prog", "-c", conf, "CREATE-TABLE"], spark=spark) == 0

    st = read_status(spark, work)
    assert st is not None, "initialized status table must be readable"
    assert st.count() == 0
    assert set(st.columns) >= {"parameter", "status", "ts"}
    assert _status_versions(work) == [1]

    t = lambda i: dt.datetime(2024, 1, 1, 0, 0, i)  # noqa: E731
    for i in range(1, 5):
        upsert_status(
            spark,
            work,
            spark.createDataFrame(
                [(f"CHL: {j}", 1, t(i)) for j in range(50)],
                "parameter string, status int, ts timestamp",
            ),
            i,
        )
    assert cli.main(["prog", "-c", conf, "CREATE-TABLE"], spark=spark) == 0
    rows = {r["parameter"]: r["ts"] for r in read_status(spark, work).collect()}
    assert len(rows) == 50 and rows["CHL: 3"] == t(4)
    assert _status_versions(work) == [5]
    shutil.rmtree(work, ignore_errors=True)
