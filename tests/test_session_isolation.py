"""Ops running concurrently in one session: width-pinned work (stream drains,
the star-contraction loop) runs on a clone of the session, so the caller's
conf never moves, and concurrent registry ops each still match their oracle.
Memos live on their session or context, so a session built after another
was stopped still plans and decodes.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from daq_3i_spark.plans import QUERIES
from daq_3i_spark.session import isolated
from daq_3i_spark.streaming.drain import drain
from daq_3i_spark.streaming.pipeline import build_sample_stream
from tests.oracle_check import compare, run_oracle

_WIDTH = "spark.sql.shuffle.partitions"


def test_session_conf_never_moves_under_drains(spark, sf_dir):
    prev = spark.conf.get(_WIDTH)
    spark.conf.set(_WIDTH, "3")
    reads: list[str] = []
    names = ["op_stream_session_window", "op_stream_latest_per_channel", "op_dedup_components"]
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            done = pool.submit(lambda: [QUERIES[n].spark(spark, sf_dir) for n in names])
            deadline = time.time() + 300
            while not done.done() and time.time() < deadline:
                reads.append(spark.conf.get(_WIDTH))
                time.sleep(0.005)
            done.result(timeout=0)
    finally:
        spark.conf.set(_WIDTH, prev)
    assert len(reads) > 10
    assert set(reads) == {"3"}, f"the session width moved: {sorted(set(reads))}"


class _Progress(StreamingQueryListener):
    n = 0

    def onQueryProgress(self, event) -> None:
        self.n += 1

    onQueryStarted = onQueryTerminated = lambda self, event: None  # noqa: E731


def test_clone_carries_runtime_conf_and_forwards_listeners(spark, sf_dir):
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        with isolated(spark, 5) as clone:
            assert clone.conf.get("spark.sql.session.timeZone") == "Asia/Kathmandu"
            assert clone.conf.get("spark.sql.codegen.fallback") == "false"
            assert clone.conf.get(_WIDTH) == "5"
        counts = build_sample_stream(spark, sf_dir).groupBy("channel_id").count()
        before = spark.conf.getAll
        counts, progress = drain(counts, mode="complete")
        assert spark.conf.getAll == before
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert progress and listener.n >= 1
    assert counts.sparkSession is spark
    assert counts.agg(F.sum("count")).first()[0] == sum(p["numInputRows"] for p in progress)


def test_drained_result_self_joins(spark, sf_dir):
    """A drained memory-sink table joins with itself, in both output modes:
    each alias resolves to its own side (the seasonal-naive scoring joins
    its drained hourly counts to themselves a day earlier)."""
    samples = build_sample_stream(spark, sf_dir).select("channel_id", "id")
    for mode, df in (("append", samples), ("complete", samples.groupBy("channel_id").count())):
        drained, _ = drain(df, mode=mode)
        pairs = drained.alias("a").join(
            drained.alias("b"), F.col("a.channel_id") == F.col("b.channel_id") + 1
        )
        n = Counter(r["channel_id"] for r in drained.collect())
        assert pairs.count() == sum(v * n[k - 1] for k, v in n.items()) > 0, mode


def test_registry_ops_run_concurrently_in_one_session(spark, sf_dir):
    names = ["op_stream_session_window", "op_stream_window_agg", "op_dedup_components",
             "op_graph_pagerank", "flagship_pipeline", "op_sql_q1"]

    def check(name: str) -> list[str]:
        q = QUERIES[name]
        return compare(q.spark(spark, sf_dir), run_oracle(q.oracle, sf_dir))

    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        problems = dict(zip(names, pool.map(check, names)))
    assert not any(problems.values()), problems


_RESTART = """
import sys
from pyspark.sql import SparkSession
from daq_3i_spark.plans import QUERIES
from daq_3i_spark.sources import daq_dims as d
from tests.oracle_check import compare, run_oracle

sf_dir = sys.argv[1]
q = QUERIES["op_decode_registers"]
for life in range(2):
    spark = (SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "1g").getOrCreate())
    for df in (d.buses_df(spark), d.channels_df(spark), d.conversions_df(spark)):
        plan = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        assert plan == "LocalRelation", (life, plan)
    assert [tuple(r) for r in d.channels_df(spark).collect()] == d.channels_rows()
    problems = compare(q.spark(spark, sf_dir), run_oracle(q.oracle, sf_dir))
    assert not problems, (life, problems)
    spark.stop()
print("OK")
"""


def test_decode_and_dims_survive_session_restart(sf_dir):
    """A plain builder session (no ``get_spark`` conf), stopped and built
    again in the same process: the dims still plan as LocalRelations and
    ``op_decode_registers`` still matches its oracle, because no memo
    outlives the session or context that made its handles.  Runs in a
    child process, so the suite's session is never stopped."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _RESTART, sf_dir], cwd=root, capture_output=True,
        text=True, timeout=300, env={**os.environ, "PYTHONPATH": root},
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("OK"), out.stderr[-3000:]
