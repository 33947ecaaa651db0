"""Live-mode streaming behaviors that the single-batch driver replay can't
check: multi-micro-batch sink evolution (append + status upsert across
batches), keyed-state evolution in applyInPandasWithState, and the Modbus
DataSource in streaming mode.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from daq_3i_spark.operators.core import latest_per_key
from daq_3i_spark.sources.daq_dims import channels_df
from daq_3i_spark.streaming.drain import drain, feed_stream
from daq_3i_spark.streaming.pipeline import (
    enrich_and_convert,
    persist_batch,
    read_channel_data,
    read_status,
    retention_compact,
)
from daq_3i_spark.streaming.stateful import latest_per_key_stream

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


@pytest.fixture()
def feed_dir(spark, sf_dir):
    """The sf0.001 sample feed split into 3 parquet files so
    maxFilesPerTrigger=1 yields 3 micro-batches."""
    from daq_3i_spark.sources.daq_dims import channel_data_df

    d = os.path.join(TMP, "test_feed")
    if os.path.isdir(d):
        shutil.rmtree(d)
    channel_data_df(spark, sf_dir).repartition(3).write.parquet(d)
    # FileStreamSource orders batches by file modification time (ties break
    # arbitrarily) — pin distinct mtimes in sorted-name order so the batch
    # sequence is deterministic and tests can replay it
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    base = int(time.time()) - 600
    for i, f in enumerate(files):
        os.utime(os.path.join(d, f), (base + 10 * i, base + 10 * i))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_pipeline_multibatch(spark, sf_dir, feed_dir):
    work = os.path.join(TMP, "test_pipeline")
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work)

    enriched = enrich_and_convert(feed_stream(spark, feed_dir), spark)
    _, progress = drain(
        enriched, lambda b, bid: persist_batch(spark, work, b, bid),
        checkpoint=os.path.join(work, "ckpt"),
    )
    assert progress

    # sink contents == batch-computed expectation (multi-batch append converges
    # to the same rows as one batch)
    expected = enrich_and_convert(
        spark.read.parquet(feed_dir).selectExpr("id", "channel_id", "ts", "value"),
        spark,
    )
    got = read_channel_data(spark, work)
    assert got.count() == expected.count()
    assert (
        got.exceptAll(expected).count() == 0 and expected.exceptAll(got).count() == 0
    )

    # status snapshot: heartbeat + one CHL key per persisted channel,
    # ts = latest event time seen for that key (latest-wins across batches)
    status = read_status(spark, work)
    rows = {r["parameter"]: r for r in status.collect()}
    assert "daq-3i" in rows
    per_chl_max = {
        r["channel_id"]: r["mx"]
        for r in expected.groupBy("channel_id").agg(F.max("ts").alias("mx")).collect()
    }
    for cid, mx in per_chl_max.items():
        assert rows[f"CHL: {cid}"]["ts"] == mx
    assert rows["daq-3i"]["ts"] == max(per_chl_max.values())

    # retention: count per channel <= history_len, newest ids kept
    retention_compact(spark, work)
    kept = read_channel_data(spark, work)
    hist = {
        r["id"]: r["history_len"]
        for r in channels_df(spark).select("id", "history_len").collect()
    }
    counts = {r["channel_id"]: r["n"] for r in kept.groupBy("channel_id").agg(F.count("*").alias("n")).collect()}
    for cid, n in counts.items():
        assert n <= hist[cid], f"channel {cid}: {n} > history_len {hist[cid]}"
    # newest-kept: max id per channel unchanged by compaction
    max_before = {
        r["channel_id"]: r["m"]
        for r in expected.groupBy("channel_id").agg(F.max("id").alias("m")).collect()
    }
    max_after = {
        r["channel_id"]: r["m"]
        for r in kept.groupBy("channel_id").agg(F.max("id").alias("m")).collect()
    }
    assert max_after == max_before
    shutil.rmtree(work, ignore_errors=True)


def test_latest_state_multibatch(spark, sf_dir, feed_dir):
    # update-mode memory sink accumulates one row per key per batch; the final
    # state per key is the last (max ts, id) emission
    emitted, _ = drain(latest_per_key_stream(feed_stream(spark, feed_dir)), mode="update")
    final = latest_per_key(emitted, "channel_id", [F.desc("ts"), F.desc("id")])

    batch = latest_per_key(
        spark.read.parquet(feed_dir), "channel_id", [F.desc("ts"), F.desc("id")]
    ).select("channel_id", "id", "ts", "value")
    assert sorted(final.collect()) == sorted(batch.collect())


def test_modbus_stream_two_ticks(spark):
    from daq_3i_spark.sources.modbus_source import ModbusSimDataSource

    try:
        spark.dataSource.register(ModbusSimDataSource)
    except Exception:
        pass
    q = (
        spark.readStream.format("modbus_sim")
        .option("poll_ts", 1_700_000_000)
        .load()
        .writeStream.format("memory")
        .queryName("t_modbus_stream")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        ticks = {r["tick"] for r in spark.table("t_modbus_stream").select("tick").distinct().collect()}
        if len(ticks) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    assert len(ticks) >= 2, f"saw ticks {ticks}"
    # each tick is one full poll sweep: 18 pollable channels (enabled, TCP bus,
    # func code 3)
    per_tick = (
        spark.table("t_modbus_stream")
        .groupBy("tick")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert all(r["n"] == 18 for r in per_tick)


def _expected_decode(fmt: int, addr: int) -> float | None:
    """Independent expectation: simulator register n holds n (tick 0);
    assemble + bit-cast with struct, per the documented format table
    (functions/decode.py module doc; reference modbus.py:58-166)."""
    import math
    import struct

    r0, r1, r2 = addr, addr + 1, addr + 2

    def s16(r):
        return r - 65536 if r >= 32768 else r

    def s32(u):
        return u - 4294967296 if u >= 2147483648 else u

    def bswap(r):
        return ((r & 255) << 8) | (r >> 8)

    def f32(u):
        v = struct.unpack(">f", struct.pack(">I", u))[0]
        return None if not math.isfinite(v) else v

    lo_hi, hi_lo = (r1 << 16) | r0, (r0 << 16) | r1
    skip, rskip = (r2 << 16) | r0, (r0 << 16) | r2
    return {
        0: float(s16(r0)),
        1: float(s32(lo_hi)),
        2: float(s32(hi_lo)),
        3: float(s32(skip)),
        4: float(r0),
        5: float(lo_hi),
        6: float(hi_lo),
        7: f32(lo_hi),
        8: f32(skip),
        9: f32((bswap(r1) << 16) | bswap(r0)),
        10: f32(hi_lo),
        11: f32(rskip),
        12: f32(hi_lo),
        13: float(s32(lo_hi)),
    }[fmt]


def test_modbus_batch_decode(spark):
    """Every one of the 14 format codes must poll enough registers AND decode
    to the independently-computed bit-cast value (guards FORMAT_REGS /
    REG_COUNT drift: an under-polled format decodes to NULL)."""
    from daq_3i_spark.plans import QUERIES

    df = QUERIES["op_source_modbus_sim"].spark(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 18
    seen_formats = set()
    for r in rows:
        exp = _expected_decode(r["format_code"], r["address"])
        assert r["value"] == exp, (
            f"channel {r['channel_id']} format {r['format_code']}: "
            f"got {r['value']} want {exp}"
        )
        seen_formats.add(r["format_code"])
    assert seen_formats == set(range(14))


@pytest.mark.parametrize("arrow_batch", [None, 1])
def test_due_filter_matches_sequential_reference(spark, sf_dir, feed_dir, arrow_batch):
    """The stateful due-filter must reproduce the reference's check_read_due
    semantics (bus.py:38-49) exactly: per channel, emit iff
    ts - last_emitted_ts > timing (strict), scanning samples in (ts, id)
    order — verified against a plain-python sequential simulation, across
    multiple micro-batches.  The arrow_batch=7 variant forces every group to
    span several Arrow chunks, exercising the global concat+sort in _due_fn
    (ADVICE r1: per-chunk sorting broke ordering beyond one chunk)."""
    from daq_3i_spark.sources.daq_dims import channels_df
    from daq_3i_spark.streaming.stateful import due_filter_stream

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    if arrow_batch is not None:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
    try:
        timing = channels_df(spark).select(F.col("id").alias("channel_id"), "timing")
        due, _ = drain(
            due_filter_stream(feed_stream(spark, feed_dir).join(F.broadcast(timing), "channel_id"))
        )
        got = {(r["channel_id"], r["id"]) for r in due.collect()}
    finally:
        if arrow_batch is not None:
            if prev is None:
                spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
            else:
                spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    # sequential python reference: batches are the 3 feed files in commit
    # order, rows within a batch in (ts, id) order
    import pyarrow.parquet as pq
    import os as _os

    files = sorted(
        _os.path.join(feed_dir, f) for f in _os.listdir(feed_dir) if f.endswith(".parquet")
    )
    tmap = {r["channel_id"]: r["timing"] for r in timing.collect()}
    last: dict[int, int] = {}
    expect = set()
    for fp in files:
        tbl = pq.read_table(fp).to_pylist()
        tbl.sort(key=lambda r: (r["ts"], r["id"]))
        for r in tbl:
            cid = r["channel_id"]
            ts_us = int(r["ts"].timestamp() * 1_000_000)
            if cid not in last or ts_us - last[cid] > tmap[cid] * 1_000_000:
                expect.add((cid, r["id"]))
                last[cid] = ts_us
    assert got == expect


def test_persist_batch_replay_idempotent(spark, tmp_path):
    """A crash between the sink write and the checkpoint commit replays the
    batch; the per-batch overwrite directory must converge instead of
    duplicating rows (ADVICE r1: plain append was at-least-once)."""
    import datetime as dt

    work = str(tmp_path / "replay")
    mk = lambda vid: spark.createDataFrame(  # noqa: E731
        [(vid, 1, dt.datetime(2024, 1, 1, 0, 0, vid), float(vid))],
        "id long, channel_id int, ts timestamp, value double",
    )
    persist_batch(spark, work, mk(1), 0)
    assert read_channel_data(spark, work).count() == 1
    persist_batch(spark, work, mk(1), 0)  # replay of the same batch id
    assert read_channel_data(spark, work).count() == 1, "replay duplicated rows"
    persist_batch(spark, work, mk(2), 1)  # a genuinely new batch still lands
    assert read_channel_data(spark, work).count() == 2


STAGES = ["recovered", "staged", "published", "committed"]


class _Boom(RuntimeError):
    pass


def _kill_at(stage: str):
    def fp(s: str) -> None:
        if s == stage:
            raise _Boom(stage)

    return fp


def _status_rows(spark, keys, ts):
    return spark.createDataFrame(
        [(k, 1, ts) for k in keys], "parameter string, status int, ts timestamp"
    )


def _status_map(spark, work) -> dict:
    rows = read_status(spark, work).collect()
    assert len(rows) == len({r["parameter"] for r in rows}), "duplicate status keys"
    return {r["parameter"]: r["ts"] for r in rows}


def _channel_rows(spark, work) -> list:
    return sorted(tuple(r) for r in read_channel_data(spark, work).collect())


def _manifest(spark, work, table):
    from daq_3i_spark.sources.sink import read_manifest

    return read_manifest(spark, os.path.join(work, table))


def _by_bucket(files) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for f in files:
        out.setdefault(f.split("/", 1)[0], []).append(f)
    return out


def _on_disk(work, table) -> set[str]:
    """Parquet data files under a table root, relative to it."""
    root = os.path.join(work, table)
    return {
        os.path.relpath(os.path.join(d, n), root)
        for d, _dirs, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    }


def _buckets_of(spark, keys) -> set[str]:
    from daq_3i_spark.streaming.pipeline import _status_bucket

    df = spark.createDataFrame([(k,) for k in keys], "parameter string")
    return {f"__b={r[0]}" for r in df.select(_status_bucket(F.col("parameter"))).collect()}


def _sample_batch(spark, ids, channel=3):
    import datetime as dt

    return spark.createDataFrame(
        [(i, channel, dt.datetime(2024, 1, 1, 0, 0, i % 60), float(i)) for i in ids],
        "id long, channel_id int, ts timestamp, value double",
    )


def _bounded(fn, timeout: float = 300):
    """``fn()`` on a daemon thread: a hang (an observation waiting on a write
    that never runs) fails the test instead of stalling the suite."""
    out: dict = {}

    def target():
        try:
            out["value"] = fn()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            out["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"still running after {timeout} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def test_persist_batch_replay_converges_across_table_commits(spark, tmp_path, monkeypatch):
    """Exactly-once across both tables: a batch persisted twice, and a batch
    whose status commit crashed after its channel_data commit and was then
    replayed, both converge to the single-run state — the replay finds its
    batch id in channel_data's manifest and appends nothing, then commits
    the status merge it missed (its append's observation never fires, so
    the merge collects its buckets).  The replay legs run bounded."""
    from daq_3i_spark.streaming import pipeline

    def run(work, replay_1):
        persist_batch(spark, work, _sample_batch(spark, range(0, 6)), 0)
        replay_1(work)
        return _channel_rows(spark, work), _status_map(spark, work)

    batch_1 = _sample_batch(spark, range(6, 9), channel=4)
    once = run(str(tmp_path / "once"), lambda w: persist_batch(spark, w, batch_1, 1))

    def twice(w):
        persist_batch(spark, w, batch_1, 1)
        before = _manifest(spark, w, "daq_status")
        persist_batch(spark, w, batch_1, 1)
        assert _manifest(spark, w, "daq_status") == before, "replay committed again"

    assert _bounded(lambda: run(str(tmp_path / "twice"), twice)) == once

    def crash_between_commits(w):
        orig = pipeline.upsert_status

        def crash(*a, **k):
            raise _Boom("after the channel_data commit")

        monkeypatch.setattr(pipeline, "upsert_status", crash)
        with pytest.raises(_Boom):
            persist_batch(spark, w, batch_1, 1)
        assert _manifest(spark, w, "channel_data")["batch_id"] == 1
        assert _manifest(spark, w, "daq_status")["batch_id"] == 0
        monkeypatch.setattr(pipeline, "upsert_status", orig)
        persist_batch(spark, w, batch_1, 1)

    assert _bounded(lambda: run(str(tmp_path / "crashed"), crash_between_commits)) == once


def test_dims_plan_as_local_relations(spark):
    """Each dim is a LocalRelation (a broadcast of it runs no Spark job),
    with the rows of its generator, also on a session with the arrow conf
    off: a list of tuples would plan as a LogicalRDD."""
    from daq_3i_spark.sources import daq_dims as d

    plain = spark.newSession()
    plain.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    for session in (spark, plain):
        for df, rows in ((d.buses_df(session), d.buses_rows),
                         (d.channels_df(session), d.channels_rows),
                         (d.conversions_df(session), d.conversions_rows)):
            plan = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            assert plan == "LocalRelation"
            assert [tuple(r) for r in df.collect()] == rows()


def test_persist_batch_job_count(spark, tmp_path):
    """A static 500-row live-shaped batch (samples joined to the channels
    dim) persists in <= 8 Spark jobs: no job broadcasts the dim, and the
    status merge finds its buckets on the append (13 jobs otherwise)."""
    sc = spark.sparkContext
    samples = spark.range(500).select(
        "id",
        (F.col("id") % 40 + 1).cast("int").alias("channel_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") % 60).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    group = f"persist-{tmp_path.name}"
    sc.setJobGroup(group, "persist_batch job count")
    try:
        persist_batch(spark, str(tmp_path), enrich_and_convert(samples, spark), 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(_status_map(spark, str(tmp_path))) == 37  # 36 enabled channels + heartbeat
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, f"{len(jobs)} jobs"


def test_upsert_status_rewrites_only_touched_buckets(spark, tmp_path):
    """The status merge replaces only the hash buckets its keys fall in: a
    3-key batch leaves every other bucket's manifest entries identical, and
    the table reads latest-wins across batches."""
    import datetime as dt

    from daq_3i_spark.streaming.pipeline import STATUS_BUCKETS, upsert_status

    work = str(tmp_path / "bucketed")
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    upsert_status(spark, work, _status_rows(spark, [f"CHL: {i}" for i in range(200)], t0), 0)
    before = _by_bucket(_manifest(spark, work, "daq_status")["files"])
    assert len(before) == STATUS_BUCKETS  # 200 keys cover every bucket

    keys = ["CHL: 7", "CHL: 8", "daq-3i"]
    upsert_status(spark, work, _status_rows(spark, keys, t1), 1)
    after = _by_bucket(_manifest(spark, work, "daq_status")["files"])
    assert set(after) == set(before)
    assert {u for u in before if after[u] != before[u]} == _buckets_of(spark, keys)

    rows = _status_map(spark, work)
    assert len(rows) == 201  # 200 channels + heartbeat
    assert rows["CHL: 7"] == rows["daq-3i"] == t1
    assert rows["CHL: 9"] == t0


def test_status_version_gc_bounds_dirs_and_keeps_pinned_buckets(spark, tmp_path):
    """The post-commit collection removes exactly the files a merge
    replaced: after batches that never touch one key's bucket, that key's
    file is still committed and readable, the directory holds exactly the
    committed files, and one manifest is retained."""
    import datetime as dt

    from daq_3i_spark.streaming.pipeline import _status_versions, upsert_status

    work = str(tmp_path / "gc")
    t = lambda i: dt.datetime(2024, 1, 1, 0, 0, i)  # noqa: E731
    pinned = _buckets_of(spark, ["pinned-key"])
    ks = [k for k in (f"k{j}" for j in range(64)) if _buckets_of(spark, [k]) != pinned][:16]
    upsert_status(spark, work, _status_rows(spark, ["pinned-key"] + ks, t(0)), 0)
    pinned_files = _by_bucket(_manifest(spark, work, "daq_status")["files"])[pinned.pop()]
    for i in range(1, 7):
        upsert_status(spark, work, _status_rows(spark, ks, t(i)), i)

    m = _manifest(spark, work, "daq_status")
    assert set(pinned_files) <= set(m["files"])
    assert _on_disk(work, "daq_status") == set(m["files"])
    assert _status_versions(work) == [m["version"]]
    rows = _status_map(spark, work)
    assert rows["pinned-key"] == t(0) and rows[ks[3]] == t(6) and len(rows) == 17


def test_status_gc_preserves_replay_inputs(spark, tmp_path):
    """A replayed head batch must not lose keys its bucket held before it:
    key b lives only in batch 0's copy of bucket B, the head batch rewrites
    bucket B with key a alone, and the head is replayed — both after its
    commit (a no-op by batch id) and after a crash at publish (a redo
    against the committed pre-batch files, which the crashed attempt never
    deleted)."""
    import datetime as dt

    from daq_3i_spark.streaming.pipeline import upsert_status

    work = str(tmp_path / "gc_replay")
    t = lambda i: dt.datetime(2024, 1, 1, 0, 0, i)  # noqa: E731
    by_bucket: dict[str, list[str]] = {}
    for k in (f"k{j}" for j in range(64)):
        by_bucket.setdefault(_buckets_of(spark, [k]).pop(), []).append(k)
    key_a, key_b = next(ks for ks in by_bucket.values() if len(ks) >= 2)[:2]
    upsert_status(spark, work, _status_rows(spark, [key_a, key_b], t(0)), 0)

    head = _status_rows(spark, [key_a], t(4))
    with pytest.raises(_Boom):
        upsert_status(spark, work, head, 4, _failpoint=_kill_at("published"))
    upsert_status(spark, work, head, 4)
    upsert_status(spark, work, head, 4)
    assert _status_map(spark, work) == {key_a: t(4), key_b: t(0)}


def test_status_upsert_replay_overwrites_partial_version(spark, tmp_path):
    """A kill at every stage of the status merge leaves the table readable
    as either the pre-batch or the post-batch state, never a mix; the
    replay converges to the single-run state and sweeps the crashed
    attempt's files, so the directory holds exactly the committed ones."""
    import datetime as dt

    from daq_3i_spark.streaming.pipeline import upsert_status

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    keys = [f"CHL: {i}" for i in range(40)]
    pre = {k: t0 for k in keys}
    post = {**pre, "CHL: 7": t1, "daq-3i": t1}
    small = _status_rows(spark, ["CHL: 7", "daq-3i"], t1)
    for stage in STAGES:
        work = str(tmp_path / f"kill_{stage}")
        upsert_status(spark, work, _status_rows(spark, keys, t0), 0)
        with pytest.raises(_Boom):
            upsert_status(spark, work, small, 1, _failpoint=_kill_at(stage))
        assert _status_map(spark, work) == (post if stage == "committed" else pre)
        upsert_status(spark, work, small, 1)
        assert _status_map(spark, work) == post, stage
        assert _on_disk(work, "daq_status") == set(_manifest(spark, work, "daq_status")["files"])


def test_status_gc_version_count_stays_bounded_under_soak(spark, tmp_path):
    """50 persisted batches: each table retains one manifest, its directory
    holds exactly the committed files (nothing a merge replaced
    accumulates), the status table holds at most one file per bucket, and
    every key's latest value survives."""
    import datetime as dt

    from daq_3i_spark.sources.sink import manifest_versions
    from daq_3i_spark.streaming.pipeline import STATUS_BUCKETS, _status_versions

    work = str(tmp_path / "soak")
    want: dict[str, dt.datetime] = {}
    for b in range(50):
        ch = 1 + b % 7
        persist_batch(spark, work, _sample_batch(spark, [b], channel=ch), b)
        want[f"CHL: {ch}"] = want["daq-3i"] = dt.datetime(2024, 1, 1, 0, 0, b % 60)
    for table in ("channel_data", "daq_status"):
        m = _manifest(spark, work, table)
        assert manifest_versions(spark, os.path.join(work, table)) == [m["version"]]
        assert _on_disk(work, table) == set(m["files"]), table
    assert _status_versions(work) == [50]
    assert len(_manifest(spark, work, "daq_status")["files"]) <= STATUS_BUCKETS
    assert _status_map(spark, work) == want
    assert len(_channel_rows(spark, work)) == 50


def test_retention_compact_crash_points_never_lose_the_table(spark, tmp_path):
    """retention_compact is a manifest service pass: a kill at every stage
    leaves channel_data readable as the full table (before the commit) or
    the retained one (after it), never a mix and never empty; the status
    table is untouched; a re-run converges and leaves exactly the committed
    files on disk.  Channel 3 keeps 1 row (history_len), channel 1 keeps
    10."""
    from daq_3i_spark.streaming.pipeline import retention_compact

    for stage in STAGES:
        work = str(tmp_path / f"kill_{stage}")
        persist_batch(spark, work, _sample_batch(spark, range(0, 4)), 0)
        persist_batch(spark, work, _sample_batch(spark, range(4, 8), channel=1), 1)
        full = _channel_rows(spark, work)
        kept = [r for r in full if r[1] == 1] + [max(r for r in full if r[1] == 3)]
        status = _status_map(spark, work)
        with pytest.raises(_Boom):
            retention_compact(spark, work, _failpoint=_kill_at(stage))
        assert _channel_rows(spark, work) == (sorted(kept) if stage == "committed" else full)
        assert _status_map(spark, work) == status
        retention_compact(spark, work)
        assert _channel_rows(spark, work) == sorted(kept), stage
        assert _on_disk(work, "channel_data") == set(_manifest(spark, work, "channel_data")["files"])


def test_due_fn_multichunk_scrambled():
    """_due_fn must process a group's rows in global (ts, id) order even when
    the Arrow chunk iterator delivers them scrambled across many chunks
    (ADVICE r1: per-chunk sorting silently deviated beyond one chunk)."""
    import datetime as dt

    import pandas as pd

    from daq_3i_spark.streaming.stateful import _due_fn

    class _FakeState:
        exists = False

        def update(self, v):
            self.saved = v

    def mk(ts_s, rid):
        return pd.DataFrame(
            {
                "channel_id": [1],
                "id": [rid],
                "ts": [pd.Timestamp(dt.datetime(2024, 1, 1, 0, 0, ts_s))],
                "value": [float(rid)],
                "timing": [10],
            }
        )

    # sorted order: (0s,1) emit, (5s,2) gap 5<=10 skip, (11s,3) gap 11>10 emit,
    # (20s,4) gap 9 skip, (22s,5) gap 11 emit
    chunks = [mk(11, 3), mk(0, 1), mk(22, 5), mk(5, 2), mk(20, 4)]
    st = _FakeState()
    out = pd.concat(list(_due_fn((1,), iter(chunks), st)), ignore_index=True)
    assert sorted(out["id"].tolist()) == [1, 3, 5], out
    assert st.saved == (int(pd.Timestamp("2024-01-01 00:00:22").timestamp() * 1_000_000),)


def test_stateful_crash_restart_recovers_state(spark, feed_dir, state_provider, tmp_path):
    """Keyed-state RECOVERY (not just size) is provider-portable (VERDICT
    r13 #4): a stateful query (applyInPandasWithState latest-per-channel)
    crashes inside batch 1 AFTER batch 0 committed its state snapshot; the
    restart must resume from the recovered state under BOTH providers.
    Detection: update-mode emissions are per-key monotone in (ts, id)
    across batches when state survives — a restart that lost state re-emits
    keys at whatever their post-crash batches happen to contain, which
    regresses below the batch-0 emission for any key whose newest sample
    lives in file 0 (the repartitioned feed guarantees many such keys)."""
    import pyspark.errors

    work = str(tmp_path / f"stateful_restart_{state_provider}")
    os.makedirs(work)
    ckpt = os.path.join(work, "ckpt")
    out = os.path.join(work, "emissions")

    crashed = {"done": False}

    def sink(crash: bool):
        def run(b, bid):
            b.write.mode("overwrite").parquet(os.path.join(out, f"batch_{bid}"))
            if crash and bid == 1 and not crashed["done"]:
                crashed["done"] = True
                raise RuntimeError("injected crash in batch 1")
        return run

    def run(crash: bool):
        # update: must match the stateful op's mode
        drain(latest_per_key_stream(feed_stream(spark, feed_dir)), sink(crash),
              mode="update", checkpoint=ckpt)

    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException):
        run(crash=True)
    assert crashed["done"], "the injected crash must have fired"
    run(crash=False)

    emitted = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out)
        .withColumn("__f", F.input_file_name())
        .withColumn(
            "__batch",
            F.regexp_extract("__f", r"batch_(\d+)", 1).cast("int"),
        )
    )
    rows = emitted.select("__batch", "channel_id", "ts", "id", "value").collect()

    # per-key monotone emissions across batches <=> state recovered
    seen: dict[int, tuple] = {}
    for r in sorted(rows, key=lambda r: (r["__batch"], r["ts"], r["id"])):
        cur = (r["ts"], r["id"])
        if r["channel_id"] in seen:
            assert cur >= seen[r["channel_id"]], (
                f"state lost at restart ({state_provider}): channel "
                f"{r['channel_id']} regressed {seen[r['channel_id']]} -> {cur} "
                f"in batch {r['__batch']}"
            )
        seen[r["channel_id"]] = cur

    # and the final state equals the batch-computed latest per key
    final = latest_per_key(
        emitted.select("channel_id", "id", "ts", "value"),
        "channel_id",
        [F.desc("ts"), F.desc("id")],
    )
    batch = latest_per_key(
        spark.read.parquet(feed_dir), "channel_id", [F.desc("ts"), F.desc("id")]
    ).select("channel_id", "id", "ts", "value")
    assert sorted(final.collect()) == sorted(batch.collect())


def test_pipeline_crash_restart_exactly_once(spark, sf_dir, feed_dir):
    """End-to-end exactly-once: the sink crashes AFTER batch 0's parquet
    append but BEFORE the checkpoint commit; the restarted query replays
    batch 0 into the same batch-id directory and the final sink equals the
    batch-computed expectation exactly — no duplicated, no lost rows."""
    import pyspark.errors

    work = os.path.join(TMP, "test_crash_restart")
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work)
    ckpt = os.path.join(work, "ckpt")

    crashed = {"done": False}

    def crashing_sink(b, bid):
        persist_batch(spark, work, b, bid)  # data IS written
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash before checkpoint commit")

    enriched = enrich_and_convert(feed_stream(spark, feed_dir), spark)
    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException):
        drain(enriched, crashing_sink, checkpoint=ckpt)
    assert crashed["done"], "the injected crash must have fired"

    # restart from the same checkpoint: batch 0 replays (its offsets were
    # never committed) and must overwrite, not append
    drain(enriched, lambda b, bid: persist_batch(spark, work, b, bid), checkpoint=ckpt)

    expected = enrich_and_convert(
        spark.read.parquet(feed_dir).selectExpr("id", "channel_id", "ts", "value"),
        spark,
    )
    got = read_channel_data(spark, work)
    assert got.count() == expected.count(), "crash+restart lost or duplicated rows"
    assert (
        got.exceptAll(expected).count() == 0
        and expected.exceptAll(got).count() == 0
    )
    shutil.rmtree(work, ignore_errors=True)


def test_stale_monitor_flags_stopped_channels(spark, sf_dir, feed_dir):
    """Channels that stop producing must be flagged with status=-1 once the
    WATERMARK passes last_ts + threshold (event-time timeout — deterministic
    under replay, unlike wall-clock timeouts).  Every emitted marker must
    satisfy the staleness predicate, and channels whose data ends well
    before the global max event time must be flagged."""
    from daq_3i_spark.streaming.stateful import STALE_STATUS, stale_monitor_stream

    stale_after = 3600  # 1 hour of event time
    stream = feed_stream(spark, feed_dir).select("channel_id", "ts", "value")
    markers, _ = drain(stale_monitor_stream(stream, stale_after_s=stale_after))
    got = {r["channel_id"]: r for r in markers.collect()}

    feed = spark.read.parquet(feed_dir)
    last_per_chl = {
        r["channel_id"]: r["mx"]
        for r in feed.groupBy("channel_id").agg(F.max("ts").alias("mx")).collect()
    }
    global_max = max(last_per_chl.values())

    for cid, r in got.items():
        assert r["status"] == STALE_STATUS
        # the marker is point-in-time: the channel WAS stale when the
        # watermark passed last_ts + threshold (it may resume later, like
        # batch-gapped feeds do) — so its last_ts is stale relative to the
        # final watermark and never exceeds the channel's true max
        assert (global_max - r["last_ts"]).total_seconds() >= stale_after, (
            cid,
            r["last_ts"],
            global_max,
        )
        assert r["last_ts"] <= last_per_chl[cid]
    # channels stale by MORE than one batch margin must have fired
    must_flag = {
        cid
        for cid, mx in last_per_chl.items()
        if (global_max - mx).total_seconds() >= 2 * stale_after
    }
    assert must_flag <= set(got), f"missed stale channels: {must_flag - set(got)}"


def test_rollup_incremental_prunes_recompute(spark, sf_dir):
    """The refresh must only recompute the buckets the delta touches: the
    stored aggregate's untouched rows survive the anti-join unmodified, and
    touched buckets (including the one the split instant straddles) are a
    small fraction of the table."""
    from pyspark.sql import functions as F

    from daq_3i_spark.plans import QUERIES
    from daq_3i_spark.plans.streaming_ops import _ROLLUP_SPLIT
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    split = F.lit(_ROLLUP_SPLIT).cast("timestamp")
    touched = (
        cd.filter(F.col("ts") >= split)
        .select("channel_id", F.date_trunc("hour", "ts").alias("b"))
        .distinct()
        .count()
    )
    total = (
        cd.select("channel_id", F.date_trunc("hour", "ts").alias("b"))
        .distinct()
        .count()
    )
    assert 0 < touched < total / 2, "delta must touch a strict minority"
    out = QUERIES["op_rollup_incremental"].spark(spark, sf_dir).count()
    assert out == total


def test_stream_rollup_refresh_is_multibatch(spark, sf_dir):
    """The aggregate must be carried across real micro-batches: the feed
    replays as 4 files with maxFilesPerTrigger=1, so the op's checkpoint
    commits >= 4 batches and the last one's state is the op's output."""
    import os

    from daq_3i_spark.plans import QUERIES
    from daq_3i_spark.plans.streaming_ops import _TMP_ROOT

    out = QUERIES["op_stream_rollup_refresh"].spark(spark, sf_dir)
    n = out.count()
    # the op's workdir is per-PROCESS (streaming_ops._workdir appends
    # -w{pid} so concurrent sharded workers don't rmtree each other); the
    # op above ran in THIS process, so the same suffix finds its checkpoint
    commits = os.path.join(
        _TMP_ROOT, f"op_stream_rollup_refresh-w{os.getpid()}", "ckpt", "commits"
    )
    batches = [f for f in os.listdir(commits) if f.isdigit()]
    assert len(batches) >= 4, "drain must commit several micro-batches"
    assert n > 0


def test_time_retention_partition_drop_semantics(spark, sf_dir, tmp_path):
    """apply_time_retention must (a) remove expired partitions at the
    directory level, (b) rewrite ONLY the straddled partition, and (c) leave
    every surviving partition's files byte-for-byte untouched (same names,
    sizes, mtimes) — the proof that at scale retention is a metadata drop
    plus a one-day rewrite, never a table scan."""
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.sources.sink import (
        apply_time_retention,
        write_channel_data_partitioned,
    )
    from daq_3i_spark.plans.streaming_ops import _RETENTION_CUTOFF

    path = str(tmp_path / "cd_part")
    write_channel_data_partitioned(channel_data_df(spark, sf_dir), path)
    cutoff_date = _RETENTION_CUTOFF.split(" ")[0]

    def inventory():
        inv = {}
        for d in os.listdir(path):
            if d.startswith("p_date="):
                pdir = os.path.join(path, d)
                inv[d.split("=", 1)[1]] = {
                    f: (st.st_size, st.st_mtime_ns)
                    for f in os.listdir(pdir)
                    for st in [os.stat(os.path.join(pdir, f))]
                }
        return inv

    before = inventory()
    assert any(p < cutoff_date for p in before), "fixture must have expired days"
    assert cutoff_date in before, "fixture must straddle the cutoff"
    assert any(p > cutoff_date for p in before), "fixture must have kept days"

    apply_time_retention(spark, path, _RETENTION_CUTOFF)
    after = inventory()

    assert not any(p < cutoff_date for p in after), "expired partitions remain"
    assert after[cutoff_date] != before[cutoff_date], "boundary not rewritten"
    for p in before:
        if p > cutoff_date:
            assert after[p] == before[p], f"kept partition {p} was rewritten"

    survivors = spark.read.parquet(path)
    expect = channel_data_df(spark, sf_dir).filter(
        F.col("ts") >= F.lit(_RETENTION_CUTOFF).cast("timestamp")
    )
    assert survivors.count() == expect.count()
    assert survivors.filter(
        F.col("ts") < F.lit(_RETENTION_CUTOFF).cast("timestamp")
    ).count() == 0


def test_compaction_threshold_semantics(spark, sf_dir, tmp_path):
    """compact_partitions must rewrite ONLY partitions above the file-count
    threshold (fragmented ones become a single sorted file) and leave
    compact partitions byte-for-byte untouched — the idempotence that makes
    it a safe background service."""
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.sources.sink import compact_partitions

    path = str(tmp_path / "sink")
    cd = channel_data_df(spark, sf_dir).withColumn("p_date", F.to_date("ts"))
    split = F.lit("2024-01-16").cast("date")
    (
        cd.filter(F.col("p_date") < split)
        .repartition(F.col("p_date"))
        .write.partitionBy("p_date")
        .parquet(path)
    )
    for k in range(6):
        (
            cd.filter((F.col("p_date") >= split) & (F.col("id") % 6 == k))
            .repartition(F.col("p_date"))
            .write.mode("append")
            .partitionBy("p_date")
            .parquet(path)
        )

    def inventory():
        inv = {}
        for d in os.listdir(path):
            if d.startswith("p_date="):
                pdir = os.path.join(path, d)
                inv[d.split("=", 1)[1]] = {
                    f: (st.st_size, st.st_mtime_ns)
                    for f in os.listdir(pdir)
                    if f.endswith(".parquet")
                    for st in [os.stat(os.path.join(pdir, f))]
                }
        return inv

    before = inventory()
    n_before = spark.read.parquet(path).count()
    done = compact_partitions(spark, path, max_files=4)
    after = inventory()

    frag = {p for p, files in before.items() if len(files) > 4}
    assert set(done) == frag and frag, "exactly the fragmented partitions compact"
    for p in before:
        if p in frag:
            assert len(after[p]) == 1, f"{p} not compacted to one file"
        else:
            assert after[p] == before[p], f"compact partition {p} was rewritten"
    # content-neutral
    assert spark.read.parquet(path).count() == n_before


def test_stream_forecast_monitor_equals_batch(spark, sf_dir):
    """op_stream_forecast_monitor (4 incremental micro-batches merging
    hourly-count partials) must reproduce op_events_forecast_naive's
    from-scratch evaluation exactly — counts are integers and the scoring
    tree is shared, so equality is ==, not approx."""
    from daq_3i_spark.plans import QUERIES

    got = sorted(
        tuple(r)
        for r in QUERIES["op_stream_forecast_monitor"].spark(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in QUERIES["op_events_forecast_naive"].spark(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@pytest.fixture(params=["hdfs", "rocksdb"])
def state_provider(request, spark):
    """Run a streaming soak under BOTH state-store providers (VERDICT r12
    #5): the 100 TB claim for keyed state assumes state spills beyond
    executor heap, which is the RocksDB provider's job — a soak green under
    both proves the state ops are provider-portable, not
    HDFSBackedStateStore-shaped.  The conf is read at query START, so
    set/restore around each test is enough; checkpoints are rebuilt per
    test (work dirs are rmtree'd at entry), so no provider mixing within a
    checkpoint lineage."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    if request.param == "rocksdb":
        spark.conf.set(key, _ROCKSDB_PROVIDER)
    yield request.param
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def _bar_aggregate(shape: str):
    """An incremental bar aggregate over channel samples, in one of the two
    shapes the state-store ops keep: plain sums, or the key-carrying
    ``min_by``/``max_by`` struct whose value rides with its ordering key."""
    from daq_3i_spark.functions.numeric import fx_unscaled

    keys = ["channel_id", F.unix_micros(F.date_trunc("hour", "ts")).alias("bucket_us")]
    if shape == "sums":
        aggs = [F.count("*").alias("n"), F.sum(fx_unscaled(F.col("value"))).alias("sum_fx")]
    else:
        okey = F.struct("ts", "id")
        aggs = [
            F.min_by(F.struct("ts", "id", "value"), okey).alias("open_s"),
            F.max_by(F.struct("ts", "id", "value"), okey).alias("close_s"),
        ]
    return lambda df: df.groupBy(*keys).agg(*aggs)


def _timed_feed(spark, sf_dir, feed: str, n_files: int) -> list[str]:
    """The sf sample feed written as ``n_files`` parquet files in a staging
    dir beside ``feed``, with increasing mtimes (one micro-batch each, in
    order); returns their paths, for the caller to move into ``feed``."""
    from daq_3i_spark.sources.daq_dims import channel_data_df

    stage = feed + "_stage"
    channel_data_df(spark, sf_dir).repartition(n_files).write.parquet(stage)
    files = sorted(os.path.join(stage, f) for f in os.listdir(stage) if f.endswith(".parquet"))
    base = int(time.time()) - 600
    for i, f in enumerate(files):
        os.utime(f, (base + 10 * i, base + 10 * i))
    os.makedirs(feed)
    return files


@pytest.mark.parametrize("shape", ["sums", "min_by"])
def test_state_store_aggregate_crash_replay_exactly_once(spark, sf_dir, tmp_path, shape):
    """Complete-mode state is exactly-once through the checkpoint: drain the
    first files, then delete the last commit (the engine's crash point
    between the state commit and the checkpoint commit), add the rest of
    the feed and drain again.  The restart must re-run the uncommitted
    batch from the state version below it — a doubled or lost batch makes
    the result differ from the batch recompute."""
    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
    files = _timed_feed(spark, sf_dir, feed, 6)
    agg = _bar_aggregate(shape)

    def run(moved):
        for f in moved:
            shutil.move(f, os.path.join(feed, os.path.basename(f)))
        return drain(agg(feed_stream(spark, feed)), mode="complete",
                     checkpoint=ckpt, partitions=8)

    _, first = run(files[:3])
    last = max(p["batchId"] for p in first)
    assert last == 2
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    result, second = run(files[3:])
    assert second[0]["batchId"] == last, "the uncommitted batch must re-run"
    assert max(p["batchId"] for p in second) == 5
    want = agg(spark.read.parquet(feed))
    assert sorted(result.collect()) == sorted(want.collect())


def test_state_store_aggregate_20_batch_soak_state_bounded(
    spark, sf_dir, tmp_path, state_provider
):
    """Long-run soak for the complete-mode aggregates: every op_stream_*
    aggregate replays only 4 micro-batches, which cannot answer 'does state
    leak over a day'.  Drive 20 real micro-batches of the hourly rollup
    and pin, at EVERY batch, (a) the state store's row count stays bounded
    by the final bar cardinality (aggregation buffers are bar-sized, never
    row- or batch-count-sized) and (b) with minBatchesToRetain=3 the
    checkpoint's offsets/ and commits/ logs end the run holding <= 4
    batches, and never more than 5 (the next batch's offset is written
    before the purge).  The final state must equal the from-scratch
    recompute exactly."""
    from daq_3i_spark.sources.daq_dims import channel_data_df

    feed, ckpt = str(tmp_path / "feed"), str(tmp_path / "ckpt")
    channel_data_df(spark, sf_dir).repartition(20).write.parquet(feed)
    agg = _bar_aggregate("sums")
    logs = {"offsets": [], "commits": []}

    def batches(d: str) -> int:
        return sum(f.isdigit() for f in os.listdir(os.path.join(ckpt, d)))

    class _Logs(StreamingQueryListener):
        def onQueryProgress(self, event) -> None:
            for d, sizes in logs.items():
                sizes.append(batches(d))

        onQueryStarted = onQueryTerminated = lambda self, event: None  # noqa: E731

    key = "spark.sql.streaming.minBatchesToRetain"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    listener = _Logs()
    spark.streams.addListener(listener)
    try:
        result, progress = drain(agg(feed_stream(spark, feed)), mode="complete",
                                 checkpoint=ckpt, partitions=8)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, old)

    want = agg(spark.read.parquet(feed))
    bars = want.count()
    assert len(progress) >= 20, f"soak ran only {len(progress)} batches"
    for p in progress:
        rows = p["stateOperators"][0]["numRowsTotal"]
        assert rows <= bars, (
            f"batch {p['batchId']}: state holds {rows} rows > {bars} bars — "
            "state grows with batch count, not bar cardinality"
        )
    for d, sizes in logs.items():
        assert len(sizes) >= 20 and max(sizes) <= 5, f"{d}/ held {max(sizes)} batches"
        assert batches(d) <= 4, f"{d}/ kept {batches(d)} batches"
    assert sorted(result.collect()) == sorted(want.collect())


def test_stateful_latest_20_batch_soak_state_is_channel_bounded(
    spark, sf_dir, state_provider
):
    """State-size soak for the applyInPandasWithState family (the module
    docstring's claim: state per key is O(1), store size = #channels).
    Drive ~20 micro-batches of the latest-per-channel operator and read the
    state-store row count from every progress event: it must never exceed
    the distinct channel count — growth with batch count or row count means
    the operator is accumulating history instead of the single
    (id, ts, value) slot.  Final emitted latest must equal the batch
    latest-per-key oracle."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from daq_3i_spark.plans.streaming_ops import _TMP_ROOT
    from daq_3i_spark.sources.daq_dims import channel_data_df
    from daq_3i_spark.streaming.stateful import latest_per_key_stream

    work = os.path.join(_TMP_ROOT, "stateful_soak20")
    if os.path.isdir(work):
        shutil.rmtree(work)
    feed = os.path.join(work, "feed")
    cd = channel_data_df(spark, sf_dir).select("channel_id", "id", "ts", "value")
    cd.repartition(20).write.parquet(feed)
    n_channels = cd.select("channel_id").distinct().count()

    stream = feed_stream(spark, feed)
    out = os.path.join(work, "out")

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(out)

    _, progresses = drain(
        latest_per_key_stream(stream), sink, mode="update",
        checkpoint=os.path.join(work, "ckpt"), partitions=8,
    )

    batches = [p for p in progresses if p["numInputRows"] > 0 or p["stateOperators"]]
    assert len(batches) >= 20, f"soak ran only {len(batches)} progress events"
    for p in batches:
        for sop in p["stateOperators"]:
            rows = sop["numRowsTotal"]
            assert rows <= n_channels, (
                f"batch {p['batchId']}: state holds {rows} rows > "
                f"{n_channels} channels — per-key state is not O(1)"
            )

    # last emitted row per channel == the batch latest-per-key oracle
    emitted = spark.read.parquet(out)
    w_latest = emitted.groupBy("channel_id").agg(
        F.max(F.struct("ts", "id", "value")).alias("s")
    )
    got = sorted(
        (r["channel_id"], r["s"]["ts"], r["s"]["id"], r["s"]["value"])
        for r in w_latest.collect()
    )
    want = sorted(
        (r["channel_id"], r["s"]["ts"], r["s"]["id"], r["s"]["value"])
        for r in cd.groupBy("channel_id")
        .agg(F.max(F.struct("ts", "id", "value")).alias("s"))
        .collect()
    )
    assert got == want
    shutil.rmtree(work)


def test_watermark_window_agg_20_batch_soak_state_evicts(
    spark, sf_dir, state_provider
):
    """Watermark-eviction soak — the third streaming-state family (complete-
    mode aggregates and applyInPandasWithState have their own 20-batch soaks):
    replay events as ~20 TIME-ORDERED micro-batches through the tumbling
    1-minute windowed aggregation (10-minute watermark) and pin, from the
    state-store metrics, that (a) live state stays within the horizon bound
    — windows inside (watermark horizon + one batch's time span + slack),
    never the whole history — and (b) eviction actually happens: the final
    state holds a small fraction of all windows ever aggregated.  Append
    output over 20 batches must emit every finalized window exactly once
    (equal to the batch recompute minus the still-open tail)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from daq_3i_spark.plans.streaming_ops import _TMP_ROOT
    from daq_3i_spark.sources.tables import load_events
    from daq_3i_spark.streaming.windows import windowed_aggs

    work = os.path.join(_TMP_ROOT, "wm_soak20")
    if os.path.isdir(work):
        shutil.rmtree(work)
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    ev = load_events(spark, sf_dir).select("ts", "event_type", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span_s = (hi - lo).total_seconds()
    n_slices = 20
    slice_s = span_s / n_slices

    ev_c = ev.persist()
    ev_c.count()
    bounds = [lo + __import__("datetime").timedelta(seconds=slice_s * k)
              for k in range(n_slices + 1)]
    for k in range(n_slices):
        cond = F.col("ts") >= F.lit(bounds[k])
        cond &= (F.col("ts") < F.lit(bounds[k + 1])) if k < n_slices - 1 else F.lit(True)
        tmp = os.path.join(work, f"tmp{k}")
        ev_c.filter(cond).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(feed, f"slice_{k}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    ev_c.unpersist()

    n_types = ev.select("event_type").distinct().count()
    # occupancy-based bound (events are SPARSE in 1-minute windows at this
    # span): live state is at most one batch's occupied (window, type)
    # pairs — they stay until the NEXT batch's watermark passes them — plus
    # the <= 10-minute horizon tail from the previous batch and boundary
    # slack.  A linear-growth bug (no eviction) would accumulate ALL
    # occupied pairs instead.
    lo_us = int(lo.timestamp() * 1_000_000)
    slice_us = int(slice_s * 1_000_000) or 1
    occupied = (
        ev.select(
            F.window("ts", "1 minute").alias("w"),
            "event_type",
            F.floor((F.unix_micros("ts") - F.lit(lo_us)) / F.lit(slice_us))
            .alias("slice"),
        )
        .distinct()
        .groupBy("slice")
        .count()
    )
    max_per_slice = occupied.agg(F.max("count")).first()[0]
    bound = max_per_slice + (11 + 3) * n_types  # horizon tail + slack
    total_windows = (
        ev.select(F.window("ts", "1 minute"), "event_type").distinct().count()
    )
    assert bound < total_windows / 3, (
        "fixture degenerate: horizon bound does not separate from history "
        f"(bound={bound}, total={total_windows})"
    )

    out = os.path.join(work, "out")

    def sink(batch, batch_id):
        batch.write.mode("append").parquet(out)

    stream = feed_stream(spark, feed)
    _, progresses = drain(
        windowed_aggs(stream), sink, checkpoint=os.path.join(work, "ckpt"), partitions=8
    )

    with_state = [p for p in progresses if p["stateOperators"]]
    assert len(with_state) >= n_slices, f"only {len(with_state)} progress events"
    max_state = 0
    for p in with_state:
        for sop in p["stateOperators"]:
            max_state = max(max_state, sop["numRowsTotal"])
            assert sop["numRowsTotal"] <= bound, (
                f"batch {p['batchId']}: {sop['numRowsTotal']} state rows > "
                f"horizon bound {bound} — watermark is not evicting"
            )
    final_state = max(
        sop["numRowsTotal"] for sop in with_state[-1]["stateOperators"]
    )
    assert final_state < total_windows / 3, "no eviction over the run"

    # append emitted exactly the finalized windows: the batch recompute
    # minus windows still open past the final watermark
    emitted = spark.read.parquet(out)
    assert emitted.count() == emitted.distinct().count()  # exactly once
    assert emitted.count() >= total_windows - bound
    shutil.rmtree(work)


def test_feed_key_fingerprints_corpus_not_basename(tmp_path):
    """Two corpora sharing a basename must never share a feed-cache key, and
    regenerating a table in place must re-key (ADVICE r12: the cached feed
    IS the op input, so a stale hit is an oracle-invisible wrong result)."""
    import os
    import shutil

    from daq_3i_spark.plans.streaming_ops import _sf_feed_key

    a = tmp_path / "one" / "sf"
    b = tmp_path / "two" / "sf"
    for d in (a, b):
        d.mkdir(parents=True)
    shutil.copyfile("/root/testdata/sf0.001/region.parquet", a / "events.parquet")
    shutil.copyfile("/root/testdata/sf0.001/nation.parquet", b / "events.parquet")
    assert os.path.basename(a) == os.path.basename(b)
    k_a, k_b = _sf_feed_key("x", str(a)), _sf_feed_key("x", str(b))
    assert k_a != k_b

    # regenerate-in-place (new mtime) => new key
    os.utime(a / "events.parquet", ns=(1, 1))
    assert _sf_feed_key("x", str(a)) != k_a
    # stable across calls when nothing changed
    assert _sf_feed_key("x", str(b)) == k_b


def test_feed_key_fingerprints_directory_table_parts(tmp_path):
    """A directory-shaped table fingerprints its contained part files: an
    in-place overwrite of one part (which leaves the directory's own stat
    unchanged on most filesystems) must re-key (ADVICE r13)."""
    import os
    import shutil

    from daq_3i_spark.plans.streaming_ops import _sf_feed_key

    sf = tmp_path / "sf"
    tbl = sf / "events.parquet"  # directory-shaped table
    tbl.mkdir(parents=True)
    shutil.copyfile(
        "/root/testdata/sf0.001/region.parquet", tbl / "part-000.parquet"
    )
    shutil.copyfile(
        "/root/testdata/sf0.001/nation.parquet", tbl / "part-001.parquet"
    )
    dir_stat = os.stat(tbl)
    k0 = _sf_feed_key("x", str(sf))
    assert _sf_feed_key("x", str(sf)) == k0  # stable when nothing changed

    # overwrite one part in place; pin the directory stat unchanged so the
    # test proves the key change comes from the PART fingerprint
    os.utime(tbl / "part-001.parquet", ns=(7, 7))
    os.utime(tbl, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    assert os.stat(tbl).st_mtime_ns == dir_stat.st_mtime_ns
    assert _sf_feed_key("x", str(sf)) != k0


def test_purge_dead_worker_caches(monkeypatch, tmp_path):
    """Cache dirs of exited workers are removed — INCLUDING an own-pid dir,
    which at purge time (module import) can only belong to a dead
    predecessor whose pid this process recycled (the module creates
    -w{pid} dirs only after import; ADVICE r13).  Unsuffixed entries are
    never touched."""
    import os

    import daq_3i_spark.plans.streaming_ops as so

    monkeypatch.setattr(so, "_TMP_ROOT", str(tmp_path))
    dead = tmp_path / "feedcache-w999999999"  # pid_max is < 999999999
    recycled = tmp_path / f"feedcache-w{os.getpid()}"  # dead predecessor's
    plain = tmp_path / "sf1"  # no -w{pid} suffix: never touched
    for d in (dead, recycled, plain):
        d.mkdir()
    so._purge_dead_worker_caches()
    assert not dead.exists()
    assert not recycled.exists()
    assert plain.exists()

def test_read_status_empty_table_never_flips_to_none(spark, tmp_path):
    """An existing-but-empty table reads as the empty TYPED frame, never
    None (the CREATE-TABLE contract) — also after zero-row merges commit
    over it.  Only a table never created reads as None."""
    from daq_3i_spark import schemas
    from daq_3i_spark.streaming.pipeline import create_tables, upsert_status

    work = str(tmp_path / "zero_row_upserts")
    assert read_status(spark, work) is None
    create_tables(spark, work)
    empty = spark.createDataFrame([], schemas.DAQ_STATUS)
    for i in range(1, 4):
        upsert_status(spark, work, empty, i)
    got = read_status(spark, work)
    assert got is not None, "existing-but-empty table read as None"
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["parameter", "status", "ts"]
    cd = read_channel_data(spark, work)
    assert cd.count() == 0 and cd.columns == ["id", "channel_id", "ts", "value"]


def test_stream_dedup_ingest_kernel_is_spread(spark, sf_dir):
    """The per-batch MinHash kernel must fan out before it runs (r18): the
    one-file-per-trigger replay delivers each micro-batch as a single
    partition, and an unspread kernel hashes the whole batch on one core.
    The spread is observable in the band index: each batch's append writes
    one file per non-empty kernel partition, so on a session with 2 or more
    cores the drained index holds MORE files than the 4 micro-batches (the
    unspread shape wrote exactly one file per batch); a 1-core session
    spreads to one partition, one file per batch, which is correct."""
    import os

    from daq_3i_spark.plans import QUERIES
    from daq_3i_spark.plans.streaming_ops import _TMP_ROOT

    n = QUERIES["op_stream_dedup_ingest"].spark(spark, sf_dir).count()
    assert n > 0
    index_dir = os.path.join(
        _TMP_ROOT, f"op_stream_dedup_ingest-w{os.getpid()}", "band_index"
    )
    files = [f for f in os.listdir(index_dir) if f.endswith(".parquet")]
    least = 4 if spark.sparkContext.defaultParallelism < 2 else 5
    assert len(files) >= least, (
        f"band index holds {len(files)} files for 4 micro-batches — the "
        "kernel ran unspread (single partition per batch)"
    )
