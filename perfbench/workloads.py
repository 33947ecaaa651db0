"""The workloads.  Each takes a ``run.Run`` and returns the result line.

* ``ingest`` — the write path, twice.  First the daemon's live mode:
  ``run_pipeline`` on its 1 s processing-time trigger while an open loop
  renames 500-row events files into the feed at 4 files/s.  Latency is
  freshness: a file's due time to the end of the ``persist_batch`` call that
  wrote it.  Then a backlog: availableNow ``run_pipeline`` drains of a
  200k-row feed, each into a fresh work dir; throughput is its rows / drain
  time.
* ``query_mix`` — one closed-loop client running 8 oracled registry ops at
  sf0.1, shuffled per round, each forced through the noop sink.

Each warms up on a fixed amount of work, then measures.  A measurement
during which the hypervisor took more than ``MAX_STEAL`` of the host's CPU
time is taken again (``_calm``).  Outputs are checked outside the timed path.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import gen
import probes
from probes import median, pct

FILES_PER_S = 4
ROWS_PER_FILE = 500
#: closed-loop micro-batches of FILES_PER_S files before the open loop starts
WARMUP_BATCHES = 2
#: open-loop seconds before measuring, so the measured files meet the
#: pipeline already in its loaded rhythm rather than idle
RAMP_S = 4
#: after the last file is due, seconds a file may take to be committed
GRACE_S = 20.0
#: a run whose generator delivered a file later than this is invalid
MAX_LATE_S = 0.1

#: the backlog: BACKLOG_FILES x BACKLOG_ROWS_PER_FILE events rows
BACKLOG_FILES = 2
BACKLOG_ROWS_PER_FILE = 100_000
#: drains before the timed ones, and timed drains per measurement
WARMUP_DRAINS = 2
DRAINS = 2

#: measured rounds of the mix, at least; a round is every op once
MIN_ROUNDS = 2

#: calm runs read at most ~0.04 of the host's CPU time stolen (the live
#: path's idle-wake pattern alone reads 0.01-0.04); in episodes of 0.06-0.15
#: the live path and the drains ran 20-30% slower, the query mix 5-25%.  A measurement above
#: MAX_STEAL is taken again, at most MEASURE_TRIES times in all, and the
#: calmest one is kept.
MAX_STEAL = 0.05
MEASURE_TRIES = 2

QUERY_MIX = [
    # DAQ reference ops
    "flagship_pipeline", "op_latest_per_channel", "op_retention_topk",
    "op_events_funnel",
    # SQL surface
    "op_sql_q1", "op_sql_q5_region",
    # LLM extension ops
    "op_sim_lsh_topk", "op_sim_ivf_topk",
]

#: every per-layer metric and its unit; a workload that does not exercise a
#: layer reports 0 for it
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.latest_offset_trend_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.rows_per_batch": "count",
    "pipeline.persist_batch_s": "s",
    "pipeline.persist_batch_p90_s": "s",
    "pipeline.upsert_status_s": "s",
    "pipeline.append_s": "s",
    "pipeline.retention_compact_s": "s",
    "pipeline.files_written": "count",
    "pipeline.bytes_written_per_input_byte": "ratio",
    "pipeline.status_versions_left": "count",
    "engine.trigger_ms": "ms",
    "engine.add_batch_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.foreach_overhead_ms": "ms",
    "engine.busy_ratio": "ratio",
    "engine.phase_sum_ratio": "ratio",
    "plans.construct_s": "s",
    "plans.plan_s": "s",
    "plans.execute_s": "s",
    "plans.construct_jobs": "count",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.executor_cpu_s": "s",
    "exec.executor_run_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.drain_cpu_s": "s",
    "exec.speedup_vs_1core": "ratio",
    "proc.warmup_s": "s",
    "proc.jvm_hwm_mb": "MB",
    "proc.peak_rss_mb": "MB",
    "proc.host_steal_ratio": "ratio",
    "proc.remeasured": "count",
    "load.gen_late_max_s": "s",
    "traced.latency_p50_s": "s",
    "traced.latency_p90_s": "s",
    "traced.throughput_per_s": "1/s",
}


T_IMPORT = time.time()


def log(*parts) -> None:
    print(f"perfbench: [{time.time() - T_IMPORT:5.1f} s]", *parts, flush=True)


def _calm(label: str, measure):
    """Call ``measure()`` until the host steal over one call is at most
    ``MAX_STEAL``, ``MEASURE_TRIES`` calls at most.  Returns the calmest
    call's result, its steal and the number of calls discarded."""
    tries = []
    for i in range(MEASURE_TRIES):
        ticks = probes.cpu_ticks()
        out = measure()
        tries.append((probes.steal_ratio(ticks), i, out))
        log(f"{label}: host steal {tries[-1][0]:.3f} over measurement {i + 1}")
        if tries[-1][0] <= MAX_STEAL:
            break
    steal, _, out = min(tries, key=lambda t: t[:2])
    return out, steal, len(tries) - 1


def _result(run, attempted: int, failed: int, e2e: dict, layers: dict,
            setup_s: float, warmup_s: float, steal: float, remeasured: int) -> dict:
    """The result line: end-to-end metrics untraced, per-layer ones traced."""
    rss, jvm = run.peak_rss_mb()
    if not run.trace:
        metrics = {**e2e, "setup_s": setup_s}
        units = {"throughput_per_s": "1/s"}
    else:
        metrics = dict.fromkeys(LAYER_UNITS, 0.0)
        metrics.update(layers)
        metrics.update({
            "session.get_spark_s": run.get_spark_s[0],
            "proc.warmup_s": warmup_s,
            "proc.jvm_hwm_mb": jvm,
            "proc.peak_rss_mb": rss,
            "proc.host_steal_ratio": steal,
            "proc.remeasured": remeasured,
            **{f"traced.{k}": v for k, v in e2e.items()},
        })
        units = LAYER_UNITS
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units.get(k, "s")} for k, v in metrics.items()},
    }


# --- ingest --------------------------------------------------------------------------


def _wrap_pipeline(run, ends: dict[int, float]):
    """Record when each ``persist_batch`` call returns (the freshness end
    point, in every run); traced, also span the pipeline's functions.
    ``run_pipeline`` and ``persist_batch`` look these names up at call
    time, so replacing the module attributes reaches them.  Returns an undo."""
    from daq_3i_spark.streaming import pipeline as pl

    orig = pl.persist_batch

    def persist_batch(spark, work_dir, batch, batch_id):
        with run.tracer.span("pipeline.persist_batch", batch=batch_id):
            orig(spark, work_dir, batch, batch_id)
        ends[batch_id] = time.time()

    pl.persist_batch = persist_batch
    undo = [lambda: setattr(pl, "persist_batch", orig)]
    if run.trace:
        undo.append(run.tracer.wrap(pl, "upsert_status", "pipeline.upsert_status"))
        undo.append(run.tracer.wrap(pl, "retention_compact", "pipeline.retention_compact"))

    def restore():
        for u in reversed(undo):
            u()

    return restore


def _committed(work: str, ends: dict[int, float]) -> dict[str, int]:
    """Feed file name -> id of the micro-batch that consumed it, for batches
    whose ``persist_batch`` call has returned."""
    return {os.path.basename(p): b
            for p, b in probes.checkpoint_files(os.path.join(work, "checkpoint")).items()
            if b in ends}


def _wait(cond, timeout: float) -> None:
    deadline = time.time() + timeout
    while not cond() and time.time() < deadline:
        time.sleep(0.02)


def _written(work: str) -> tuple[int, int]:
    """(files, bytes) of parquet the pipeline has left in ``work``."""
    files = size = 0
    for sub in ("channel_data", "daq_status"):
        for dirpath, _dirs, names in os.walk(os.path.join(work, sub)):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _live_layers(run, work: str, batches: list[dict], measured: set[int],
                 window: tuple[float, float], input_bytes: int) -> dict:
    """Per-layer numbers of the live pipeline over the measured batches:
    spans of the wrapped pipeline functions, the engine's progress records,
    and what the stream wrote to the work dir."""
    from daq_3i_spark.streaming import pipeline as pl

    tr = run.tracer
    persist = {s["batch"]: s for s in tr.spans if s["name"] == "pipeline.persist_batch"}
    kept = [persist[b] for b in sorted(measured) if b in persist]
    persist_s = [s["end"] - s["start"] for s in kept]
    ids = {s["id"] for s in kept}
    upsert = [s["end"] - s["start"] for s in tr.spans
              if s["name"] == "pipeline.upsert_status" and s["parent"] in ids]
    prog = [b for b in batches if b["batch"] in measured and b["batch"] in persist]
    ms = lambda key: [b["ms"].get(key, 0) for b in prog]  # noqa: E731
    overhead = [b["ms"].get("addBatch", 0)
                - 1000 * (persist[b["batch"]]["end"] - persist[b["batch"]]["start"]) for b in prog]
    phases = [sum(v for k, v in b["ms"].items() if k != "triggerExecution") for b in prog]
    lat = ms("latestOffset")
    q = max(1, len(lat) // 4)
    files, size = _written(work)
    return {
        "sources.latest_offset_ms": median(lat),
        # listing cost grows with the files in the feed: last quarter - first
        "sources.latest_offset_trend_ms": sum(lat[-q:]) / q - sum(lat[:q]) / q if lat else 0.0,
        "sources.get_batch_ms": median(ms("getBatch")),
        "sources.rows_per_batch": median([b["rows"] for b in prog]),
        "pipeline.persist_batch_s": median(persist_s),
        "pipeline.persist_batch_p90_s": pct(persist_s, 90),
        "pipeline.upsert_status_s": median(upsert),
        "pipeline.append_s": median([tr.self_time(s) for s in kept]),
        "pipeline.files_written": files / max(len(persist), 1),
        "pipeline.bytes_written_per_input_byte": size / max(input_bytes, 1),
        "pipeline.status_versions_left": len(pl._status_versions(work)),
        "engine.trigger_ms": median(ms("triggerExecution")),
        "engine.add_batch_ms": median(ms("addBatch")),
        "engine.wal_commit_ms": median(ms("walCommit")),
        "engine.commit_offsets_ms": median(ms("commitOffsets")),
        "engine.query_planning_ms": median(ms("queryPlanning")),
        "engine.foreach_overhead_ms": median(overhead),
        "engine.busy_ratio": sum(ms("triggerExecution")) / 1000.0 / (window[1] - window[0]),
        "engine.phase_sum_ratio": sum(phases) / max(sum(ms("triggerExecution")), 1),
    }


def _drain(run, sf: str, work: str) -> tuple[float, float]:
    """(start, end) of one availableNow ``run_pipeline`` drain of the feed
    into a fresh ``work`` dir: append, status merge and ``retention_compact``."""
    from daq_3i_spark.streaming import pipeline as pl

    shutil.rmtree(work, ignore_errors=True)
    t = time.time()
    pl.run_pipeline(run.spark, sf, work, available_now=True)
    return t, time.time()


def ingest(run) -> dict:
    from daq_3i_spark.streaming import pipeline as pl

    import checks

    sf = os.path.join(run.work, "live_sf")
    feed = os.path.join(sf, "events.parquet")
    staging = os.path.join(run.work, "staging")
    backlog_sf = os.path.join(run.work, "backlog_sf")
    backlog = os.path.join(backlog_sf, "events.parquet")
    # file 0 primes the feed, then WARMUP_BATCHES groups, then the open
    # loop: RAMP_S seconds of files, then up to MEASURE_TRIES measured windows
    n_warm = 1 + WARMUP_BATCHES * FILES_PER_S
    n_meas = n_warm + FILES_PER_S * RAMP_S
    per_window = int(FILES_PER_S * run.seconds)
    n_files = n_meas + per_window * MEASURE_TRIES
    names = [f"part-{k:05d}.parquet" for k in range(n_files)]
    period_us = 1_000_000 // FILES_PER_S

    def generate():
        import numpy as np
        import pyarrow.parquet as pq

        for d in (feed, staging, backlog):
            os.makedirs(d)
        rng = np.random.default_rng(run.seed)
        for k in range(n_files):
            # a file's ts is its due time on the feed's own clock
            t = gen.events_table(rng, ROWS_PER_FILE, k * ROWS_PER_FILE,
                                 gen.EVENTS_T0_US + k * period_us, 1)
            pq.write_table(t, os.path.join(staging, names[k]))
        # the schema probe reads a footer, so file 0 is in place first
        os.rename(os.path.join(staging, names[0]), os.path.join(feed, names[0]))
        span = 30 * 86_400_000_000 // BACKLOG_FILES
        for k in range(BACKLOG_FILES):
            t = gen.events_table(rng, BACKLOG_ROWS_PER_FILE, k * BACKLOG_ROWS_PER_FILE,
                                 gen.EVENTS_T0_US + k * span, span)
            pq.write_table(t, os.path.join(backlog, f"part-{k:05d}.parquet"))

    sent = [1]  # files delivered so far

    def deliver(k: int) -> None:
        os.rename(os.path.join(staging, names[k]), os.path.join(feed, names[k]))
        sent[0] = k + 1

    def listed() -> int:
        return len(probes.checkpoint_files(os.path.join(work, "checkpoint")))

    setup_s = run.setup(generate)
    log(f"set up in {setup_s:.2f} s")
    spark = run.spark
    work = os.path.join(run.work, "live")
    ends: dict[int, float] = {}
    restore = _wrap_pipeline(run, ends)
    progress = probes.ProgressLog()
    if run.trace:
        spark.streams.addListener(progress)
    due: dict[int, float] = {}
    late: list[float] = []
    layers: dict = {}
    try:
        t_w = time.time()
        q = pl.run_pipeline(spark, sf, work, available_now=False)
        # warm-up, closed loop: the next second's files go in as soon as the
        # running batch has listed the previous ones, so warm-up batches run
        # back to back; the open loop starts once the last one is committed
        for k in range(1, n_warm, FILES_PER_S):
            _wait(lambda: listed() >= k, GRACE_S)
            for j in range(k, k + FILES_PER_S):
                deliver(j)
        _wait(lambda: len(_committed(work, ends)) >= n_warm, GRACE_S)
        # open loop: one file every 1/FILES_PER_S s, on time whether or
        # not the pipeline keeps up; after the ramp, each measured window is
        # the next per_window files
        t_open = time.time()
        warmup_s = t_open + RAMP_S - t_w
        log(f"warmed up in {warmup_s:.2f} s")

        def send(hi: int) -> tuple[int, int]:
            lo = sent[0]
            for k in range(lo, hi):
                due[k] = t_open + (k - n_warm) / FILES_PER_S
                wait = due[k] - time.time()
                if wait > 0:
                    time.sleep(wait)
                deliver(k)
                late.append(time.time() - due[k])
            return lo, hi

        send(n_meas)
        (lo, hi), steal, remeasured = _calm(
            "live window", lambda: send(sent[0] + per_window))
        _wait(lambda: len(_committed(work, ends)) >= sent[0], GRACE_S)
        committed = _committed(work, ends)
        q.stop()
        # check: every row exactly once, and the status snapshot
        files = [os.path.join(feed, n) for n in sorted(committed)]
        problems = checks.check_pipeline(spark, work, files, retention=False, threads=run.cpus)
        fresh, batch_of = [], {}
        for k in range(lo, hi):
            b = committed.get(names[k])
            if b is not None:
                fresh.append(ends[b] - due[k])
                batch_of.setdefault(b, []).append(round(fresh[-1], 2))
        log("freshness by micro-batch:", batch_of)
        measured = set(batch_of)
        window = (due[lo], max((ends[b] for b in measured), default=time.time()))
        if run.trace:
            layers = _live_layers(run, work, progress.batches, measured, window,
                                  sum(os.path.getsize(f) for f in files))

        # the backlog: warm-up drains (drain times kept falling through the
        # second, as the JIT compiled per-row paths the small live batches
        # barely touch), then timed drains, the last checked against the
        # reference with retention
        drain_work = os.path.join(run.work, "drain")
        t = time.time()
        for _ in range(WARMUP_DRAINS):
            _drain(run, backlog_sf, drain_work)
        warmup_s += time.time() - t
        drains, d_steal, d_remeasured = _calm(
            "drains", lambda: [_drain(run, backlog_sf, drain_work) for _ in range(DRAINS)])
        backlog_files = sorted(os.path.join(backlog, n) for n in os.listdir(backlog))
        d_problems = checks.check_pipeline(spark, drain_work, backlog_files, retention=True,
                                           threads=run.cpus)
    finally:
        restore()

    attempted = sent[0] + WARMUP_DRAINS + DRAINS * (d_remeasured + 1)
    failed = sent[0] - len(committed)
    if max(late) > MAX_LATE_S:
        log(f"the generator delivered a file {max(late):.3f} s late: run invalid")
        failed = attempted
    if problems:
        log("live output check failed:", problems)
        failed = attempted
    if d_problems:
        log("drain output check failed:", d_problems)
        failed += DRAINS
    drain_s = [b - a for a, b in drains]
    log("drain seconds:", [round(x, 2) for x in drain_s])
    rows = BACKLOG_FILES * BACKLOG_ROWS_PER_FILE
    e2e = {
        "latency_p50_s": median(fresh),
        "latency_p90_s": pct(fresh, 90),
        "throughput_per_s": rows / median(drain_s),
    }
    if run.trace:
        spans = run.tracer.durations("pipeline.retention_compact")
        layers["pipeline.retention_compact_s"] = median(spans[WARMUP_DRAINS:])
        layers["load.gen_late_max_s"] = max(late)
        # single-core baseline: one drain at local[1] against one at
        # local[nproc], each in a fresh session of the same warm JVM;
        # stopping the session also flushes the event log read below
        took = {}
        for cpus in (run.cpus, 1):
            run.session(cpus=cpus)
            a, b = _drain(run, backlog_sf, os.path.join(run.work, f"drain-{cpus}"))
            took[cpus] = b - a
        layers["exec.speedup_vs_1core"] = took[1] / took[run.cpus]
        run.stop_session()
        layers.update(probes.exec_metrics(run.event_log, [window], len(measured)))
        layers["exec.drain_cpu_s"] = probes.exec_metrics(
            run.event_log, drains, len(drains))["exec.executor_cpu_s"]
    return _result(run, attempted, failed, e2e, layers, setup_s, warmup_s,
                   max(steal, d_steal), remeasured + d_remeasured)


# --- query_mix -----------------------------------------------------------------------


def query_mix(run) -> dict:
    import checks
    from daq_3i_spark.plans import QUERIES
    from daq_3i_spark.schemas import ALL_TABLES
    from daq_3i_spark.sources.tables import load_table

    sf = os.path.join(run.work, "sf")

    def open_tables(spark):
        for name in ALL_TABLES:
            load_table(spark, sf, name)

    setup_s = run.setup(lambda: gen.write_star_schema(sf, run.seed), open_tables)
    log(f"set up in {setup_s:.2f} s")
    spark = run.spark
    rng = random.Random(run.seed)
    attempted = failed = 0

    # warm-up: one round that also checks every op against its oracle
    t_w = time.time()
    for op in rng.sample(QUERY_MIX, len(QUERY_MIX)):
        attempted += 1
        t = time.time()
        try:
            problems = checks.check_query(QUERIES[op].spark(spark, sf), QUERIES[op].oracle, sf)
        except Exception as exc:  # noqa: BLE001 — a failing op is counted, not fatal
            problems = [repr(exc)]
        if problems:
            log(f"{op} failed its oracle check: {problems[:3]}")
            failed += 1
        log(f"warm-up {op} {time.time() - t:.2f} s")
    t0 = time.time()
    log(f"warmed up in {t0 - t_w:.2f} s")

    def measure() -> dict:
        nonlocal attempted, failed
        m = {"lat": [], "windows": [], "construct": [], "plan": [], "execute": []}
        t_start = time.time()
        rounds = 0
        while rounds < MIN_ROUNDS or time.time() - t_start < run.seconds:
            rounds += 1
            for op in rng.sample(QUERY_MIX, len(QUERY_MIX)):
                attempted += 1
                with run.tracer.span("plans.query", trace_id=op):
                    t = time.time()
                    try:
                        with run.tracer.span("plans.construct"):
                            df = QUERIES[op].spark(spark, sf)
                        tc = time.time()
                        if run.trace:
                            with run.tracer.span("plans.plan"):
                                df._jdf.queryExecution().executedPlan()
                        tp = time.time()
                        with run.tracer.span("plans.execute"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # noqa: BLE001 — counted, not fatal
                        log(f"{op} raised {exc!r}")
                        failed += 1
                        continue
                    te = time.time()
                m["lat"].append(te - t)
                m["windows"].append((t, te))
                m["construct"].append((t, tc))
                m["plan"].append(tp - tc)
                m["execute"].append(te - tp)
        m["elapsed"] = time.time() - t_start
        return m

    m, steal, remeasured = _calm("query rounds", measure)
    e2e = {
        "latency_p50_s": median(m["lat"]),
        "latency_p90_s": pct(m["lat"], 90),
        "throughput_per_s": len(m["lat"]) / m["elapsed"],
    }
    layers = {}
    if run.trace:
        run.stop_session()  # flushes the event log
        layers = {
            "plans.construct_s": median([b - a for a, b in m["construct"]]),
            "plans.plan_s": median(m["plan"]),
            "plans.execute_s": median(m["execute"]),
            "plans.construct_jobs": probes.jobs_between(run.event_log, m["construct"])
            / len(m["lat"]),
            **probes.exec_metrics(run.event_log, m["windows"], len(m["lat"])),
        }
    return _result(run, attempted, failed, e2e, layers, setup_s, t0 - t_w, steal, remeasured)


WORKLOADS = {"ingest": ingest, "query_mix": query_mix}
