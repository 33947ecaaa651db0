"""spark-daq benchmark: one command per workload run, end-to-end or traced.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; every other line (Spark's
included) goes to stderr.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see perfbench/README.md).  Inputs are
generated from ``--seed`` under ``perfbench/.work/``, which is removed when
the run ends; a traced run also leaves its spans in ``perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.time()  # process start, where set-up time begins

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the session JVM's heap; fixed so memory use does not depend on the host
JVM_HEAP = "2g"


class Run:
    """One benchmark process: its options, work dir, spans and session."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
        self.event_log = os.path.join(self.work, "eventlog")
        self.spark = None
        self.jvm_pids: list[int] = []
        from probes import Tracer

        self.tracer = Tracer(self.trace)
        self.get_spark_s: list[float] = []

    def hygiene(self) -> None:
        """Environment for the session and its Python workers, set before the
        JVM starts (it inherits this process's environment)."""
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.makedirs(os.path.join(self.work, "spark-local"))
        # temp files of this process, its Python workers and every JVM
        # (the launcher's too) stay in the work dir
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        tempfile.tempdir = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_TEST_CPUS"] = str(self.cpus)  # DuckDB oracle threads
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
        conf = ["spark.ui.showConsoleProgress=false"]
        if self.trace:
            os.makedirs(self.event_log)
            conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{self.event_log}",
                     "spark.eventLog.compress=false"]
        # static confs reach the JVM only through its launch arguments
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"

    def session(self, cpus: int | None = None):
        """A fresh SparkSession at ``local[cpus]`` (default: every core this
        process may run on), stopping the previous one."""
        from daq_3i_spark.session import get_spark

        self.stop_session()
        t = time.time()
        self.spark = get_spark("perfbench", cpus=cpus or self.cpus)
        self.get_spark_s.append(time.time() - t)
        self.spark.sparkContext.setLogLevel("ERROR")
        if not self.jvm_pids:
            from probes import descendants, is_java

            self.jvm_pids = [p for p in descendants() if is_java(p)]
        return self.spark

    def setup(self, generate, open_inputs=None) -> float:
        """Write the workload's inputs (``generate()``), start the session and
        run ``open_inputs(spark)``, the program-side work before the first
        operation.  Returns the set-up time: from process start to the
        session ready with its inputs open, less the time spent generating."""
        t = time.time()
        generate()
        gen_s = time.time() - t
        spark = self.session()
        if open_inputs:
            open_inputs(spark)
        return time.time() - T_START - gen_s

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> tuple[float, float]:
        """(this process + its JVM, JVM alone) peak resident set in MiB."""
        from probes import hwm_mb

        jvm = sum(hwm_mb(p) for p in self.jvm_pids)
        return hwm_mb(os.getpid()) + jvm, jvm

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every child to end."""
        from probes import descendants

        kids = descendants()
        self.stop_session()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait(timeout=10)
        deadline = time.time() + 20
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "daq_3i_spark", "__init__.py")):
        print(f"perfbench: the program (daq_3i_spark/) is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # keep stdout for the result line: anything else written to fd 1, the
    # JVM's output included, lands on stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    run = Run(args)
    run.hygiene()
    try:
        result = workloads.WORKLOADS[args.workload](run)
    finally:
        run.shutdown()
        if run.trace:
            run.tracer.dump(os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass  # another run is using it
    print(f"perfbench: run took {time.time() - T_START:.2f} s", file=sys.stderr)
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
