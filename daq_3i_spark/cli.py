"""CLI — the reference daemon's command-line surface on the Spark engine.

Mirrors the modes of ``daq-3i.py`` (/root/reference/daq-3i.py:40-99,
CmdArgParse.py:4-29) so a user of the reference can switch 1:1:

    python -m daq_3i_spark.cli [-c config-file] [-L DEBUG] [-LF log-file] [-h]
        [PRINT-LIVE] [NO-TRUNC] [TRUNC-ONLY | CREATE-TABLE]

| reference mode | here |
|---|---|
| (default) acquire + persist + truncate loops | run the streaming pipeline (availableNow over the configured feed; live triggers with ``--live``) |
| ``PRINT-LIVE`` (print each persisted row)    | console preview of each micro-batch |
| ``NO-TRUNC``                                 | skip the retention compaction |
| ``TRUNC-ONLY``                               | retention compaction only, no acquisition (single action) |
| ``CREATE-TABLE`` (stubbed in the reference)  | *implemented*: initialize the sink tables (empty committed manifests for channel_data + daq_status) |
| ``-c config-file``                           | INI file: [engine] feed_dir/work_dir/cpus (stands in for the reference's [db] section) |
| ``-L DEBUG`` / ``-LF log-file``              | log level / log file |

The switch/flag grammar matches the reference parser: ``-x value`` switches,
bare-word flags, unknown tokens are fatal (CmdArgParse.py semantics).
"""

from __future__ import annotations

import configparser
import logging
import os
import sys

DEFAULT_FEED = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def process_args(argv: list[str]) -> tuple[list[tuple[str, str | None]], list[str]]:
    """The reference's switch/flag split (CmdArgParse.py:4-29): ``-x`` takes
    the next token as value; everything else is a flag."""
    switches: list[tuple[str, str | None]] = []
    flags: list[str] = []
    args = [a.strip() for a in argv[1:]]
    while args:
        cur = args.pop(0)
        if cur.startswith("-"):
            val = args.pop(0) if args else None
            switches.append((cur, val))
        else:
            flags.append(cur)
    return switches, flags


HELP = """
daq-3i-spark - the daq-3i data-acquisition pipeline, PySpark-native.

usage: python -m daq_3i_spark.cli [-c config-file] [-L DEBUG] [-LF log-file]
       [-h] [PRINT-LIVE] [NO-TRUNC] [TRUNC-ONLY | CREATE-TABLE]

PRINT-LIVE : print each persisted micro-batch to the console.
NO-TRUNC   : do not apply the channel-data retention policy.
TRUNC-ONLY : no acquisition; run retention compaction once and exit.
CREATE-TABLE : initialize the sink table layout and exit.
"""


class Env:
    """Parsed run configuration (the reference's EnvDaq3i, daq-3i.py:30-99)."""

    def __init__(self, argv: list[str]):
        self.feed_dir = DEFAULT_FEED
        self.work_dir = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".tmp", "daq_run")
        self.cpus = "4"
        self.print_live = False
        self.clear_history = True
        self.trunc_only = False
        self.create_table = False
        self.l_level = logging.INFO
        self.l_filename = None

        switches, flags = process_args(argv)
        for sw, val in switches:
            up = sw.upper()
            if up == "-C":
                self._read_conf(val)
            elif up == "-L":
                if val and val.upper() == "DEBUG":
                    self.l_level = logging.DEBUG
            elif up == "-LF":
                self.l_filename = val
            elif up == "-H":
                print(HELP)
                raise SystemExit(0)
            else:
                logging.critical("Error : Unknown command line switch %s", sw)
                raise SystemExit(-1)
        for f in flags:
            up = f.strip().upper()
            if up == "NO-TRUNC":
                self.clear_history = False
            elif up == "TRUNC-ONLY":
                self.trunc_only = True
            elif up == "PRINT-LIVE":
                self.print_live = True
            elif up == "CREATE-TABLE":
                self.create_table = True
            else:
                logging.critical("Error : Unknown command line flag %s", f)
                raise SystemExit(-1)

    def _read_conf(self, path: str | None) -> None:
        if not path:
            return
        cp = configparser.ConfigParser()
        cp.read(path)
        if "engine" in cp:
            sec = cp["engine"]
            self.feed_dir = sec.get("feed_dir", self.feed_dir)
            self.work_dir = sec.get("work_dir", self.work_dir)
            self.cpus = sec.get("cpus", self.cpus)


def main(argv: list[str] | None = None, spark=None) -> int:
    env = Env(argv if argv is not None else sys.argv)
    logging.basicConfig(
        format="%(asctime)-15s : %(levelname)s : %(module)s : %(message)s",
        filename=env.l_filename,
        level=env.l_level,
    )
    own_session = spark is None
    if own_session:
        from daq_3i_spark.session import get_spark

        spark = get_spark("daq_3i_cli", cpus=env.cpus)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        from daq_3i_spark.streaming import pipeline as pl
        from daq_3i_spark.streaming.drain import drain

        os.makedirs(env.work_dir, exist_ok=True)
        if env.create_table:
            pl.create_tables(spark, env.work_dir)
            logging.info("initialized sink layout at %s", env.work_dir)
            return 0
        if env.trunc_only:
            pl.retention_compact(spark, env.work_dir)
            logging.info("retention compaction done")
            return 0

        samples = pl.build_sample_stream(spark, env.feed_dir)
        enriched = pl.enrich_and_convert(samples, spark)

        def sink(batch, batch_id):
            pl.persist_batch(spark, env.work_dir, batch, batch_id)
            if env.print_live:
                print(f"-- batch {batch_id} --")
                batch.orderBy("channel_id", "id").show(20, truncate=False)

        drain(enriched, sink, checkpoint=os.path.join(env.work_dir, "checkpoint"))
        if env.clear_history:
            pl.retention_compact(spark, env.work_dir)
        n = pl.read_channel_data(spark, env.work_dir).count()
        logging.info("pipeline complete; %d rows in channel_data sink", n)
        return 0
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
