"""Compare the generated inputs with a real star-schema directory.

    python3 perfbench/calibrate.py <real_sf_dir> [--seed 1] [--ops]

The benchmark may read only its own checkout, so it generates its inputs
(``gen.py``) instead of reading the sf0.1 test tables.  This tool shows
how close the two are.  For every table it prints the row count, each
column's physical Arrow type (timestamp unit included), and per column the
quantiles of a numeric column or the distinct count of a string one.  For
``embeddings`` it prints the mean cosine similarity within a label and
across labels, which drives the LSH/IVF candidate work.  With ``--ops`` it
also times every ``query_mix`` op on both directories in one session: the
median of 5 warm passes each, alternating between the two.  Exit code 1 if a
row count or a physical type differs.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402


def _read(sf_dir: str, name: str) -> pa.Table:
    return pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))


def _describe(col: pa.ChunkedArray) -> str:
    t = col.type
    if pa.types.is_timestamp(t):
        col = pc.cast(col, pa.int64())
    if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
        q = pc.quantile(col, q=[0.0, 0.1, 0.5, 0.9, 1.0]).to_pylist()
        return "q0/10/50/90/100 " + " ".join(f"{v:.6g}" for v in q)
    if pa.types.is_string(t):
        lens = pc.utf8_length(col)
        return (f"distinct {pc.count_distinct(col).as_py()} "
                f"len p50 {pc.quantile(lens, q=0.5).to_pylist()[0]:.0f}")
    return ""


def _cosines(t: pa.Table) -> tuple[float, float]:
    """Mean cosine similarity within a label and across labels (sampled)."""
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    label = np.asarray(t.column("label"))
    idx = np.random.default_rng(0).choice(len(v), min(len(v), 1000), replace=False)
    sims = v[idx] @ v[idx].T
    same = label[idx][:, None] == label[idx][None, :]
    np.fill_diagonal(same, False)
    diff = label[idx][:, None] != label[idx][None, :]
    return float(sims[same].mean()), float(sims[diff].mean())


def compare_tables(real_dir: str, gen_dir: str) -> int:
    bad = 0
    for name in gen.SF01_ROWS.keys() | {"region", "nation"}:
        real, made = _read(real_dir, name), _read(gen_dir, name)
        flag = "" if real.num_rows == made.num_rows else "  ROWS DIFFER"
        bad += bool(flag)
        print(f"{name}: rows real {real.num_rows} generated {made.num_rows}{flag}")
        for field in real.schema:
            if field.name not in made.schema.names:
                print(f"  {field.name}: MISSING from the generated table")
                bad += 1
                continue
            mtype = made.schema.field(field.name).type
            tflag = "" if mtype == field.type else f"  TYPE DIFFERS (generated {mtype})"
            bad += bool(tflag)
            print(f"  {field.name} {field.type}{tflag}")
            print(f"    real      {_describe(real.column(field.name))}")
            print(f"    generated {_describe(made.column(field.name))}")
        if name == "embeddings":
            print("  cosine within/across labels: real %.3f/%.3f generated %.3f/%.3f"
                  % (*_cosines(real), *_cosines(made)))
    return bad


def time_ops(real_dir: str, gen_dir: str) -> None:
    from daq_3i_spark.plans import QUERIES
    from daq_3i_spark.session import get_spark

    from workloads import QUERY_MIX

    spark = get_spark("perfbench-calibrate", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for op in QUERY_MIX:
            times: dict[str, list[float]] = {real_dir: [], gen_dir: []}
            for _ in range(6):  # alternating, so JIT warm-up favours neither
                for sf in (real_dir, gen_dir):
                    t = time.time()
                    QUERIES[op].spark(spark, sf).write.format("noop").mode("overwrite").save()
                    times[sf].append(time.time() - t)
            real, made = (statistics.median(times[sf][1:]) for sf in (real_dir, gen_dir))
            print(f"{op:28s} real {real:7.3f} s  generated {made:7.3f} s  "
                  f"ratio {made / real:5.2f}", flush=True)
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("real_sf_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", action="store_true", help="also time the query_mix ops on both")
    args = ap.parse_args(argv)
    with tempfile.TemporaryDirectory(dir=HERE, prefix=".calibrate-") as gen_dir:
        gen.write_star_schema(gen_dir, args.seed)
        bad = compare_tables(args.real_sf_dir, gen_dir)
        if args.ops:
            os.environ["PYTHONPATH"] = os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
            time_ops(args.real_sf_dir, gen_dir)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
