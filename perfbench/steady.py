"""Steadiness report for repeated runs of one commit.

    # run the benchmark once per seed and record each result line
    python3 perfbench/steady.py run --workload ingest --seeds 1-10 [--trace 1]
    # median, quartiles and spread of every end-to-end metric, against its bound;
    # with a second file, also how far its medians moved from the first's
    python3 perfbench/steady.py report perfbench/out/ingest-t0.jsonl [second.jsonl]
    # tracing overhead: traced.* metrics against the untraced runs
    python3 perfbench/steady.py overhead perfbench/out/ingest-t0.jsonl perfbench/out/ingest-t1.jsonl

Spread is (Q3 - Q1) / median with ``statistics.quantiles(values, n=4)``.  A
metric is flagged OVER when its spread exceeds its bound in BENCHMARK.json
or when a second set's median is worse than the first's by more than the bound, and
``noisy`` when its spread exceeds a third of the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def _load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def run(args) -> int:
    bench = _bench()
    path = os.path.join(HERE, "out", f"{args.workload}-t{args.trace}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True)
        lines = proc.stdout.strip().splitlines()
        # the run's own progress lines (set-up, warm-up, host steal) stay with its result
        notes = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench:")]
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "rc": proc.returncode, "wall_s": round(time.time() - t, 2),
               "result": json.loads(lines[-1]) if proc.returncode == 0 and lines else None,
               "notes": notes}
        with open(path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        res = rec["result"] or {}
        print(f"seed {seed}: rc={rec['rc']} wall={rec['wall_s']} s correct={res.get('correct')}",
              flush=True)
    return report(argparse.Namespace(files=[path]))


def _stats(records: list[dict], name: str) -> tuple[float, float, float, int]:
    vals = [r["result"]["metrics"][name]["value"] for r in records
            if r.get("result") and name in r["result"]["metrics"]]
    if len(vals) < 2:
        v = vals[0] if vals else float("nan")
        return v, v, v, len(vals)
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q2, q1, q3, len(vals)


def report(args) -> int:
    bench = _bench()
    sets = [_load(p) for p in args.files]
    bad = 0
    for wl in sorted({r["workload"] for r in sets[0]}):
        runs = [[r for r in s if r["workload"] == wl and r["trace"] == 0] for s in sets]
        if not runs[0]:
            continue
        failed = sum(1 for r in runs[0] if not (r.get("result") or {}).get("correct"))
        walls = [r["wall_s"] for r in runs[0]]
        print(f"{wl}: {len(runs[0])} runs, {failed} not correct, wall median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m in bench["end_to_end"]:
            med, q1, q3, n = _stats(runs[0], m["name"])
            spread = (q3 - q1) / med if med else float("inf")
            flag = ""
            if spread > m["bound"]:
                flag = "OVER"
            elif spread > m["bound"] / 3:
                flag = "noisy"
            line = (f"  {m['name']:18s} median {med:12.4f} {m['unit']:5s} Q1 {q1:12.4f} "
                    f"Q3 {q3:12.4f} spread {spread:6.3f} bound {m['bound']:.3f} n={n}")
            if len(runs) > 1 and runs[1]:
                med2 = _stats(runs[1], m["name"])[0]
                worse = (med2 - med) / med * (1 if m["better"] == "lower" else -1)
                line += f" | 2nd median {med2:12.4f} worse by {worse:+.3f}"
                if worse > m["bound"]:
                    flag = "OVER"
            bad += flag == "OVER"
            print(line + (f"  {flag}" if flag else ""))
    return 1 if bad else 0


def overhead(args) -> int:
    plain, traced = _load(args.untraced), _load(args.traced)
    for wl in sorted({r["workload"] for r in traced}):
        p = [r for r in plain if r["workload"] == wl]
        t = [r for r in traced if r["workload"] == wl]
        names = [n for n in (t[0].get("result") or {}).get("metrics", {}) if n.startswith("traced.")]
        for name in names:
            base = _stats(p, name[len("traced."):])[0]
            val = _stats(t, name)[0]
            print(f"{wl} {name[len('traced.'):]:18s} untraced {base:12.4f} traced {val:12.4f} "
                  f"overhead {(val - base) / base:+.3f}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    rep = sub.add_parser("report")
    rep.add_argument("files", nargs="+")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    args = ap.parse_args(argv)
    return {"run": run, "report": report, "overhead": overhead}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
