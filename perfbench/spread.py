"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds S] [--trace 0|1]

Runs ``perfbench/run.py`` once per seed, in sequence, and prints for
every metric of the result line its median, its quartiles and the
inter-quartile distance as a share of the median (the figure each
``end_to_end`` bound in ``BENCHMARK.json`` is set against). The raw
result lines are appended to ``perfbench/results/spread-<workload>.jsonl``.
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


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    log = os.path.join(HERE, "results", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True,
        )
        took = time.time() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "run_s": took, **res}) + "\n")
        print(f"seed {seed}: {took:.0f}s correct={res['correct']} failed={res['failed']}/{res['attempted']}")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
        else:
            q1 = q3 = vs[0]
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  iqr/median {share:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
