"""Steadiness check: run one workload on several seeds and report, for
each end-to-end metric, its median and its spread, the distance between
the first and third quartile as a share of the median.

    python3 perfbench/steady.py --workload osm_history --seeds 10

A metric is steady when its spread stays under a third of its bound in
``BENCHMARK.json`` (``setup_s`` is exempt). Exits 1 when a run fails or
a metric is not steady.
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


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10, help="runs, on seeds 1..N")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t = time.time()
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t
        if out.returncode != 0:
            print(f"seed {seed}: run failed (exit {out.returncode})")
            return 1
        *_, facts, last = out.stdout.strip().splitlines()
        res = json.loads(last)
        facts = json.loads(facts)
        ops = {
            f"{k}{suffix}": [round(x, 2) for x in v]
            for key, suffix in (("op_s", ""), ("op_cpu_s", "_cpu"))
            for k, v in facts[key].items() if v
        }
        print(f"seed {seed}: {wall:.0f} s, correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
              + f" ops={ops}", flush=True)
        if not res["correct"]:
            return 1
        for k, v in res["metrics"].items():
            values[k].append(v["value"])

    steady = True
    for m in spec["end_to_end"]:
        s = spread(values[m["name"]])
        ok = m["name"] == "setup_s" or s < m["bound"] / 3
        steady &= ok
        print(f"{m['name']}: median {statistics.median(values[m['name']]):.4g} {m['unit']}, "
              f"spread {s:.3f} (bound {m['bound']}) {'ok' if ok else 'NOT STEADY'}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
