"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/baseline.py --workloads lake_dml analyst_queries \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--set-b 11 12 ... 20] \
        [--trace 0] [--seconds 10] [--out runs.jsonl]

Runs are sequential (each owns the machine's cores). For every workload
and metric it prints the median and the spread, the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median, and the median wall time of a run. With ``--set-b``
the runs of the two seed sets alternate seed by seed, so drift of the
host's speed falls on both sets alike, and each metric is printed for
both sets with the ratio of their medians. ``--out`` appends every raw
result as one JSON line.
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


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def run_once(w: str, seed: int, args) -> tuple[dict | None, float]:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
         "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
        capture_output=True, text=True,
    )
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
        return None, wall
    res = json.loads(lines[-1])
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall, **res}) + "\n")
    return res, wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--set-b", nargs="+", type=int, default=[])
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    sets = [args.seeds] + ([args.set_b] if args.set_b else [])
    failed = 0
    for w in args.workloads:
        values: list[dict[str, list[float]]] = [{} for _ in sets]
        walls: list[float] = []
        for i in range(max(map(len, sets))):
            for vals, seeds in zip(values, sets):
                if i >= len(seeds):
                    continue
                res, wall = run_once(w, seeds[i], args)
                walls.append(wall)
                if res is None or not res["correct"]:
                    failed += 1
                if res is None:
                    continue
                for k, v in res["metrics"].items():
                    vals.setdefault(k, []).append(v["value"])
        print(f"{w}: median wall {statistics.median(walls):.1f} s per run", flush=True)
        for k in values[0]:
            cols = []
            for vals in values:
                vs = vals.get(k, [])
                if len(vs) >= 2:
                    cols.append(f"median {statistics.median(vs):.5g}  "
                                f"spread {spread(vs):.3f}  n={len(vs)}")
            line = f"{w:18s} {k:45s} " + "  |  ".join(cols)
            if len(values) == 2 and len(values[1].get(k, [])) >= 2:
                a, b = (statistics.median(v[k]) for v in values)
                line += f"  |  b/a {b / a:.3f}" if a else ""
            print(line, flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
