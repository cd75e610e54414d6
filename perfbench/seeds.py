"""Run the benchmark over several seeds and summarize each metric.

Usage (from the repository root):

    python3 perfbench/seeds.py --workload hotbucket --seeds 1-10 [--trace 0]

Prints one line per run and, per metric, the median over the runs and the
interquartile distance as a share of the median (the run-to-run spread a
metric's bound in BENCHMARK.json is judged against).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import median, spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    """'1-3,7' -> [1, 2, 3, 7]"""
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(ROOT / "BENCHMARK.json") as f:
        seconds = str(json.load(f)["run_seconds"])

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds,
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True)
        if proc.returncode:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        record, result = map(json.loads,
                             proc.stdout.strip().splitlines()[-2:])
        walls = " ".join(f"{w:.2f}" for w in record.get("walls_s", []))
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              f"session_s={record['session_s']:.2f} "
              f"warmup_s={record['warmup_s']:.2f} walls_s=[{walls}]",
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in sorted(values.items()):
        print(f"{name}: median {median(vs):.6g} spread {spread(vs):.4f} "
              f"(n={len(vs)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
