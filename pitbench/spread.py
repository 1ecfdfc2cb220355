"""Run the benchmark once per seed and report each metric's spread.

    python3 pitbench/spread.py --workload backfill --seeds 1-10 [--trace 1]

Prints, per metric, the median of the per-run values and the distance
between their first and third quartiles as a share of that median, the
figure the benchmark's bounds are checked against. Runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", args.seconds, "--trace", args.trace,
        ]
        out = subprocess.run(
            cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=240
        )
        if out.returncode:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        *_, host, last = out.stdout.strip().splitlines()
        res, host = json.loads(last), json.loads(host)["host"]
        print(
            f"seed {seed}: failed {res['failed']}/{res['attempted']}, "
            f"{host['total_s']:.1f} s, jobs {[round(s, 2) for s in host['job_walls_s']]} s"
            f" wall, {[round(s, 2) for s in host['job_cpu_s']]} s CPU",
            file=sys.stderr,
        )
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(json.dumps({"metric": name, "median": med, "iqr_share": share, "n": len(v)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
