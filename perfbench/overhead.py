"""Tracing overhead: one untraced and one traced run of the same workload
and seed; prints both job_cpu_s readings and their difference.

    python3 perfbench/overhead.py --workload graph --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def job_cpu_s(workload: str, seed: int, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "10", "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return metrics["trace.job_cpu_s" if trace else "job_cpu_s"]["value"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    off = job_cpu_s(args.workload, args.seed, 0)
    on = job_cpu_s(args.workload, args.seed, 1)
    print(json.dumps({"job_cpu_s": off, "trace.job_cpu_s": on,
                      "overhead_s": on - off, "overhead_share": on / off - 1}))


if __name__ == "__main__":
    main()
