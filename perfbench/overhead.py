"""Tracing overhead: one untraced and one traced run of the same workload
and seed, and the ratio of their end-to-end figures.

    python3 perfbench/overhead.py --workload live_tail --seed 1 [--seconds 10]

The traced run reports its own commit and scan medians as
``trace.commit_p50_s`` and ``trace.scan_p50_s``; each is divided by
the untraced run's ``commit_p50_s`` and ``scan_p50_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    a = p.parse_args()
    plain = _metrics(a.workload, a.seed, a.seconds, 0)
    traced = _metrics(a.workload, a.seed, a.seconds, 1)
    print(json.dumps({
        name: {"untraced": plain[name], "traced": traced[f"trace.{name}"],
               "overhead": traced[f"trace.{name}"] / plain[name] - 1}
        for name in ("commit_p50_s", "scan_p50_s")
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
