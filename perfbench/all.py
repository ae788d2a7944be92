"""Run every workload once and print each end-to-end metric with its unit.

    python3 perfbench/all.py [--seed N]

Per-layer metrics come from ``run.py --trace 1`` on one workload.

Exits non-zero if any run fails or reports an output check as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in spec["workloads"]:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
             "--seed", str(args.seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=root, capture_output=True, text=True, timeout=900,
        )
        if proc.returncode != 0:
            print(f"{w['name']}: exit code {proc.returncode}\n{proc.stderr[-2000:]}")
            ok = False
            continue
        result = json.loads(proc.stdout.splitlines()[-1])
        ok &= result["correct"]
        print(f"{w['name']}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        for name, m in result["metrics"].items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
