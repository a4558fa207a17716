"""Self-test: a deliberately wrong expectation must lower ``success_frac``.

Runs each workload twice, once as is and once with
``--wrong-expectation`` (one expected checksum, and one expected query result,
made wrong on purpose), and checks that the first run is correct with
``success_frac`` 1.0 and the second is not.

    python3 perfbench/selftest.py [--seed N] [--seconds S]

Run it from the repository root; it exits non-zero on the first mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, wrong: bool) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    if wrong:
        cmd.append("--wrong-expectation")
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)  # BENCHMARK.json's run_seconds
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    for w in WORKLOADS:
        good = run(w, args.seed, args.seconds, wrong=False)
        bad = run(w, args.seed, args.seconds, wrong=True)
        g, b = good["metrics"]["success_frac"]["value"], bad["metrics"]["success_frac"]["value"]
        print(f"{w}: success_frac {g} as is, {b} with a wrong expectation")
        if not (good["correct"] and g == 1.0 and not bad["correct"] and b < 1.0):
            print(f"FAIL: {w}: a wrong expectation did not lower success_frac", file=sys.stderr)
            return 1
    print("ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
