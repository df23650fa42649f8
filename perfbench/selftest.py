#!/usr/bin/env python3
"""Planted-fault self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py            # from the repository root

1. The checker accepts the reference's own marker table and rejects each
   planted fault (U off by one, p and lfc off by a relative 1e-6, a
   missing row) on both workload shapes.
2. A benchmark run with --plant-fault, where every timed op returns a U
   off by one, must report correct=false and a non-zero failure count.
"""

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import reference  # noqa: E402


def main():
    ok = True
    for workload in inputs.SHAPES:
        missed = reference.self_test(reference.compute(inputs.make(workload, 7)))
        print(f"checker on {workload}: missed {missed or 'nothing'}")
        ok &= not missed

    workload = next(iter(inputs.SHAPES))
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", "0", "--plant-fault"],
                       cwd=HERE.parent, stdout=subprocess.PIPE, text=True)
    result = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else None
    caught = bool(result) and not result["correct"] and result["failed"] > 0
    print(f"planted fault end to end: exit {r.returncode}, "
          f"failed {result and result['failed']} of {result and result['attempted']}")
    ok &= caught
    print("selftest", "passed" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
