#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Runs every workload once with ``--plant-fault 1``, which drops or alters
one row of each observed result before it is compared, and expects each
run to report ``"correct": false`` with at least one failed op:

    python3 cfsbench/selftest.py [--seconds 1]

Exits 0 when every planted fault was reported, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seconds", type=float, default=1.0)
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    ok = True
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "1",
             "--seconds", str(args.seconds), "--trace", "0", "--plant-fault", "1"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        caught = result is not None and result["correct"] is False and result["failed"] >= 1
        ok &= caught
        print(f"{wl}: planted fault {'reported' if caught else 'NOT reported'}"
              f" (exit {proc.returncode}, result {result and {k: result[k] for k in ('correct', 'attempted', 'failed')}})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
