#!/usr/bin/env python3
"""Proves the benchmark's output checks fire: each run plants one fault and
must come back with `failed` above 0 and `correct` false.

    python3 perfbench/selftest.py

- a wrong `changes` value on one event (cdc_backlog)
- one event dropped from the pipeline (cdc_live)
- one duplicated row in one query's output (batch_ops)
"""
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
CASES = [("cdc_backlog", "changes"), ("cdc_live", "drop"), ("batch_ops", "row")]


def main():
    ok = True
    for workload, plant in CASES:
        p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "1",
                            "--seconds", "1", "--trace", "0", "--plant", plant],
                           capture_output=True, text=True)
        if p.returncode != 0:
            print(f"FAIL {workload}/{plant}: exit {p.returncode}\n{p.stderr[-2000:]}")
            ok = False
            continue
        rec = json.loads(p.stdout.strip().splitlines()[-1])
        caught = rec["failed"] > 0 and not rec["correct"]
        print(f"{'OK  ' if caught else 'FAIL'} {workload}/{plant}: "
              f"failed {rec['failed']} of {rec['attempted']}")
        ok = ok and caught
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
