#!/usr/bin/env python3
"""Prove the benchmark's output gate is live.

For each workload (default: all), a clean run must exit 0 with no failed
operation, and a run with one corrupted expected value (``--corrupt-expected``)
must exit non-zero with ``failed > 0``. Run from the repository root:

    python3 perfbench/selftest.py [workload ...]
"""
import json
import subprocess
import sys

import run


def result(workload, *extra):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
                        "--seconds", "1", "--trace", "0", *extra], capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None


def main():
    ok = True
    for w in sys.argv[1:] or sorted(run.WORKLOADS):
        rc, res = result(w)
        clean = rc == 0 and res is not None and res["correct"] and res["failed"] == 0
        rc2, res2 = result(w, "--corrupt-expected")
        caught = rc2 != 0 and res2 is not None and not res2["correct"] and res2["failed"] > 0
        print(f"{w}: clean run {'ok' if clean else f'FAILED (exit {rc}, {res})'}; "
              f"corrupted run {'caught' if caught else f'NOT CAUGHT (exit {rc2}, {res2})'}")
        ok &= clean and caught
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
