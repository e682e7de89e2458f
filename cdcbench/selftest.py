"""Harness self-test: every workload once clean and once with one injected
output mismatch, each with a short timed window. The clean run must report
``correct: true`` and ``failed == 0``; the injected run must report
``correct: false`` and ``failed > 0``.

    python3 cdcbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

SECONDS = 4


def _run(workload: str, inject: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(SECONDS), "--trace", "0"]
    if inject:
        cmd.append("--inject-mismatch")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} run failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    ok = True
    for workload in WORKLOADS:
        clean = _run(workload, inject=False)
        bad = _run(workload, inject=True)
        passed = (clean["correct"] and clean["failed"] == 0
                  and not bad["correct"] and bad["failed"] > 0)
        print(f"{workload}: clean correct={clean['correct']} failed={clean['failed']}/"
              f"{clean['attempted']}; injected correct={bad['correct']} "
              f"failed={bad['failed']}/{bad['attempted']} -> {'ok' if passed else 'FAIL'}",
              flush=True)
        ok &= passed
    print("self-test", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
