"""Smoke test of the benchmark: every workload once at tiny size, traced.

That includes ``pipeline_refresh``, which ``BENCHMARK.json`` does not list.

Run from the repository root:

    python3 perfbench/smoke.py

Each workload must exit 0, report ``correct: true`` with at least one
attempted op and no failed one, and print every per-layer metric that
``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = {m["name"] for m in spec["per_layer"]}
    bad = []
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
               "--seed", "3", "--seconds", "1", "--trace", "1", "--size", "tiny"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        missing = per_layer - set(result.get("metrics", {}))
        ok = (proc.returncode == 0 and result.get("correct") is True
              and result.get("attempted", 0) >= 1 and result.get("failed") == 0
              and not missing)
        print(f"{wl}: {'ok' if ok else 'FAILED'} "
              f"(exit {proc.returncode}, {result.get('attempted')} ops, "
              f"{len(missing)} per-layer metrics missing)")
        if not ok:
            bad.append(wl)
            sys.stderr.write(proc.stderr[-4000:])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
