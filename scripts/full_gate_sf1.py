#!/usr/bin/env python3
"""Repeatable sf1 full-gate entry point (VERDICT r10 item 1): generate
(or reuse) the sf1-equivalent fixture via make_sf.py, then run the
complete Spark-vs-DuckDB oracle gate (check.py) against it. One
command, safe to re-run every round:

  python3 scripts/full_gate_sf1.py [--regen] [sf1Dir] [outDir]

- sf1Dir defaults to /tmp/sf1 (≈6 M lineitem rows, 10x the largest
  driver fixture). Generation is deterministic, so an existing dir is
  REUSED unless --regen is passed (regeneration costs ~2 min; the
  gate itself dominates).
- outDir defaults to /tmp/verify_sf1.
- Exit code is check.py's: 0 iff every oracle query is
  rows+schema+hash green.
"""
import os
import subprocess
import sys

args = [a for a in sys.argv[1:] if a != "--regen"]
regen = "--regen" in sys.argv[1:]
sf1 = args[0] if len(args) > 0 else "/tmp/sf1"
out = args[1] if len(args) > 1 else "/tmp/verify_sf1"
here = os.path.dirname(os.path.abspath(__file__))

if regen or not os.path.exists(os.path.join(sf1, "lineitem.parquet")):
    print(f"[full_gate_sf1] generating {sf1} (10x sf0.1, key-offset copies)")
    subprocess.run([sys.executable, os.path.join(here, "make_sf.py"),
                    sf1, "10"], check=True)
else:
    print(f"[full_gate_sf1] reusing existing {sf1}")

sys.exit(subprocess.run([sys.executable, os.path.join(here, "check.py"),
                         sf1, out]).returncode)
