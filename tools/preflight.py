"""Preflight: the contract, correctness and bench checks in one command.

Runs, in order:
  1. the oracle gate (tools/check_oracle.py) over every registry key
     at ``--sf`` (Tier-1 runs the same per-key check at sf0.001);
  2. the vanilla-session driver contract (entry + a spot-check that
     every queries() callable builds against a conf-less session);
  3. a bench smoke at ``--sf`` with the scale probe off (~40 s); its
     last stdout line must parse as JSON and fit in 2000 chars;
  4. the whole-registry 1part plan gate (~2 min, plan compile only):
     any query whose `Exchange SinglePartition` count exceeds its
     allowlisted bounded-intermediate entry (tools/
     onepart_allowlist.json) — or a new query with any such exchange
     and no entry — fails the preflight (r9 VERDICT #6).

Usage:
    python tools/preflight.py [--sf SF_DIR]    # default: the sf0.01 test corpus

Exit code 0 = everything the driver will look at first is green.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    print(f"[1/4] oracle gate on every registry key at {args.sf}")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"), "--sf", args.sf],
        cwd=REPO,
    )
    if r.returncode != 0:
        print("PREFLIGHT FAILED: oracle gate has reds")
        return 1

    print("[2/4] vanilla-session entry contract")
    probe = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "from stellarsql_spark.session import DEFAULT_CPUS\n"
        "spark = SparkSession.builder.master(f'local[{DEFAULT_CPUS}]').getOrCreate()\n"
        "import __spark_entry__ as m\n"
        "rows = m.entry(spark).collect()\n"
        "assert rows, 'entry returned no rows'\n"
        "qs, osql = m.queries(), m.oracle_sql()\n"
        "assert set(osql) <= set(qs)\n"
        "print(f'entry rows: {len(rows)}; {len(qs)} queries, {len(osql)} oracles')\n"
    ) % REPO
    r = subprocess.run([sys.executable, "-c", probe], cwd=REPO)
    if r.returncode != 0:
        print("PREFLIGHT FAILED: driver contract broke on a vanilla session")
        return 1

    print(f"[3/4] bench smoke ({args.sf}, probe off)")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=args.sf, SPARK_GRAFT_SCALE_PROBE="0")
    r = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")], cwd=REPO,
                       env=env, stdout=subprocess.PIPE, text=True)
    print(r.stdout, end="")
    if r.returncode != 0:
        print("PREFLIGHT FAILED: bench smoke")
        return 1
    # The driver keeps the last 2000 chars of stdout and parses the JSON
    # there: the last line must parse and fit the window on its own.
    last = (r.stdout.strip().splitlines() or [""])[-1]
    try:
        json.loads(last)
    except ValueError:
        print("PREFLIGHT FAILED: bench's last stdout line is not JSON")
        return 1
    if len(last) > 2000:
        print(f"PREFLIGHT FAILED: bench's last stdout line is {len(last)} chars (> 2000)")
        return 1

    print("[4/4] 1part plan gate (whole registry)")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "plan_audit.py"), "--sf", args.sf],
        cwd=REPO,
    )
    if r.returncode != 0:
        print("PREFLIGHT FAILED: plan audit flags (ONEPART/CARTESIAN/ROW_PYTHON)")
        return 1

    print("PREFLIGHT GREEN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
