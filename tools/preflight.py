"""Round preflight: certify what the driver is about to check.

One command that runs, in order:
  0. the stamp-freshness audit (no Spark, instant): verifies the
     oldest-first rotation invariant — after the upcoming driver
     window lands, no key's latest driver stamp may be older than
     the provable rotation bound of ceil(n_keys / window) rounds
     behind the newest CORRECTNESS file.  (A tighter "nothing >4
     rounds old" bar is structurally impossible at ~258 keys × ~50
     driver stamps/round — the steady-state bound is 6; the audit
     prints the >4-rounds-old count so the trajectory stays visible.)
     Also fails if any _RESTAMP key is missing from the window.
  1. the exact upcoming driver window (first 50 keys of
     driver_key_order) through the local oracle gate at sf0.01 —
     any red here becomes a driver red;
  2. the vanilla-session driver contract (entry + a spot-check that
     every queries() callable builds against a conf-less session);
  3. a bench smoke at sf0.01 with the scale probe off (~40 s); its
     last stdout line must parse as JSON and fit in 2000 chars;
  4. the whole-registry 1part plan gate (~2 min, plan compile only):
     any query whose `Exchange SinglePartition` count exceeds its
     allowlisted bounded-intermediate entry (tools/
     onepart_allowlist.json) — or a new query with any such exchange
     and no entry — fails the preflight (r9 VERDICT #6).

Usage:
    python tools/preflight.py [--window 50] [--sf /root/testdata/sf0.01]

Exit code 0 = everything the driver will look at first is green.
Full-surface certification is still `python tools/check_oracle.py`
(~12 min at sf0.01); run it after oracle or operator changes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def stamp_audit(window_size: int = 50) -> tuple[list[str], list[str], int]:
    """Rotation-invariant check (pure, no Spark): simulate the upcoming
    ``window_size``-key driver window landing as the next round and
    return (bound_violations, restamp_keys_outside_window,
    n_stamps_older_than_4_rounds_post_window).  The enforceable bound
    is ceil(n_keys / window) rounds — strict oldest-first rotation
    cannot do better, and driver_key_order() implements exactly that,
    so a violation means the ordering regressed (tested in
    tests/test_round8.py)."""
    import math

    from stellarsql_spark.registry import (
        _RESTAMP,
        _driver_stamp_rounds,
        all_specs,
        driver_key_order,
    )

    window = set(driver_key_order()[:window_size])
    stamps = _driver_stamp_rounds()
    specs = all_specs()
    latest = max(stamps.values(), default=0)
    bound = math.ceil(len(specs) / window_size)
    missing_restamp = [k for k in _RESTAMP if k in specs and k not in window]
    after = {k: (latest + 1 if k in window else r) for k, r in stamps.items() if k in specs}
    too_old = sorted(k for k, r in after.items() if (latest + 1) - r > bound)
    aging = sum(1 for r in after.values() if (latest + 1) - r > 4)
    return too_old, missing_restamp, aging


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from stellarsql_spark.registry import driver_key_order

    window = driver_key_order()[: args.window]

    print("[0/5] stamp-freshness audit")
    too_old, missing_restamp, aging = stamp_audit(args.window)
    print(
        f"  post-window: {aging} stamps >4 rounds old; "
        f"bound-violating: {len(too_old)}; restamp outside window: {len(missing_restamp)}"
    )
    if missing_restamp:
        print(f"PREFLIGHT FAILED: _RESTAMP keys outside the driver window: {missing_restamp}")
        return 1
    if too_old:
        print(f"PREFLIGHT FAILED: rotation bound violated for: {too_old[:20]}")
        return 1

    print(f"[1/5] oracle gate on the {len(window)}-key driver window at {args.sf}")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"), "--sf", args.sf, *window],
        cwd=REPO,
    )
    if r.returncode != 0:
        print("PREFLIGHT FAILED: window has reds")
        return 1

    print("[2/5] vanilla-session driver contract")
    probe = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[4]').getOrCreate()\n"
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

    print("[3/5] bench smoke (sf0.01, probe off)")
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

    print("[4/5] 1part plan gate (whole registry)")
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
