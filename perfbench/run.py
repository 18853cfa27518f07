"""Benchmark entry point.

    python3 perfbench/run.py --workload {interactive,batch_x30,stream_ingest}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds its inputs from the seed under
``.perfbench/`` in the checkout, runs the workload against the
``stellarsql_spark`` package found there, checks every output against
DuckDB, and prints a readable summary followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` (a separate
run with Spark's event log on) they are the per-layer metrics. Full
detail (host stamp, checks, per-op times, spans) goes to
``.perfbench/results/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("interactive", "batch_x30", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in ("stellarsql_spark/__init__.py", "tools/check_oracle.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout of the engine; missing {missing}", file=sys.stderr)
        return 2
    sys.path[0] = root  # import the package, not this directory's modules

    from perfbench.harness import Bench
    from perfbench.workloads import WORKLOADS

    b = Bench(root, args.workload, args.seed, args.seconds, bool(args.trace), T0)
    try:
        result = WORKLOADS[args.workload](b)
    finally:
        b.stop_session()
    print(summary(b, result))
    print(json.dumps(result))
    return 0


def summary(b, result: dict) -> str:
    from perfbench.harness import UNITS

    tail = b.notes.get("tail", {})
    parts = [f"{m}={v['value']:.6g} {v['unit']}" for m, v in result["metrics"].items()]
    if not b.trace:  # the traced run's metrics already hold traced.op_p50_ms and traced.op_tail_ms
        parts += [f"{m}={v:.6g} {UNITS[m]}" for m, v in b.notes["op_stats"].items()]
    share = result["failed"] / result["attempted"]
    return (
        f"perfbench {b.workload} seed={b.seed} trace={int(b.trace)}: "
        f"failed_share={share:.4g} ({result['failed']}/{result['attempted']}); "
        f"tail=p{tail.get('percentile')} of {tail.get('samples')} ({tail.get('beyond')} beyond); "
        + "; ".join(parts)
        + f"; detail={b.notes.get('detail_file')}"
    )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
