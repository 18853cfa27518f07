"""Physical-plan audit across the whole registry (SURVEY.md §4).

For every registered query, compile the plan at the given SF and
count the operators that matter at 100 TB:

- Exchange (shuffles), and whether AQE can coalesce them
- join strategies (BroadcastHashJoin vs SortMergeJoin vs
  BroadcastNestedLoopJoin vs CartesianProduct)
- Python boundaries (BatchEvalPython = row-at-a-time UDF — the slow
  path; ArrowEvalPython / MapInPandas = vectorized)
- WholeStageCodegen spans and PushedFilters presence

Red flags (printed last, non-zero exit if any):
- CartesianProduct anywhere (never acceptable on fact tables)
- BatchEvalPython outside the explicitly-declared row-UDF parity op
- a scan with zero PushedFilters in a query that filters a base table

Usage: python tools/plan_audit.py [--sf DIR] [--write-md PLANS.md]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stellarsql_spark.registry import all_specs  # noqa: E402
from stellarsql_spark.session import get_spark  # noqa: E402

# row-at-a-time python is *declared* here and nowhere else
ROW_UDF_ALLOWED = {"b_udf_scalar"}

import json  # noqa: E402

_ALLOWLIST_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "onepart_allowlist.json")


def onepart_allowlist() -> dict:
    """Per-query allowlisted `Exchange SinglePartition` count with a
    one-word reason (r9 VERDICT #6).  Every entry is a BOUNDED or
    SUBLINEAR intermediate (npart = the two-pass prefix's offset
    window over partition totals; days/weeks/groups/vocab/percol =
    the window input's cardinality class; scalar = a 1-row final
    reduce).  A query whose count EXCEEDS its entry — or a new query
    with any SinglePartition exchange and no entry — is flagged
    ONEPART and fails the audit: that is how a data-sized global
    window (the classic Spark scale-killer) surfaces as a hard red
    instead of a prose claim."""
    with open(_ALLOWLIST_PATH) as f:
        return json.load(f)


def onepart_violation(name: str, single: int, allow: dict) -> str | None:
    """Return a flag string if `single` exceeds the allowlisted count
    (or the key has no entry), else None.  Shared by the audit CLI,
    preflight, and the regression test."""
    if single <= 0:
        return None
    entry = allow.get(name)
    if entry is None:
        return f"ONEPART(new:{single})"
    if single > entry["n"]:
        return f"ONEPART({single}>{entry['n']}:{entry['why']})"
    return None


def effective_plan_text(plan: str) -> str:
    """Drop subtree lines printed under InMemoryTableScan / ReusedExchange
    nodes: toString re-prints a cached/reused child plan at every scan
    site, but at runtime that subtree executes once — counting its
    Exchanges per scan would overstate the shuffle count."""
    out = []
    skip_indent = None
    for line in plan.splitlines():
        body = line
        indent = len(line) - len(line.lstrip(" :+-*("))
        if skip_indent is not None:
            if line.strip() and indent > skip_indent:
                continue
            skip_indent = None
        out.append(body)
        if "InMemoryTableScan" in line or "ReusedExchange" in line:
            skip_indent = indent
    return "\n".join(out)


def audit_one(name, spec, spark, sf_dir, allow=None):
    df = spec.builder(spark, sf_dir)
    plan = effective_plan_text(df._jdf.queryExecution().executedPlan().toString())
    counts = {
        "exchange": plan.count("Exchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "py_row": plan.count("BatchEvalPython"),
        "py_arrow": plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "codegen": len(re.findall(r"WholeStageCodegen", plan)),
        "pushed": plan.count("PushedFilters: ["),
        # every un-partitioned window, global sort, and scalar 1-row
        # final reduce funnels through one of these; SCALE.md round-9
        # lists which window inputs are bounded.  A new data-sized
        # window shows up here as a reviewable diff.
        "single": plan.count("Exchange SinglePartition"),
    }
    flags = []
    if counts["cartesian"]:
        flags.append("CARTESIAN")
    if counts["py_row"] and name not in ROW_UDF_ALLOWED:
        flags.append("ROW_PYTHON")
    if allow is not None:
        v = onepart_violation(name, counts["single"], allow)
        if v:
            flags.append(v)
    return counts, flags


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--write-md", default=None)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    specs = all_specs()
    keys = args.keys or sorted(specs)
    spark = get_spark("plan_audit")
    allow = onepart_allowlist()

    lines = ["| query | exchanges | 1part | why | BHJ | SMJ | BNLJ | py(arrow) | codegen | flags |",
             "|---|---|---|---|---|---|---|---|---|---|"]
    any_flag = False
    skipped: list[str] = []
    for name in keys:
        try:
            counts, flags = audit_one(name, specs[name], spark, args.sf, allow=allow)
        except Exception as e:
            # a registered key that fails to even COMPILE is a red, not
            # a silent skip — otherwise a plan-build-time crash escapes
            # both the ONEPART gate and preflight (r10 ADVICE, medium)
            print(f"SKIP {name}: {str(e)[:100]}")
            skipped.append(name)
            continue
        if flags:
            any_flag = True
            print(f"FLAG {name}: {','.join(flags)}")
        why = allow.get(name, {}).get("why", "-") if counts["single"] else "-"
        lines.append(
            f"| {name} | {counts['exchange']} | {counts['single']} | {why} | {counts['bhj']} | {counts['smj']} "
            f"| {counts['bnlj']} | {counts['py_arrow']} | {counts['codegen']} "
            f"| {','.join(flags) or '-'} |"
        )
    if args.write_md:
        with open(args.write_md, "w") as f:
            f.write(
                "# PLANS — physical-plan audit (generated by tools/plan_audit.py)\n\n"
                f"Compiled at `{args.sf}`. Columns: shuffle Exchanges, 1part\n"
                "(Exchange SinglePartition count — every un-partitioned window,\n"
                "global sort, and scalar 1-row final reduce funnels through\n"
                "one; the final reduces are map-side-partial first), why\n"
                "(the allowlisted one-word bounded-intermediate reason from\n"
                "tools/onepart_allowlist.json — npart = the two-pass\n"
                "prefix's offset window over partition totals; days/weeks/\n"
                "groups/vocab/percol = the window input's cardinality\n"
                "class; scalar = a 1-row final reduce.  A count ABOVE the\n"
                "allowlisted value, or any SinglePartition exchange on an\n"
                "unlisted key, is a hard ONEPART flag: the audit and\n"
                "preflight exit non-zero, so a new data-sized global\n"
                "window is a gate red, not a reviewable diff),\n"
                "join strategies (broadcast-hash /\n"
                "sort-merge / broadcast-nested-loop), Arrow-batched Python\n"
                "ops, WholeStageCodegen spans, red flags (CARTESIAN =\n"
                "cartesian product; ROW_PYTHON = row-at-a-time UDF outside\n"
                "the declared parity op).\n\n" + "\n".join(lines) + "\n"
            )
        print(f"wrote {args.write_md}")
    if skipped:
        print(f"BUILD-FAIL ({len(skipped)}): {', '.join(skipped)}")
    print("flags found" if any_flag or skipped else "no red flags")
    return 1 if any_flag or skipped else 0


if __name__ == "__main__":
    sys.exit(main())
