#!/usr/bin/env python
"""Plan audit CLI: print the scale-relevant physical-plan facts for any
registered query — pushed filters, read schema, join algorithms, exchange
(shuffle) count, codegen spans.

    python tools/explain_audit.py j2 l3 o4          # by name prefix
    python tools/explain_audit.py --full j2_broadcast  # + formatted plan
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("patterns", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--full", action="store_true", help="print full formatted plan")
    args = ap.parse_args()

    from google_analytics_dataframes_spark.plans import audit
    from google_analytics_dataframes_spark.registry import registry
    from google_analytics_dataframes_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    reg = registry()
    names = [
        n
        for n in sorted(reg)
        if (not args.patterns or any(n.startswith(p) for p in args.patterns))
    ]
    for name in names:
        df = reg[name].fn(spark, args.sf)
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
        if args.full:
            print(audit.formatted_plan(df))


if __name__ == "__main__":
    main()
