"""Physical-plan audit helpers.

`.explain("formatted")` is the feedback loop for scale work: a query is not
done when it returns the right rows but when its plan is the plan you'd
ship — filters in `PushedFilters`, projection in `ReadSchema`, the right
join algorithm, no stray exchanges.  These helpers parse the formatted plan
so audits run as tests (tests/test_plans.py) and as a CLI
(tools/plan_audit_report.py), not as eyeballing.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def node_names(df: DataFrame) -> list[str]:
    """Operator names in plan order, e.g. ['Scan parquet', 'Filter', ...]."""
    out = []
    for line in formatted_plan(df).splitlines():
        m = re.match(r"\s*\(\d+\)\s+([A-Za-z ]+?)(?:\s+\[codegen id : \d+\])?\s*$", line)
        if m:
            out.append(m.group(1).strip())
    return out


def scan_info(df: DataFrame) -> list[dict[str, str]]:
    """Per parquet scan: pushed filters + read schema."""
    plan = formatted_plan(df)
    scans: list[dict[str, str]] = []
    cur: dict[str, str] | None = None
    for line in plan.splitlines():
        s = line.strip()
        if re.match(r"\(\d+\) Scan parquet", s):
            cur = {}
            scans.append(cur)
        elif cur is not None and s.startswith("PushedFilters:"):
            cur["pushed_filters"] = s.removeprefix("PushedFilters:").strip()
        elif cur is not None and s.startswith("ReadSchema:"):
            cur["read_schema"] = s.removeprefix("ReadSchema:").strip()
    return scans


def join_algorithms(df: DataFrame) -> list[str]:
    """Join operator names in the plan (BroadcastHashJoin / SortMergeJoin /
    ShuffledHashJoin / BroadcastNestedLoopJoin)."""
    return [n for n in node_names(df) if "Join" in n]


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count — every Exchange is a full network rewrite of its
    input at scale; audits pin an upper bound per query."""
    return sum(1 for n in node_names(df) if n == "Exchange")


def codegen_span_count(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen regions (fewer = wider fused
    spans).  Formatted plans tag member operators with `[codegen id : N]`."""
    return len(set(re.findall(r"\[codegen id : (\d+)\]", formatted_plan(df))))
