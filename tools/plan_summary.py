"""Generate PLANS.md: a physical-plan summary for every registered query.

For each queries() entry: exchange (shuffle) count, broadcast joins,
sort-merge joins, whether parquet pushdown/pruning reached the scan, and
Python-boundary operators. The compact evidence that every plan is the plan
we want — run after operator changes:

    python tools/plan_summary.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_schema_spark.session import get_spark  # noqa: E402


_EX_RE = re.compile(r"Exchange (hash|range|RoundRobin)[Pp]artitioning")


def count_executed_exchanges(plan: str) -> int:
    """Count exchanges that actually execute: a persisted subtree is printed
    once per InMemoryTableScan reference (with fresh expression ids), but its
    exchanges run only at first materialization — count each distinct cached
    body once, everything outside caches normally."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        m = re.match(r"^[\s:|+\-]*", line)
        return len(m.group(0))

    def walk(block: list[str], seen: set[str]) -> int:
        n = 0
        i = 0
        while i < len(block):
            line = block[i]
            if "InMemoryRelation" in line:
                d = depth(line)
                j = i + 1
                body = []
                while j < len(block) and depth(block[j]) > d:
                    body.append(block[j])
                    j += 1
                stripped = "\n".join(re.sub(r"^[\s:|+\-]*", "", b) for b in body)
                key = re.sub(r"\s+", " ", re.sub(r"#\d+|plan_id=\d+", "", stripped))
                if key not in seen:
                    seen.add(key)
                    # recurse so caches nested inside this body dedup too
                    n += walk(body, seen)
                i = j
            else:
                if _EX_RE.search(line):
                    n += 1
                i += 1
        return n

    return walk(lines, set())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry

    spark = get_spark("plan_summary")
    lines = [
        "# Physical-plan summary",
        "",
        f"Generated by tools/plan_summary.py at {sf_dir} "
        "(plan shapes are SF-independent; AQE may further coalesce at runtime).",
        "",
        "| query | exchanges | broadcast joins | SMJ | pushed filters | python ops |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    for name, fn in sorted(entry.queries().items()):
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover
            lines.append(f"| {name} | ERROR: {e} | | | | |")
            continue
        n_ex = count_executed_exchanges(plan)
        n_bc = len(re.findall(r"BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        py = []
        if "ArrowEvalPython" in plan or "MapInPandas" in plan:
            py.append("arrow")
        if "BatchEvalPython" in plan:
            py.append("row-udf(!)")
        lines.append(
            f"| {name} | {n_ex} | {n_bc} | {n_smj} | {pushed} | {','.join(py) or '-'} |"
        )

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines) - 6} queries)")


if __name__ == "__main__":
    main()
