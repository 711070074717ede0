"""Physical-plan inspection helpers: assert that the plans Catalyst produces
are the plans we want at 100 TB (pushdown reached the scan, projections
pruned, joins broadcast, codegen covers the hot path).

Used by tests/test_plans.py — the 'would this survive a 1000× scale-up'
gate that complements the value-correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    plan = formatted_plan(df)
    cols: set[str] = set()
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            for fld in inner.split(","):
                if ":" in fld:
                    cols.add(fld.split(":")[0].strip())
    return sorted(cols)


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in (
        formatted_plan(df)
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators (formatted explain lists each node once
    in the detail section as '(n) Exchange')."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


def scan_count(df: DataFrame) -> int:
    """Number of file-scan nodes (each node appears once as '(n) Scan' in
    the detail section — counting the raw substring would double-count the
    tree summary)."""
    import re

    return len(re.findall(r"^\(\d+\) Scan ", formatted_plan(df), re.MULTILINE))


def partition_filters(df: DataFrame) -> list[str]:
    """The PartitionFilters entries of every file scan in the plan —
    partition-pruning check for partitioned tables (e.g. the IVF cell
    layout: a probe must scan only its cells' directories)."""
    out = []
    for line in formatted_plan(df).splitlines():
        if "PartitionFilters:" in line:
            out.append(line.split("PartitionFilters:", 1)[1].strip())
    return out


def broadcast_subtrees(df: DataFrame) -> list[str]:
    """treeString of the BUILD side of every broadcast join in the pre-AQE
    physical plan — lets tests assert WHAT a join plans to broadcast. The
    build side is collected to the driver and shipped to every executor, so
    a fact-table scan appearing here is an OOM-shaped plan the moment the
    fact outgrows the threshold. (sparkPlan, not executedPlan: exchanges
    aren't inserted yet, so the join node's buildSide is the signal.)"""

    def walk(node, out):
        if node.nodeName() in ("BroadcastHashJoin", "BroadcastNestedLoopJoin"):
            idx = 0 if node.buildSide().toString() == "BuildLeft" else 1
            out.append(node.children().apply(idx).treeString())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), out)

    res: list[str] = []
    walk(df._jdf.queryExecution().sparkPlan(), res)  # noqa: SLF001
    return res
