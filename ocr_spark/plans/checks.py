"""Physical-plan shape assertions — the engine's "is Catalyst doing what we
designed for" guardrails (SURVEY.md §4).

These are used by tests and by bench tooling to keep the plans honest as
the code evolves: extraction must stay a single narrow stage (no Exchange),
dim joins must broadcast, scans must push filters and prune columns.
`.explain()` is a debugging aid; these make the expected shapes executable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def assert_no_exchange(df: DataFrame, context: str = "") -> None:
    """The zero-shuffle invariant for per-document kernels (SURVEY.md §7.1:
    'one row = one document … zero shuffle')."""
    plan = physical_plan(df)
    assert "Exchange" not in plan, (
        f"unexpected shuffle in {context or 'plan'}:\n{plan}"
    )


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count; AQE reuse lines excluded."""
    return sum(
        1
        for line in physical_plan(df).splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )


def assert_broadcast_join(df: DataFrame, context: str = "") -> None:
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"no broadcast join in {context or 'plan'}:\n{plan}"
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node(s)."""
    return "\n".join(
        line for line in physical_plan(df).splitlines() if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    """The full read schema of each file scan — column-pruning witness.
    Taken from the scan nodes themselves: the plan string cuts ReadSchema
    at ``spark.sql.maxMetadataStringLength`` (100 chars by default), which
    would hide a column that was not pruned."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = (leaves.apply(i) for i in range(leaves.size()))
    return "\n".join(
        s.requiredSchema().catalogString()
        for s in scans
        if s.getClass().getSimpleName() == "FileSourceScanExec"
    )


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    pf = pushed_filters(df)
    assert fragment in pf, f"filter '{fragment}' not pushed; scans:\n{pf}"


def assert_column_pruned(df: DataFrame, column: str) -> None:
    rs = read_schema(df)
    assert column not in rs, f"column '{column}' not pruned from scan:\n{rs}"


def wholestage_codegen_ids(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans — wider is better (more of the
    plan fused into generated JVM code)."""
    import re

    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", physical_plan(df))))
