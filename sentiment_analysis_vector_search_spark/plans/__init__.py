"""Physical-plan introspection helpers.

These exist so tests can assert the *shape* of the plan, not just the
result: dimension joins stay broadcast, filters/projections reach the
parquet scan, global top-k compiles to TakeOrderedAndProject, and hot
paths stay inside whole-stage codegen. A correct answer computed through
a bad plan (single-partition window, cross join, full-column scan) is a
failure at 100 TB even when the sf0.01 values match — the plan tests are
the scale gate the value-parity oracle can't provide.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    """Capture ``df.explain(mode)`` output as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def count_in_plan(df: DataFrame, needle: str, mode: str = "formatted") -> int:
    return plan_str(df, mode).count(needle)


def assert_in_plan(df: DataFrame, *needles: str, mode: str = "formatted") -> None:
    plan = plan_str(df, mode)
    missing = [n for n in needles if n not in plan]
    assert not missing, f"plan missing {missing}:\n{plan}"


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema lines from every parquet scan in the plan (column pruning)."""
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in plan_str(df).splitlines()
        if "ReadSchema:" in line
    ]


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lines from every parquet scan (predicate pushdown)."""
    return [
        line.split("PushedFilters:", 1)[1].strip()
        for line in plan_str(df).splitlines()
        if "PushedFilters:" in line
    ]


def lint_plan(df: DataFrame) -> list[str]:
    """Repo-wide anti-pattern lint over a physical plan (r7).

    Flags the scale-killers the per-query plan tests check individually,
    so a SWEEP can assert them for EVERY registered query at once:

    - ``cartesian``: a CartesianProduct node — an unbounded n x m join
      (broadcast nested-loop scalar crossJoins do NOT trip this).
    - ``row-python-udf``: BatchEvalPython — row-at-a-time Python in the
      plan; Arrow paths (ArrowEvalPython, mapInPandas/FlatMap*Pandas)
      are allowed by design.
    """
    plan = plan_str(df)
    violations = []
    if "CartesianProduct" in plan:
        violations.append("cartesian")
    if "BatchEvalPython" in plan:
        violations.append("row-python-udf")
    return violations
