"""Plan-inspection helpers: capture .explain("formatted") output and assert
the physical properties the 100 TB design depends on (pruned schemas,
broadcast joins, whole-stage codegen spans; pushed filters are read from
``formatted_plan``).

Used by tests/test_plans.py and scripts/dump_plans.py (PLANS.md).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def read_schemas(df: DataFrame) -> list:
    """Top-level column sets of every ReadSchema line in the plan."""
    out = []
    for ln in formatted_plan(df).splitlines():
        if "ReadSchema:" in ln:
            schema = ln.split("ReadSchema:", 1)[1].strip()
            inner = schema[len("struct<"):-1] if schema.startswith("struct<") else schema
            cols, depth, cur = [], 0, ""
            for ch in inner:
                if ch == "," and depth == 0:
                    cols.append(cur); cur = ""
                else:
                    if ch in "<([":
                        depth += 1
                    elif ch in ">)]":
                        depth -= 1
                    cur += ch
            if cur:
                cols.append(cur)
            out.append({c.split(":")[0].strip() for c in cols if c.strip()})
    return out


def assert_column_pruned(df: DataFrame, allowed: set) -> None:
    """Every scan in the plan reads a subset of `allowed` columns."""
    schemas = read_schemas(df)
    assert schemas, "no ReadSchema lines found"
    for s in schemas:
        assert s <= allowed, f"scan reads {s - allowed} beyond {allowed}"


def executed_plan(df: DataFrame) -> str:
    """Final physical plan AFTER execution (AQE's formatted pre-plan hides
    WholeStageCodegen spans until subqueries are finalized)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def count_codegen_spans(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans in the executed plan (rendered as
    ``*(N)`` operator prefixes)."""
    import re

    return len(set(re.findall(r"\*\((\d+)\)", executed_plan(df))))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)
