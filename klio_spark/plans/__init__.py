"""Plan inspection: make physical-plan properties assertable.

The scale story (SURVEY §4) rests on Catalyst doing specific things —
filters reaching the parquet scan, dims broadcasting, projections pruning
columns, codegen covering the hot path. These helpers read the formatted
plan so tests can LOCK those properties in, instead of hoping.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_str(df)):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column sets actually read from each parquet scan (ReadSchema)."""
    cols = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan_str(df)):
        cols.append([c.split(":")[0].strip() for c in m.group(1).split(",") if c])
    return cols


def num_shuffles(df: DataFrame) -> int:
    """Count Exchange operators (formatted mode lists each as '(N) Exchange');
    broadcast exchanges are excluded — they ship dims, not the fact table."""
    # '(N) Exchange' headers are the hash/range exchanges; broadcast
    # exchanges print as '(N) BroadcastExchange' and don't match
    return len(re.findall(r"\(\d+\) Exchange\b", plan_str(df)))


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan_str(df)))


def sort_merge_join_count(df: DataFrame) -> int:
    return len(re.findall(r"SortMergeJoin", plan_str(df)))


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    pf = pushed_filters(df)
    assert any(fragment in f for f in pf), (
        f"expected a pushed filter containing {fragment!r}, got {pf}\n"
        f"{plan_str(df)[:2000]}"
    )


def assert_columns_pruned(df: DataFrame, table_cols: set[str], max_extra: int = 0) -> None:
    """Assert at least one scan reads ⊆ table_cols (projection reached it)."""
    scans = scan_columns(df)
    assert any(set(s) <= table_cols for s in scans), (
        f"no scan pruned to ⊆ {table_cols}; scans read {scans}"
    )
