"""Physical-plan audit: structural statistics from an executed plan.

``plan_stats(df)`` distills ``df.explain("formatted")`` into the counts
that matter for the 100 TB question — how many shuffles, which join
strategies, whether filters reached the scan, whether any Python
evaluation interrupts whole-stage codegen. The plan-guard tests assert
on these; users call it interactively the way they'd eyeball
``.explain`` output.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- iterative-query visibility ----------------------------------------------
#
# ``localCheckpoint`` severs lineage: the audited plan of an iterative
# query (connected components, PageRank, BPE) is only the final stub —
# "no shuffles" reported for some of the most shuffle-expensive queries
# in the catalog. The fix: iterative operators checkpoint through
# ``checkpoint_audited``, which feeds each pre-checkpoint plan to any
# ACTIVE collector before severing. With no collector active (normal
# query execution) the extra cost is one falsy check.

_ITER_COLLECTORS: list[list] = []


def record_iteration_plan(df: DataFrame) -> None:
    """Feed ``df``'s physical plan to active audit collectors. Call
    immediately BEFORE a lineage-severing materialization. No-op (one
    list check) outside an audit."""
    if not _ITER_COLLECTORS:
        return
    stats = plan_stats(df)
    for c in _ITER_COLLECTORS:
        c.append(stats)


def checkpoint_audited(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` that first records the pre-checkpoint plan for
    the audit — the drop-in form iterative operators use so their
    per-round shuffles stay visible to ``audit_catalog``. ``eager=False``
    defers materialization to the next action, so a loop that checkpoints
    and immediately aggregates pays one job instead of two."""
    record_iteration_plan(df)
    return df.localCheckpoint(eager=eager)


@contextmanager
def collecting_iteration_plans():
    """Collect every ``checkpoint_audited`` plan built in the body."""
    c: list[dict] = []
    _ITER_COLLECTORS.append(c)
    try:
        yield c
    finally:
        _ITER_COLLECTORS.remove(c)


def merge_iteration_stats(final: dict, iterations: list[dict]) -> dict:
    """Sum the final plan's counts with every recorded iteration's —
    the whole-query cost a checkpoint-blind audit under-reports. Adds
    ``iteration_plans`` (how many severed plans were folded in)."""
    if not iterations:
        return final
    out = dict(final)
    for s in iterations:
        for k, v in s.items():
            if isinstance(v, bool):
                continue
            if isinstance(v, int):
                out[k] = out.get(k, 0) + v
            elif isinstance(v, list):
                out[k] = out.get(k, []) + v
    out["iteration_plans"] = len(iterations)
    return out


def _no_expr_ids(s: str) -> str:
    """``s`` without expression ids (``#123``): they differ on every
    planning, so a regenerated audit then diffs only what changed."""
    return re.sub(r"#\d+", "", s)


def plan_stats(df: DataFrame) -> dict[str, Any]:
    """Structural counts for a DataFrame's physical plan."""
    plan = _plan_string(df)
    scans = re.findall(r"FileScan \w+ \[([^\]]*)\]", plan)
    # WITH RECURSIVE bodies print inside UnionLoop as logical
    # "Relation [cols] parquet" nodes (executed lazily per iteration) —
    # without counting them the audit reports the catalog's recursive
    # query as scanless, the checkpoint-blindness signature
    scans += re.findall(r"Relation \[([^\]]*)\] parquet", plan)
    # the lakehouse catalog queries read through the Python DSv2 reader
    # (the mandoline record-table datasource): those scans print as
    # "BatchScan <name>" / "PythonScan", not FileScan — count them too,
    # or every lake_* query looks scanless to the audit
    scans += [
        f"python-dsv2:{m}"
        for m in re.findall(r"BatchScan (\w+)", plan)
    ]
    # the tree string truncates long filter lists mid-entry ("...,"),
    # so capture up to the closing bracket OR the truncation marker
    pushed = re.findall(r"PushedFilters: \[(.*?)(?:\]|\.\.\.)", plan)
    return {
        "shuffle_exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange RoundRobinPartitioning"),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin"),
        "cartesian_products": plan.count("CartesianProduct"),
        "sorts": plan.count("Sort "),
        "window_ops": plan.count("Window"),
        "python_evals": plan.count("BatchEvalPython")
        + plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas"),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "file_scans": len(scans),
        "scan_columns": [_no_expr_ids(s) for s in scans],
        "pushed_filters": [_no_expr_ids(p) for p in pushed if p],
        "take_ordered": plan.count("TakeOrderedAndProject"),
    }


def audit_catalog(spark, sf_dir: str, names: list[str] | None = None) -> list[dict]:
    """Run ``plan_stats`` across catalog queries (all oracle-backed ones
    by default); returns one dict per query, name included — the
    machine-readable twin of PERFORMANCE.md's plan-audit table."""
    from mandoline_hbase_spark.queries.catalog import QUERIES

    picked = names or [n for n, q in QUERIES.items() if q.oracle is not None]
    out = []
    for name in picked:
        # the collector wraps the BUILD: iterative queries execute their
        # checkpointed rounds while fn() runs, and each pre-checkpoint
        # plan lands here instead of vanishing behind the severed lineage
        with collecting_iteration_plans() as iters:
            df = QUERIES[name].fn(spark, sf_dir)
        stats = merge_iteration_stats(plan_stats(df), iters)
        stats["query"] = name
        out.append(stats)
        spark.catalog.clearCache()
    return out
