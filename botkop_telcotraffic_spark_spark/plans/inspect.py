"""Physical-plan inspection helpers.

Used by tests (and during development) to assert the plans we want at
scale actually got chosen: filters pushed to the parquet scan, small
sides broadcast, expressions inside whole-stage codegen.  This is the
engine's guard-rail against silent plan regressions — the 100 TB
story is only as good as the plan Catalyst picks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_broadcast_join(df: DataFrame) -> bool:
    p = physical_plan(df)
    return "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every parquet scan in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", physical_plan(df))


def wholestage_codegen_ids(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans (more/wider = better)."""
    return len(set(re.findall(r"\*\((\d+)\)", physical_plan(df))))


def assert_no_cartesian_without_broadcast(df: DataFrame) -> None:
    p = physical_plan(df)
    if "CartesianProduct" in p:
        raise AssertionError(
            "CartesianProduct in plan — expected a broadcast strategy:\n" + p
        )


def audit(df: DataFrame) -> dict:
    """One-call plan health report — the structured form of the
    checklist every operator in this engine is reviewed against
    before it is trusted at 100 TB.  Returns a dict:

      * ``exchanges``: count of hash/range/single-partition shuffles
        (round-robin repartitions excluded — data-independent);
      * ``single_partition_stages``: SinglePartition exchanges (a
        value > the intended scalar/offset stages is a scale bug);
      * ``cartesian``: True if a CartesianProduct survives anywhere;
      * ``bnlj``: count of BroadcastNestedLoopJoins (fine for 1-row
        scalars / literal fence tables, a bug otherwise);
      * ``broadcast_joins`` / ``sortmerge_joins`` / ``shuffle_hash_joins``;
      * ``pushed_filters``: predicates that reached the parquet scan;
      * ``scans``: number of file scans (re-scan of the same table =
        a missed reuse);
      * ``plan``: the physical plan string for drill-down.

    Intended use: ``plans.audit(my_query_df)`` in a notebook or a CI
    assertion (`audit(df)["cartesian"] is False`).
    """
    p = physical_plan(df)
    return {
        "exchanges": len(
            re.findall(r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)", p)
        ),
        "single_partition_stages": p.count("Exchange SinglePartition"),
        "cartesian": "CartesianProduct" in p,
        "bnlj": p.count("BroadcastNestedLoopJoin"),
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sortmerge_joins": p.count("SortMergeJoin"),
        "shuffle_hash_joins": p.count("ShuffledHashJoin"),
        "pushed_filters": pushed_filters(df),
        "scans": p.count("FileScan"),
        "plan": p,
    }
