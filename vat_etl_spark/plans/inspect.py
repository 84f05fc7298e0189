"""Physical-plan inspection over the formatted explain output, and the
py4j round trips a block of plan construction costs."""

from __future__ import annotations

import re
from contextlib import contextmanager
from typing import Iterator

from py4j import protocol as proto
from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


class RoundTrips:
    """Running counts of py4j commands sent to the JVM: ``n`` the commands
    the block issues, ``releases`` the handle releases (py4j memory-delete
    commands) sent when Python drops collected JVM proxies."""

    n = 0
    releases = 0


# the py4j command that releases a collected JVM handle
_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


@contextmanager
def py4j_round_trips(spark: SparkSession) -> Iterator[RoundTrips]:
    """Count the py4j round trips made inside the block, from any thread:
    the commands it issues (calls and reflection lookups) in ``n``, and
    the releases of collected JVM handles in ``releases``. Releases
    depend on which earlier objects the garbage collector frees inside
    the block, so they are kept out of ``n``. Building a plan pays one
    round trip per Column sub-expression and per DataFrame call argument,
    so ``n`` is the construction layer of a query's wall."""
    client = spark.sparkContext._gateway._gateway_client
    sent = client.send_command
    counter = RoundTrips()

    def counting(command, *args, **kwargs):
        if command.startswith(_RELEASE):
            counter.releases += 1
        else:
            counter.n += 1
        return sent(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield counter
    finally:
        client.send_command = sent


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (pruning evidence)."""
    plan = formatted_plan(df)
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
        schemas.append(cols)
    return schemas


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in (
        formatted_plan(df)
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators (shuffles) in the physical plan
    (excludes BroadcastExchange, which moves dim-sized data only)."""
    plan = formatted_plan(df)
    return len(re.findall(r"\n\s*(?:\+-|:-)?\s*Exchange ", plan)) + plan.startswith("Exchange")


def _iter_plan_nodes(node):
    """Depth-first walk of a JVM SparkPlan tree, descending into
    AdaptiveSparkPlanExec/QueryStage wrappers (their physical children
    hide behind accessor methods, not ``children()``)."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _iter_plan_nodes(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _iter_plan_nodes(node.plan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _iter_plan_nodes(children.apply(i))


_LIMIT_NODE_CLASSES = {
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
}

_AGG_NODE_CLASSES = {
    "HashAggregateExec",
    "SortAggregateExec",
    "ObjectHashAggregateExec",
}


def _grouping_has_temporal_key(node) -> bool:
    """True when an aggregate node groups on a date/timestamp expression —
    the calendar-grain signature (output cardinality is the calendar, not
    the data volume)."""
    try:
        groups = node.groupingExpressions()
    except Exception:
        return False
    for i in range(groups.size()):
        if groups.apply(i).dataType().typeName() in (
            "date",
            "timestamp",
            "timestamp_ntz",
        ):
            return True
    return False


def unpartitioned_window_bound_kinds(df: DataFrame) -> list[str]:
    """For every empty-partition WindowExec in the physical plan, classify
    how its INPUT subtree is bounded — the structural form of the
    whitelist's boundedness arguments (a comment can silently rot; this
    predicate fails the build instead):

    - ``"limit"``   — a LIMIT-family node (TakeOrderedAndProject /
      Global/Local/CollectLimit) sits below the window: rank-of-top-k.
    - ``"calendar"``— an aggregate below the window groups on a
      date/timestamp key: the window walks a calendar grain whose
      cardinality is the calendar, not the data volume.
    - ``"unbounded"`` — neither: a genuine single-partition scale risk.
    """
    root = df._jdf.queryExecution().executedPlan()  # type: ignore[attr-defined]
    kinds: list[str] = []
    for node in _iter_plan_nodes(root):
        cls = node.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec") and node.partitionSpec().isEmpty():
            kinds.append(_classify_window_input(node))
    return kinds


def _classify_window_input(node) -> str:
    for child in _iter_plan_nodes(node):
        ccls = child.getClass().getSimpleName()
        if ccls in _LIMIT_NODE_CLASSES:
            return "limit"
        if ccls in _AGG_NODE_CLASSES and _grouping_has_temporal_key(child):
            return "calendar"
        if ccls == "InMemoryTableScanExec":
            # a cache substitution hides the subtree that justifies the
            # bound (e.g. the calendar-grain aggregate) — classify the
            # plan that BUILT the cached relation
            try:
                sub = _classify_window_input(child.relation().cachedPlan())
            except Exception:
                continue
            if sub != "unbounded":
                return sub
    return "unbounded"


def unpartitioned_window_count(df: DataFrame) -> int:
    """Number of WindowExec-family nodes with an EMPTY partition spec —
    the single-partition global windows that serialize at scale.
    Inspected on the JVM plan tree (``partitionSpec().isEmpty()``), not
    the formatted string: long Arguments lines truncate and
    WindowGroupLimit shares the Window prefix, so string parsing
    miscounts."""
    root = df._jdf.queryExecution().executedPlan()  # type: ignore[attr-defined]
    count = 0
    for node in _iter_plan_nodes(root):
        cls = node.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec"):
            if node.partitionSpec().isEmpty():
                count += 1
    return count
