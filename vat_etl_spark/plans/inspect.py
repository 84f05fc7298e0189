"""Physical-plan inspection over the formatted explain output and the JVM
plan tree, the structural rules every registered query's plan obeys
(``plan_violations``, enforced by ``oracle.run_all``), and the py4j round
trips a block of plan construction costs."""

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
    AdaptiveSparkPlanExec/QueryStage wrappers and into the plan that built
    a cached relation (their physical children hide behind accessor
    methods, not ``children()``), so a query's own ``persist()`` hides
    none of its nodes."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _iter_plan_nodes(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _iter_plan_nodes(node.plan())
        return
    if cls == "InMemoryTableScanExec":
        yield from _iter_plan_nodes(node.relation().cachedPlan())
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
    """For every empty-partition WindowExec in the physical plan (cached
    relations included), classify how its INPUT subtree is bounded — the
    structural form of ``BOUNDED_GLOBAL_WINDOWS``' boundedness arguments
    (a comment can silently rot; this predicate fails the build instead):

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
    return "unbounded"


# Every registered query whose executed plan holds single-partition
# (empty partitionSpec) windows, with the bound of each one's input
# (``unpartitioned_window_bound_kinds``). ``plan_violations`` requires an
# exact match, so a new global window and a stale entry both fail:
# route a new one through functions/ranks.py (two_pass_rank / ntile /
# prefix_sum) or bound its input with a top-k before declaring it here.
BOUNDED_GLOBAL_WINDOWS: dict[str, tuple[str, ...]] = {
    "text_zipf_rank_freq": ("limit",),  # rank over the top-30
    "dq_key_skew_profile": ("limit",),  # rank over the top-5
    "retrieval_hybrid_rrf": ("limit",) * 2,  # one per top-50 branch
    "retrieval_eval_metrics": ("limit",) * 3,  # LIMIT-10/50 run files
    "ts_gapfill_interpolate": ("calendar",),  # calendar-day spine
    "ts_yoy_growth": ("calendar",),  # month grain
    "ts_rolling_median": ("calendar",),  # day grain, 7-row frames
    "ts_cusum_drift": ("calendar",),  # day-grain CUSUM walk
}

# ``parent["k"] == derived["k"]`` resolves both sides to the SAME
# attribute; where Spark cannot repair it by column name, the plan keeps
# it as an always-true ``k#N = k#N``
_SELF_EQUAL = re.compile(r"(\w+)#(\d+)L? = \1#\2L?\b")
_WARN_APPENDER = "trivially-true-probe"


@contextmanager
def trivially_true_predicates(spark: SparkSession) -> Iterator[list[str]]:
    """Collect the ``Constructing trivially true equals predicate``
    warnings the JVM logs while the block builds a plan: the degenerate
    self-join ``parent["k"] == derived["k"]``, caught also where Spark
    repairs the condition by column name and the analyzed plan looks
    sound. Read through a log4j appender: the JVM writes to the stderr it
    was started with, so pytest's ``capfd`` misses it in any test that
    runs after the session's JVM started."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = jvm.java.io.StringWriter()
    layout = core.layout.PatternLayout.newBuilder().withPattern("%m%n").build()
    appender = core.appender.WriterAppender.createAppender(
        layout, None, writer, _WARN_APPENDER, False, True
    )
    appender.start()
    found: list[str] = []
    try:
        root.addAppender(appender, jvm.org.apache.logging.log4j.Level.WARN, None)
        ctx.updateLoggers()
        yield found
    finally:
        root.removeAppender(_WARN_APPENDER)
        ctx.updateLoggers()
        appender.stop()
        found += [
            line
            for line in writer.toString().splitlines()
            if "trivially true equals predicate" in line
        ]


def plan_violations(name: str, df: DataFrame) -> list[str]:
    """The structural rules every registered query's plan obeys, checked
    on the built DataFrame without executing it; one message per broken
    rule:

    - no self-equal ``attr#N = attr#N`` predicate in the analyzed plan
      (a degenerate derived-DataFrame self-join);
    - no ``CartesianProduct`` in the executed plan (a join whose
      condition vanished; the intentional crossJoins are against
      broadcast 1-row aggregates and never plan this way);
    - the bound kinds of its single-partition windows are exactly its
      ``BOUNDED_GLOBAL_WINDOWS`` entry (none when it has no entry)."""
    qe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    out = []
    if _SELF_EQUAL.search(qe.analyzed().toString()):
        out.append("self-equal attr#N = attr#N predicate in the analyzed plan")
    if "CartesianProduct" in qe.executedPlan().toString():
        out.append("CartesianProduct in the executed plan")
    kinds = tuple(sorted(unpartitioned_window_bound_kinds(df)))
    declared = BOUNDED_GLOBAL_WINDOWS.get(name, ())
    if kinds != declared:
        out.append(
            f"single-partition windows {kinds}, BOUNDED_GLOBAL_WINDOWS declares {declared}"
        )
    return out
