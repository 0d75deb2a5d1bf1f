"""Plan introspection helpers: assert the physical-plan invariants that must
survive a 100×-scale-up (pushdown reaches scans, dims broadcast, window
limits stay map-side, no unexpected exchanges). Used by tests/test_plans.py
so plan regressions fail CI, not production."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    return jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def executed_plan(df: DataFrame) -> str:
    """The FINAL (post-AQE) physical plan, after actually running the
    query — runtime exchange reuse (ReusedExchange) is only decided at
    execution, so single-scan contracts that rest on it must assert here,
    not on the static plan (which duplicates the subtree per consumer).

    Execution is a JVM-side row count on THIS DataFrame's own
    QueryExecution — never ``collect()`` (which would ship the full
    result to the driver: fine for summary frames, an OOM for a
    data-sized assertion) and never a noop write (which builds a
    SEPARATE QueryExecution, leaving this one's AQE plan un-finalized).
    ``AdaptiveSparkPlanExec.execute()`` finalizes the adaptive plan, so
    the string read afterwards carries the runtime reuse decisions."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    return qe.executedPlan().toString()


def has_node(df: DataFrame, node: str) -> bool:
    return node in physical_plan(df, "simple")


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lines from the formatted plan."""
    return [
        line.strip()
        for line in physical_plan(df, "formatted").splitlines()
        if "PushedFilters" in line
    ]


def count_exchanges(df: DataFrame) -> int:
    plan = physical_plan(df, "simple")
    return sum(
        plan.count(marker) for marker in ("Exchange hashpartitioning", "Exchange rangepartitioning")
    )


def scan_columns(df: DataFrame, table_hint: str) -> list[str]:
    """Columns read by the scan whose location matches table_hint (column-
    pruning check)."""
    last_loc = ""
    for line in physical_plan(df, "formatted").splitlines():
        if "Location:" in line:
            last_loc = line
        elif "ReadSchema" in line and table_hint in last_loc:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[len("struct<") : -1]
            return [c.split(":")[0] for c in inner.split(",") if c]
    return []


def _ids(exprs) -> set[int]:
    return {exprs.apply(i).exprId().id() for i in range(exprs.size())}


def _below_codegen(node):
    """``node`` with whole-stage-codegen wrappers peeled off."""
    while node.getClass().getSimpleName() in ("WholeStageCodegenExec", "InputAdapter"):
        node = node.child()
    return node


def _shuffle_inputs(df: DataFrame) -> list:
    """Every shuffle exchange of the (pre-execution) physical plan as a
    pair ``(exchange, node below it)``, codegen wrappers peeled off; the
    AQE wrapper is looked through, subqueries are not. JVM objects."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            out.append((node, _below_codegen(node.child())))
        kids = node.children()
        stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return out


def count_shuffles(df: DataFrame) -> int:
    """The number of shuffle exchanges of the plan, whatever their
    partitioning (broadcasts are not shuffles)."""
    return len(_shuffle_inputs(df))


def shuffled_columns(df: DataFrame) -> list[list[str]]:
    """The column names each shuffle exchange of the plan writes (the
    output of the node below it), depth first from the root."""
    cols = []
    for _, below in _shuffle_inputs(df):
        out = below.output()
        cols.append([out.apply(i).name() for i in range(out.size())])
    return cols


def derived_shuffle_columns(df: DataFrame) -> list[str]:
    """Names of the columns a shuffle ships twice over: Alias outputs of a
    Project directly under a shuffle exchange whose inputs are all plain
    columns of that same Project, and which are not partitioning keys.
    Computing such a column above the exchange instead ships fewer bytes
    (``_w0`` is Catalyst's name for a window input it computed below)."""
    names = []
    for exchange, below in _shuffle_inputs(df):
        if below.getClass().getSimpleName() != "ProjectExec":
            continue
        part = exchange.outputPartitioning()
        keyed = part.getClass().getSimpleName() in ("HashPartitioning", "RangePartitioning")
        keys = _ids(part.references().toSeq()) if keyed else set()
        projs = below.projectList()
        exprs = [(e, e.getClass().getSimpleName()) for e in map(projs.apply, range(projs.size()))]
        plain = {e.exprId().id() for e, kind in exprs if kind == "AttributeReference"}
        for e, kind in exprs:
            if kind == "Alias" and e.exprId().id() not in keys:
                refs = _ids(e.references().toSeq())
                if refs and refs <= plain:
                    names.append(e.name())
    return names
