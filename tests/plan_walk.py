"""Walks over a physical plan, for plan-shape tests."""

from __future__ import annotations


def seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def children(node):
    """A physical node's children, looking through AQE's wrapper and query
    stages and into the plan a cached table scan reads."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    return seq(node.children())


def below(node, stop=lambda n: False):
    """Every node under ``node``, depth first. A node for which ``stop``
    holds is listed but not entered."""
    out, todo = [], children(node)
    while todo:
        out.append(todo.pop())
        if not stop(out[-1]):
            todo += children(out[-1])
    return out


def executed_nodes(df):
    """Run ``df`` and return every node of its executed plan, root first."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    return [root] + below(root)


def planned_nodes(df):
    """Every node of ``df``'s physical plan as planned, before adaptive
    execution re-plans it, root first. Runs no job of its own."""
    root = df._jdf.queryExecution().executedPlan()
    if name(root) == "AdaptiveSparkPlanExec":
        root = root.initialPlan()
    return [root] + below(root)


def name(node) -> str:
    return node.getClass().getSimpleName()


def column_names(exprs) -> tuple[str, ...]:
    """The column each expression of a Scala ``Seq`` names (``band#64`` →
    ``band``)."""
    return tuple(str(e.toString()).split("#")[0] for e in seq(exprs))


def hash_keys(exchange) -> tuple[str, ...] | None:
    """The columns a shuffle exchange hash-partitions on; None when it
    partitions any other way."""
    p = exchange.outputPartitioning()
    return column_names(p.expressions()) if name(p) == "HashPartitioning" else None


def python_nodes(nodes):
    """The Python UDF nodes (pandas/Arrow evaluators) among ``nodes``."""
    return [n for n in nodes if ".sql.execution.python." in n.getClass().getName()]
