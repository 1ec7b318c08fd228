"""Walks over an executed physical plan, for plan-shape tests."""

from __future__ import annotations


def children(node):
    """A physical node's children, looking through AQE's wrapper and query
    stages."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    return [node.children().apply(i) for i in range(node.children().size())]


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


def name(node) -> str:
    return node.getClass().getSimpleName()


def python_nodes(nodes):
    """The Python UDF nodes (pandas/Arrow evaluators) among ``nodes``."""
    return [n for n in nodes if ".sql.execution.python." in n.getClass().getName()]
