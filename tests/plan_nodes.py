"""Walk an executed physical plan (test helper)."""


def plan_nodes(node):
    """Every node of an executed physical plan, descending through the
    adaptive wrapper, query stages and reused exchanges."""
    yield node
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif kind == "ReusedExchangeExec":
        kids = [node.child()]
    else:
        it, kids = node.children().iterator(), []
        while it.hasNext():
            kids.append(it.next())
    for k in kids:
        yield from plan_nodes(k)


def node_names(df):
    """Class names of every node of ``df``'s physical plan."""
    return [n.getClass().getSimpleName()
            for n in plan_nodes(df._jdf.queryExecution().executedPlan())]
