"""Executed-plan walks shared by the plan-shape tests: a plan is read
as a TREE of nodes, never matched as text in its rendering (a rendered
plan prints a cached relation's plan and AQE's initial plan too, and a
node name can appear inside an expression's text)."""

from __future__ import annotations


def physical_nodes(df, initial: bool = True) -> list:
    """Every node of `df`'s EXECUTED plan tree: children, inner
    children (a cached relation's plan, subqueries) and AQE's current
    and initial plans — every node the rendered plan prints. With
    `initial=False` an AQE plan contributes its current plan only, so
    each node of a plan not yet run is seen once (for counting)."""
    out: list = []

    def walk(node) -> None:
        out.append(node)
        kids = [
            seq.apply(i)
            for seq in (node.children(), node.innerChildren())
            for i in range(seq.size())
        ]
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            # a leaf that prints its plans
            kids += [node.executedPlan()]
            kids += [node.initialPlan()] if initial else []
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def physical_node_counts(df, initial: bool = True) -> "dict[str, int]":
    """Class-name counts over `physical_nodes`."""
    counts: "dict[str, int]" = {}
    for node in physical_nodes(df, initial):
        name = node.getClass().getSimpleName()
        counts[name] = counts.get(name, 0) + 1
    return counts


def exchange_partitionings(df) -> "list[str]":
    """The output partitioning of every shuffle exchange in the executed
    plan tree."""
    return [
        node.outputPartitioning().getClass().getSimpleName().rstrip("$")
        for node in physical_nodes(df)
        if node.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]


def hash_exchange_keys(df) -> "list[list[str]]":
    """The key expressions, as Catalyst prints them (`name#id`), of
    every hash-partitioned shuffle exchange in the executed plan tree,
    read from its `outputPartitioning()`."""
    out = []
    for node in physical_nodes(df):
        if node.getClass().getSimpleName() != "ShuffleExchangeExec":
            continue
        part = node.outputPartitioning()
        if part.getClass().getSimpleName() == "HashPartitioning":
            keys = part.expressions()
            out.append([keys.apply(i).toString() for i in range(keys.size())])
    return out


def join_types(df) -> "list[str]":
    """The join type ("Inner", "LeftSemi", "LeftAnti", …) of every join
    node in the executed plan tree, read from its `joinType()`."""
    return [
        node.joinType().toString()
        for node in physical_nodes(df)
        if node.getClass().getSimpleName().endswith("JoinExec")
    ]


def assert_no_single_partition(df) -> None:
    """No shuffle exchange of `df` funnels its rows into one partition;
    the walk must have seen at least one exchange."""
    parts = exchange_partitionings(df)
    assert parts, "no shuffle exchange found: the plan walk saw nothing"
    assert "SinglePartition" not in parts, parts


def assert_no_python_eval(df, what: str = "") -> None:
    """No node of `df`'s executed plan tree evaluates a Python UDF: no
    BatchEvalPython* node (row at a time) and no ArrowEvalPython* node
    (a pandas UDF)."""
    names = [n.getClass().getSimpleName() for n in physical_nodes(df)]
    assert names, "the plan walk saw nothing"
    bad = [n for n in names if "EvalPython" in n]
    assert not bad, (what, bad)


def assert_no_nodes(df, *names: str) -> None:
    """No node of `df`'s executed plan tree is of a class named in
    `names` (simple names such as "CartesianProductExec"); the walk
    must have seen at least one node."""
    seen = [n.getClass().getSimpleName() for n in physical_nodes(df)]
    assert seen, "the plan walk saw nothing"
    bad = [n for n in seen if n in names]
    assert not bad, bad
