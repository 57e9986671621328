"""List the Python nodes in each declared query's executed plan, and fail if
one Python UDF expression is evaluated by more than one eval node.

Run: python tools/python_plan_scan.py SF_DIR [query ...]

Catalyst can clone a Python UDF. A filter it infers on a UDF's output (for
example `size(ents) > 0 AND isnotnull(ents)` under a `posexplode`) is
pushed below the Project that aliases the UDF, and to do so the alias is
replaced by the UDF expression itself. The physical plan then holds two
`ArrowEvalPython` nodes with the same expression, and every row crosses
the JVM/Python boundary twice. Each line printed here is one query and
its Python nodes in plan order (`!` marks a cloned expression); the exit
status is 1 if any query clones a UDF.

A map node (`MapInPandas`, `FlatMapGroupsInPandas`) can be cloned too: a
self-join of one `mapInPandas` output keeps the function on both sides,
its inputs re-aliased but its result id the same, so the function runs
twice over its input. Such queries are marked and listed as well, but do
not set the exit status.

Plans are read from `queryExecution().executedPlan()`. Under AQE that is
the initial physical plan until the query runs, and AQE may still reuse an
exchange above one of two equal subtrees, so a query whose initial plan
shows a clone is run and judged by its final plan.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

from py4j.protocol import Py4JError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython")
MAP_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
PYTHON_PACKAGE = "org.apache.spark.sql.execution.python."


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def plan_nodes(plan):
    """Every node of a Java SparkPlan, including those behind AQE, query
    stages, cached relations and subqueries."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        stack.extend(reversed(_seq(node.subqueries())))
        stack.extend(reversed(_seq(node.children())))


def executed_plan(df):
    return df._jdf.queryExecution().executedPlan()


def python_nodes(plan) -> list[tuple[str, list[str]]]:
    """(node name, Python UDF expressions) for each Python node of a Java
    SparkPlan: the UDFs of an eval node, the function of a map node."""
    out = []
    for node in plan_nodes(plan):
        if not node.getClass().getName().startswith(PYTHON_PACKAGE):
            continue
        name = node.nodeName()
        if name in EVAL_NODES:
            exprs = [u.toString() for u in _seq(node.udfs())]
        else:
            try:
                exprs = [node.func().toString()]
            except Py4JError:
                exprs = []
        out.append((name, exprs))
    return out


def cloned_udfs(nodes: list[tuple[str, list[str]]]) -> list[str]:
    """Python UDF expressions that more than one eval node evaluates."""
    seen = Counter(
        e for name, exprs in nodes if name in EVAL_NODES for e in set(exprs)
    )
    return sorted(e for e, n in seen.items() if n > 1)


def function_id(expr: str) -> str:
    """`name#resultId` of a Python function's text `name(args)#resultId`."""
    return expr[:expr.find("(")] + expr[expr.rfind("#"):]


def cloned_map_functions(nodes: list[tuple[str, list[str]]]) -> list[str]:
    """Python functions (`name#resultId`) that more than one map node runs."""
    seen = Counter(
        function_id(e) for name, exprs in nodes if name in MAP_NODES for e in exprs
    )
    return sorted(f for f, n in seen.items() if n > 1)


def query_python_nodes(df) -> list[tuple[str, list[str]]]:
    """python_nodes of `df`'s plan, final if its initial plan clones."""
    nodes = python_nodes(executed_plan(df))
    if cloned_udfs(nodes) or cloned_map_functions(nodes):
        df.collect()
        nodes = python_nodes(executed_plan(df))
    return nodes


def main() -> None:
    import __spark_entry__ as E
    from giga_spatial_spark.session import get_spark

    sf_dir, names = sys.argv[1], sys.argv[2:]

    spark = get_spark("python-plan-scan", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    bad, twice = [], []
    for name in names or list(qs):
        nodes = query_python_nodes(qs[name](spark, sf_dir))
        if not nodes:
            continue
        clones = set(cloned_udfs(nodes))
        maps = set(cloned_map_functions(nodes))
        if clones:
            bad.append(name)
        if maps:
            twice.append(name)

        def mark(node, e):
            hit = e in clones if node in EVAL_NODES else function_id(e) in maps
            return ("!" if hit else "") + e

        shown = [
            f"{node}[{', '.join(mark(node, e) for e in exprs)}]"
            for node, exprs in nodes
        ]
        print(f"{name}: {'  '.join(shown)}", flush=True)
    print(f"\n{len(bad)} queries clone a Python UDF{': ' if bad else ''}"
          f"{' '.join(bad)}")
    print(f"{len(twice)} queries run one map function in two nodes"
          f"{': ' if twice else ''}{' '.join(twice)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
