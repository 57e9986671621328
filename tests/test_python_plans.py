"""No declared query evaluates one Python UDF expression in two eval nodes
(tools/python_plan_scan.py), and the scan does see such a clone, and a
map function run by two map nodes."""

from pyspark.sql import functions as F

import __spark_entry__ as E
from giga_spatial_spark.functions.text import extract_geo_entities
from giga_spatial_spark.pipeline import extract_stage
from giga_spatial_spark.sources.webpages import webpages_df
from tools.python_plan_scan import (
    EVAL_NODES,
    cloned_map_functions,
    cloned_udfs,
    query_python_nodes,
)

from .conftest import SF_DIR


def test_no_query_clones_a_python_udf(spark):
    scanned = {}
    for name, q in E.queries().items():
        nodes = query_python_nodes(q(spark, SF_DIR))
        if any(n in EVAL_NODES for n, _ in nodes):
            scanned[name] = cloned_udfs(nodes)
    assert {"q_entity_id", "q_extract_invariant", "q_multimodal_meta",
            "q_nfkc"} <= set(scanned)
    assert scanned == {name: [] for name in scanned}


def test_scan_sees_a_posexplode_clone(spark):
    """A plain posexplode over a UDF column gets an inferred `size > 0`
    filter that Catalyst pushes below the alias, cloning the UDF chain;
    the clone is still there in the plan that ran."""
    ents = extract_stage(webpages_df(spark, 20)).withColumn(
        "ents", extract_geo_entities(F.col("extracted"))
    )
    nodes = query_python_nodes(ents.select("url", F.posexplode("ents")))
    assert [n for n, _ in nodes].count("ArrowEvalPython") == 2
    [clone] = cloned_udfs(nodes)
    assert clone.startswith("extract_geo_entities(extract_text(html#")


def test_scan_sees_a_map_node_clone(spark):
    """A self-join of one mapInPandas output keeps the function on both
    sides (inputs re-aliased, one result id): the scan names it once."""

    def double(batches):
        for pdf in batches:
            yield pdf.assign(v=pdf["id"] * 2)

    m = spark.range(50).mapInPandas(double, "id long, v long")
    nodes = query_python_nodes(m.alias("a").join(m.alias("b"), "id"))
    assert [n for n, _ in nodes] == ["MapInPandas", "MapInPandas"]
    assert nodes[0][1] != nodes[1][1]
    [clone] = cloned_map_functions(nodes)
    assert clone.startswith("double#")
    assert cloned_udfs(nodes) == []
    assert cloned_map_functions(query_python_nodes(m)) == []
