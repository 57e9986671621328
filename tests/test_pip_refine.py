"""The one convex PIP refine (operators/pip_join.pip_join_native): the edge
columns of each cover row and one conjunction in the broadcast-hash-join
condition give the GridIndex refine's rows, run inside whole-stage
codegen, and leave no Python map node on the convex paths (exactness
against geometry.convex_contains: tests/test_edges_and_custom.py)."""

from collections import Counter

import numpy as np

import __spark_entry__ as E
from giga_spatial_spark import synth
from giga_spatial_spark.functions.dialect import spark_col
from giga_spatial_spark.geometry import GridIndex
from giga_spatial_spark.operators.pip_join import pip_join_native, pip_join_rtree
from giga_spatial_spark.pipeline import entity_points, extract_stage
from giga_spatial_spark.sources.webpages import webpages_df
from tools.python_plan_scan import query_python_nodes

from .conftest import SF_DIR


def _derived_points(spark, n: int):
    """n points whose lon/lat are expressions over spark.range ids."""
    return spark.range(n).select(
        "id",
        spark_col(synth.lon_sql("id")).alias("lon"),
        spark_col(synth.lat_sql("id")).alias("lat"),
    )


def _pairs(df) -> Counter:
    return Counter((r[0], r[1]) for r in df.collect())


def test_rtree_convex_equals_grid_index_refine(spark):
    """pip_join_rtree(convex=True) gives the multiset the GridIndex refine
    gives on the admin layers of three seeds."""
    n = 20_000
    ids = np.arange(n)
    lon, lat = synth.lon_np(ids), synth.lat_np(ids)
    pts = _derived_points(spark, n)
    for seed in (1, 2, 3):
        polys = synth.make_admin_polygons(seed=seed)
        idx, pid = GridIndex(polys).query_points(lon, lat, convex=True)
        want = Counter(zip(idx.tolist(), pid.astype(int).tolist()))
        got = _pairs(pip_join_rtree(pts, polys, zoom=E.PIP_ZOOM).select("id", "zone_id"))
        assert len(want) > 500
        assert got == want, seed


def test_refine_runs_in_whole_stage_codegen(spark):
    """On derived coordinates the refine is the condition of a
    BroadcastHashJoin compiled by whole-stage codegen (`*(n)`)."""
    df = pip_join_native(_derived_points(spark, 2000), E.ADMIN_POLYS, zoom=6)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    [join] = [ln for ln in final.splitlines() if "BroadcastHashJoin" in ln]
    assert join.lstrip(" :+-").startswith("*(")
    assert "ex_0" in join and "ey_6" in join


def _nodes(df) -> list[str]:
    return [name for name, _ in query_python_nodes(df)]


def test_convex_paths_have_no_map_node(spark, tmp_path):
    """The convex paths run no Python refine: the modular enrich path's one
    Python node is its text eval, the PIP and raster-zonal queries have no
    Python node but a GeoTIFF decode; the non-convex path keeps its map."""
    webpages_df(spark, 20).write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    modular = pip_join_rtree(
        entity_points(extract_stage(pages)), E.ADMIN_POLYS, zoom=6
    )
    assert _nodes(modular) == ["ArrowEvalPython"]
    assert _nodes(E.q_pip_tag_rtree(spark, SF_DIR)) == []
    assert _nodes(E.q_zonal_raster(spark, SF_DIR)) == []
    # the other raster-zonal queries keep only their GeoTIFF decode kernel
    for name in ("q_geotiff_zonal", "q_geotiff_laea", "q_cog_overview"):
        nodes = query_python_nodes(E.queries()[name](spark, SF_DIR))
        assert [(n, e[0].split("(")[0]) for n, e in nodes] == [
            ("MapInPandas", "kernel")
        ], name
    assert _nodes(E.q_pip_nonconvex(spark, SF_DIR)) == ["MapInPandas"]
