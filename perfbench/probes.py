"""Layer probes: the engine's per-row kernels timed in the driver process on
a fixed sample of generated pages, so a change to one kernel shows in its
own number whatever the workload around it does."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from giga_spatial_spark import cells
from giga_spatial_spark.functions.text import extract_geo_entities_py, extract_text_py
from giga_spatial_spark.geometry import GridIndex
from giga_spatial_spark.pipeline import TILE_ZOOM

REPS = 5
MIN_POINTS = 100_000


def _median_s(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def layer_probes(sample_path: str, polys: dict) -> dict[str, float]:
    html = pq.read_table(sample_path, columns=["html"]).column("html").to_pylist()
    texts = [extract_text_py(h) for h in html]
    ents = [e for t in texts for e in extract_geo_entities_py(t)]
    lat = np.array([e[0] for e in ents], dtype=np.float64)
    lon = np.array([e[1] for e in ents], dtype=np.float64)
    # repeat the sample's points up to a kernel-batch-sized array so the
    # per-call overhead does not swamp the per-point cost
    reps = -(-MIN_POINTS // max(len(lat), 1))
    lat, lon = np.tile(lat, reps), np.tile(lon, reps)

    index = GridIndex(polys)
    idx, _ = index.query_points(lon, lat, convex=True)
    cx = np.floor(lon / index.cell_deg).astype(np.int64)
    cy = np.floor(lat / index.cell_deg).astype(np.int64)
    tests = sum(len(index.buckets.get((int(a), int(b)), ())) for a, b in zip(cx, cy))

    return {
        "text.extract_us_per_doc": _median_s(
            lambda: [extract_text_py(h) for h in html]) / len(html) * 1e6,
        "text.geo_us_per_doc": _median_s(
            lambda: [extract_geo_entities_py(t) for t in texts]) / len(texts) * 1e6,
        "pip_index.us_per_point": _median_s(
            lambda: index.query_points(lon, lat, convex=True)) / len(lat) * 1e6,
        "pip_index.tests_per_hit": tests / max(len(idx), 1),
        "cells.tile_ns_per_point": _median_s(
            lambda: cells.tile_xy_np(lon, lat, TILE_ZOOM)) / len(lat) * 1e9,
    }
