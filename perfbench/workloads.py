"""The workloads.

Each workload has ``setup`` (build its inputs from the seed, warm up),
``run_pass`` (one timed pass: a list of operations run one at a time) and
``check`` (compare a pass's outputs with an independent oracle, outside the
timed region).  Operations go through ``Ops`` so every call into the engine
is timed the same way and, on traced passes, wrapped in spans and Spark job
groups.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as E
from giga_spatial_spark import cells, synth
from giga_spatial_spark.pipeline import (
    PIP_ZOOM,
    TILE_ZOOM,
    enrich_fused,
    entity_points,
    extract_stage,
    salted_count,
    verify_extraction_invariant,
)
from giga_spatial_spark.operators.pip_join import pip_join_rtree
from giga_spatial_spark.plans.lineage import LineageStage
from giga_spatial_spark.sources.spatial_store import (
    PARTITION_COL,
    _tile_to_quadkey,
    read_points_pruned,
    write_points_partitioned,
)
from giga_spatial_spark.sources.webpages import ensure_webpages_parquet

from . import oracles

SPATIAL_QUERIES = [
    "q_tile_assign", "q_pip_tag", "q_pip_tag_rtree", "q_zonal_stats",
    "q_knn_nearest", "q_knn_grid", "q_range_count", "q_tile_zonal",
    "q_s2_zonal", "q_hex_zonal", "q_h3_compact", "q_zonal_raster",
    "q_fractional_overlay",
]
# the text/dedup layers: operators.ann (IVF top-1), and operators.dedup
# (MinHash LSH pairs) closed by operators.graph (connected components) in
# the end-to-end dedup flow
TEXT_QUERIES = ["q_ann_ivf", "q_dedup_clusters"]
BOARD_QUERIES = SPATIAL_QUERIES + TEXT_QUERIES
ENRICH_PAGES = 240_000
CKPT_PAGES = 30_000
SMOKE_PAGES = 2_000
PROBE_PAGES = 2_000
N_UNITS = 8
COVER_RES = 3


class Ops:
    """Runs one engine call as a timed operation.

    ``frame`` splits a DataFrame operation into construct (the engine's
    Python builds the plan, firing any eager jobs), plan (Catalyst
    optimization and physical planning) and exec (run and collect to the
    driver).  ``call`` times an engine function that runs its own jobs.
    """

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def _group(self, op: str, phase: str | None) -> None:
        """Tag the jobs that follow with pass, op and phase (None clears),
        so the event log attributes each stage to its operation."""
        if self.ctx.tracer.enabled:
            self.ctx.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id",
                f"{self.ctx.tracer.pass_id}|{op}|{phase}" if phase else None,
            )

    def frame(self, op: str, build):
        tr, py4j = self.ctx.tracer, self.ctx.py4j
        rec = {"op": op}
        with tr.span(f"op:{op}"):
            self._group(op, "construct")
            c0, t0 = py4j.count, time.perf_counter()
            with tr.span(f"construct:{op}"):
                df = build()
            t1, c1 = time.perf_counter(), py4j.count
            self._group(op, "plan")
            c2, t2 = py4j.count, time.perf_counter()
            with tr.span(f"plan:{op}"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            t3, c3 = time.perf_counter(), py4j.count
            self._group(op, "exec")
            c4, t4 = py4j.count, time.perf_counter()
            with tr.span(f"exec:{op}"):
                out = df.toPandas()
            t5, c5 = time.perf_counter(), py4j.count
            self._group(op, None)
        rec.update(
            construct_s=t1 - t0, plan_s=t3 - t2, exec_s=t5 - t4,
            s=(t1 - t0) + (t3 - t2) + (t5 - t4),
            py4j_construct=c1 - c0, py4j_calls=(c1 - c0) + (c3 - c2) + (c5 - c4),
        )
        return out, rec

    def call(self, op: str, fn, layer: str):
        tr, py4j = self.ctx.tracer, self.ctx.py4j
        self._group(op, "exec")
        c0, t0 = py4j.count, time.perf_counter()
        with tr.span(f"{layer}:{op}"):
            out = fn()
        t1 = time.perf_counter()
        self._group(op, None)
        return out, {"op": op, "s": t1 - t0, "exec_s": t1 - t0,
                     "py4j_calls": py4j.count - c0}


def _drop_last_row(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.iloc[:-1] if len(pdf) else pdf


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    """A workload also defines ``warm_up()``, ``run_pass() -> (op records,
    outputs)`` and ``check(outputs) -> [(op, ok)]``."""

    name = ""
    rollup_op: str | None = None  # the op whose only shuffle is pipeline.salted_count

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ops = Ops(ctx)

    def pages(self, n: int):
        """The generated web-pages table of n rows, built once per checkout
        (rows depend only on n) and read back as parquet."""
        path = ensure_webpages_parquet(
            self.ctx.spark, n, os.path.join(self.ctx.inputs, f"webpages_{n}")
        )
        return path, self.ctx.spark.read.parquet(path)

    def build_inputs(self) -> None:
        """Per-seed inputs; subclasses extend.  Every workload carries the
        small page sample the warm-ups and layer probes use."""
        self.sample_path, self.sample_df = self.pages(PROBE_PAGES)
        self.polys = synth.make_admin_polygons(seed=self.ctx.seed)

    def details(self, passes: list[dict]) -> dict:
        return {}


# ------------------------------------------------------------------- board
class Board(Workload):
    name = "board"

    def build_inputs(self) -> None:
        super().build_inputs()
        self.order = list(BOARD_QUERIES)
        random.Random(self.ctx.seed).shuffle(self.order)
        self.Q = E.queries()
        self._expected = None

    def warm_up(self) -> None:
        # the first three spatial queries on the tiny tables: starts the
        # Python workers and compiles the common Catalyst and codegen paths
        # so the first timed query does not pay for process start-up
        for q in SPATIAL_QUERIES[:3]:
            self.Q[q](self.ctx.spark, self.ctx.tiny_dir).toPandas()

    def run_pass(self):
        recs, outputs = [], {}
        for q in self.order:
            t0 = time.perf_counter()
            try:
                out, rec = self.ops.frame(q, lambda q=q: self.Q[q](self.ctx.spark, self.ctx.sf_dir))
            except Exception as ex:  # noqa: BLE001 — a failed query is counted, not fatal
                out, rec = ex, {"op": q, "s": time.perf_counter() - t0, "error": repr(ex)[:300]}
            outputs[q] = out
            recs.append(rec)
        return recs, outputs

    def check(self, outputs):
        if self._expected is None:
            self._expected = oracles.board_hashes(self.ctx.sf_dir, BOARD_QUERIES, self.ctx.inputs)
        results, drop = [], self.ctx.drop_row
        for q, out in outputs.items():
            if isinstance(out, Exception):
                results.append((q, False))
                continue
            if drop and len(out):
                out, drop = _drop_last_row(out), False
            results.append((q, oracles.canon(out) == self._expected[q]))
        return results

    def details(self, passes):
        return {"order": self.order}


# ------------------------------------------------------------------ enrich
class Enrich(Workload):
    name = "enrich"
    rollup_op = "enrich_fused"

    def build_inputs(self) -> None:
        super().build_inputs()
        n = SMOKE_PAGES if self.ctx.smoke else ENRICH_PAGES
        self.n_pages = n
        self.path, self.pages_df = self.pages(n)
        self._expected = None

    def warm_up(self) -> None:
        # the sample starts the Python workers; two full-scale calls pay most
        # of the JIT compilation, which made a session's first full pass
        # 20-30% slower than later ones and its second still 10% slower
        enrich_fused(self.sample_df, self.polys).toPandas()
        for _ in range(2):
            enrich_fused(self.pages_df, self.polys).toPandas()

    def run_pass(self):
        out, rec = self.ops.frame(
            "enrich_fused", lambda: enrich_fused(self.pages_df, self.polys)
        )
        rec["items"] = self.n_pages
        return [rec], {"enrich_fused": out}

    def _reference(self) -> list[tuple[str, bool]]:
        """Once per run: the DuckDB replay over the stored text is the
        oracle, and the stored text must equal extract_text(html) on every
        row.  (The modular pipeline is held to the same replay at scale by
        checkpoint_resume.)"""
        self._expected = oracles.enrich_replay_hash(
            os.path.join(self.path, "*.parquet"), self.polys
        )
        bad_rows = verify_extraction_invariant(self.pages_df)
        return [("check:extraction_invariant", bad_rows == 0)]

    def check(self, outputs):
        results = self._reference() if self._expected is None else []
        out = outputs["enrich_fused"]
        if self.ctx.drop_row:
            out = _drop_last_row(out)
        results.append(("enrich_fused", oracles.canon(out) == self._expected))
        return results

    def details(self, passes):
        walls = [p["wall_s"] for p in passes]
        return {"pages": self.n_pages,
                "input_bytes": _dir_bytes(self.path),
                "docs_per_s": self.n_pages / statistics.median(walls)}


# ------------------------------------------------------- checkpoint_resume
class CheckpointResume(Workload):
    """Kill-resume through LineageStage, rollup read-back, spatial store."""

    name = "checkpoint_resume"
    rollup_op = "pipeline.rollup"

    def build_inputs(self) -> None:
        super().build_inputs()
        n = SMOKE_PAGES // 2 if self.ctx.smoke else CKPT_PAGES
        self.n_pages = n
        self.path, pages = self.pages(n)
        self.input_bytes = _dir_bytes(self.path)
        ids = sorted(self.polys)
        self.query_id = ids[self.ctx.seed % len(ids)]
        self.source = pages.withColumn("unit", self._unit(F.col("url")))
        self._expected_rollup = None
        self._n = 0

    def _unit(self, url):
        return F.pmod(F.xxhash64(url, F.lit(self.ctx.seed)), F.lit(N_UNITS))

    def _transform(self, df):
        """The modular enrich path, carrying the work unit through."""
        pts = entity_points(extract_stage(df))
        tagged = pip_join_rtree(pts, self.polys, zoom=PIP_ZOOM, convex=True)
        return (
            tagged.withColumn("tile", cells.tile_id(F.col("lon"), F.col("lat"), TILE_ZOOM))
            .withColumn("unit", self._unit(F.col("url")))
        )

    def warm_up(self) -> None:
        """Two passes over the page sample.  A pass is almost all driver-side
        work (planning, code generation, job start-up, small files), so the
        sample warms the same code as the full table: in one session, three
        sample passes took 20.5, 8.0 and 6.9 s and the full-scale passes
        after them 6.6-6.8 s, while after one sample pass the full-scale
        pass still varied between 7.1 and 8.5 s from run to run."""
        sample = self.sample_df.withColumn("unit", self._unit(F.col("url")))
        for _ in range(2):
            self._pass(sample)

    def run_pass(self):
        return self._pass(self.source)

    def _pass(self, source):
        self._n += 1
        base = os.path.join(self.ctx.scratch, f"ckpt_{self._n}")
        shutil.rmtree(base, ignore_errors=True)
        stage_dir = os.path.join(base, "lineage")
        store_dir = os.path.join(base, "store")
        cover = ("lat", "lon", COVER_RES)
        spark = self.ctx.spark
        poly = self.polys[self.query_id]
        inside = F.expr(synth.convex_contains_sql(poly, "lon", "lat"))
        half = source.where(F.col("unit") < N_UNITS // 2)
        call = self.ops.call
        recs, outputs = [], {"stage_dir": stage_dir, "store_dir": store_dir}

        n_first, r = call("lineage.first_half", lambda: LineageStage(
            stage_dir, cover=cover).run(half, self._transform), "plans.lineage")
        recs.append(r)
        n_resume, r = call("lineage.resume", lambda: LineageStage(
            stage_dir, cover=cover).run(source, self._transform), "plans.lineage")
        recs.append(r)
        n_noop, r = call("lineage.noop_resume", lambda: LineageStage(
            stage_dir, cover=cover).run(source, self._transform), "plans.lineage")
        recs.append(r)
        stage = LineageStage(stage_dir, cover=cover)
        rollup, r = self.ops.frame("pipeline.rollup", lambda: salted_count(
            stage.read(spark), ["zone_id", "tile"], "mention_count"))
        recs.append(r)
        _, r = call("store.write", lambda: write_points_partitioned(
            stage.read(spark).select("url", "mention_idx", "lat", "lon", "zone_id", "tile"),
            store_dir), "sources.spatial_store")
        recs.append(r)
        n_inside, r = call("store.pruned_read", lambda: read_points_pruned(
            spark, store_dir, poly).where(inside).count(), "sources.spatial_store")
        recs.append(r)
        for r in recs:
            r["items"] = self.n_pages
        outputs.update(units=(n_first, n_resume, n_noop), rollup=rollup, inside=n_inside)
        return recs, outputs

    def check(self, outputs):
        spark = self.ctx.spark
        stage = LineageStage(outputs["stage_dir"], cover=("lat", "lon", COVER_RES))
        if self._expected_rollup is None:
            pages_glob = os.path.join(self.path, "*.parquet")
            self._expected_rollup = oracles.enrich_replay_hash(pages_glob, self.polys)
            self._expected_points = oracles.replay_point_counts(
                pages_glob, self.polys, self.polys[self.query_id])
        n_points, n_inside = self._expected_points
        n_first, n_resume, n_noop = outputs["units"]
        manifest = stage.completed_units()
        units_ok = (n_first + n_resume == len(manifest) and n_noop == 0
                    and n_first > 0 and n_resume > 0)
        # the manifest against the files: DuckDB's per-unit row counts of
        # the stage's parquet, and the read-back's per-unit content hash
        on_disk = oracles.rows_in_files(
            os.path.join(stage.data_dir, "*", "*.parquet"), by=stage.unit_col)
        data = stage.read(spark)
        read_back = {
            str(r[0]): int(r[1]) for r in data.groupBy("unit").agg(
                F.sum(F.xxhash64(F.struct(*data.columns)).cast("decimal(38,0)"))
            ).collect()
        }
        manifest_ok = (
            on_disk == {u: rec["row_count"] for u, rec in manifest.items()}
            and read_back == {u: rec["content_hash"] for u, rec in manifest.items()}
        )
        rollup = outputs["rollup"]
        if self.ctx.drop_row:
            rollup = _drop_last_row(rollup)
        # the store against the replay: every zone-tagged point is stored
        # once, and the pruned read returns exactly those inside the polygon
        stored = oracles.rows_in_files(os.path.join(outputs["store_dir"], "*", "*.parquet"))
        return [("lineage.first_half", n_first > 0),
                ("lineage.resume", units_ok and manifest_ok),
                ("lineage.noop_resume", n_noop == 0),
                ("pipeline.rollup", oracles.canon(rollup) == self._expected_rollup),
                ("store.write", stored == n_points),
                ("store.pruned_read", outputs["inside"] == n_inside)]

    def details(self, passes):
        last = passes[-1]["outputs"]
        lineage_bytes = _dir_bytes(last["stage_dir"])
        store_bytes = _dir_bytes(last["store_dir"])
        parts = glob.glob(os.path.join(last["store_dir"], f"{PARTITION_COL}=*"))
        cover = {"q" + _tile_to_quadkey(x, y, 3)
                 for x, y in cells.polygon_cover(self.polys[self.query_id], 3)}
        read = [p for p in parts if p.rsplit("=", 1)[1] in cover]

        def med(op):
            return statistics.median(r["s"] for p in passes for r in p["ops"] if r["op"] == op)

        walls = [p["wall_s"] for p in passes]
        return {
            "pages": self.n_pages,
            "input_bytes": self.input_bytes,
            "docs_per_s": self.n_pages / statistics.median(walls),
            "resume_s": med("lineage.resume"),
            "write_amp": (lineage_bytes + store_bytes) / self.input_bytes,
            "lineage.first_half_s": med("lineage.first_half"),
            "lineage.resume_s": med("lineage.resume"),
            "lineage.noop_resume_s": med("lineage.noop_resume"),
            "lineage.bytes_written": lineage_bytes,
            "store.write_s": med("store.write"),
            "store.pruned_read_s": med("store.pruned_read"),
            "store.partitions_read_frac": len(read) / len(parts) if parts else 0.0,
        }


WORKLOADS = {w.name: w for w in (Enrich, Board, CheckpointResume)}
