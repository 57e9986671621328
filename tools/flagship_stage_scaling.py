"""Per-stage 8→32 scaling decomposition of the flagship pipeline.

The round-4 verdict: flagship 8→32 efficiency (0.721) is below the 0.8
target and the "saturated DRAM bus" explanation was an assertion. This
tool measures it: the fused pipeline is split into nested prefixes, each
timed at local[8] and local[32] in fresh JVMs (BLAS pinned, best of 3):

  scan    — parquet scan + JVM length() aggregate (no Python, no Arrow)
  ship    — scan + Arrow-serialize `html` to Python workers + a no-op
            kernel that only counts bytes (no regex/extract compute)
  full    — the real fused kernel (markup text without the whitespace
            tail → one coordinate regex pass per Arrow batch → PIP →
            tiles; exact, as the tail never creates or destroys a match)

compute = full − ship isolates Python compute; ship − scan isolates the
Arrow/IPC channel. Per-component efficiencies T8/(4·T32) show where the
gap lives. Usage: python tools/flagship_stage_scaling.py [n_pages]
Child:  python tools/flagship_stage_scaling.py --child CORES N_PAGES
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _best_of(fn, n: int = 3) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times)


def child(cores: int, n_pages: int) -> None:
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    import pandas as pd
    from pyspark.sql import functions as F

    from giga_spatial_spark import synth
    from giga_spatial_spark.pipeline import enrich_fused
    from giga_spatial_spark.session import get_spark
    from giga_spatial_spark.sources.webpages import ensure_webpages_parquet

    spark = get_spark(f"stagescale-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    path = ensure_webpages_parquet(
        spark, n_pages, os.path.join(REPO, ".cache", f"webpages_{n_pages}")
    )
    pages = spark.read.parquet(path)
    polys = synth.make_admin_polygons()

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")

    # scan: JVM-only traversal of the html column
    def scan_run():
        pages.select(F.sum(F.length("html")).alias("b")).write.mode(
            "overwrite"
        ).format("noop").save()

    # ship: Arrow round-trip of html with a byte-count-only kernel
    def ship_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            n = int(pdf["html"].str.len().sum())
            yield pd.DataFrame({"n": [n]})

    def ship_run():
        noop(pages.select("html").mapInPandas(ship_kernel, schema="n long"))

    def full_run():
        noop(enrich_fused(pages, polys))

    # warmups
    scan_run()
    noop(pages.limit(20000).select("html").mapInPandas(ship_kernel, schema="n long"))
    noop(enrich_fused(pages.limit(20000), polys))

    t_scan = _best_of(scan_run)
    t_ship = _best_of(ship_run)
    t_full = _best_of(full_run)
    print(json.dumps({
        "cores": cores,
        "scan_sec": round(t_scan, 3),
        "ship_sec": round(t_ship, 3),
        "full_sec": round(t_full, 3),
    }))


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 960_000
    results = {}
    for cores in (8, 32):
        out = subprocess.run(
            [sys.executable, __file__, "--child", str(cores), str(n_pages)],
            capture_output=True, text=True, check=True, cwd=REPO,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results[cores] = json.loads(line)
        print(line)
    r8, r32 = results[8], results[32]

    def eff(a, b):
        return round(a / (4 * b), 3) if b > 0 else None

    comp8 = r8["full_sec"] - r8["ship_sec"]
    comp32 = r32["full_sec"] - r32["ship_sec"]
    arrow8 = r8["ship_sec"] - r8["scan_sec"]
    arrow32 = r32["ship_sec"] - r32["scan_sec"]
    summary = {
        "n_pages": n_pages,
        "stage_seconds": {"8": r8, "32": r32},
        "efficiency_8_32": {
            "scan": eff(r8["scan_sec"], r32["scan_sec"]),
            "ship(scan+arrow)": eff(r8["ship_sec"], r32["ship_sec"]),
            "full": eff(r8["full_sec"], r32["full_sec"]),
            "arrow_channel(ship-scan)": eff(arrow8, arrow32),
            "python_compute(full-ship)": eff(comp8, comp32),
        },
        "seconds_breakdown_32": {
            "scan": r32["scan_sec"],
            "arrow_channel": round(arrow32, 3),
            "python_compute": round(comp32, 3),
        },
    }
    print(json.dumps(summary, indent=2))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]))
    else:
        main()
