"""Distributed graph operators — exported connected components.

Reference: build_distance_graph (gigaspatial/processing/algorithms.py:
24-204) returns a networkx graph whose components users query (node attrs
preserved). A networkx object cannot exist at 10^12 edges; the Spark-first
surface is an edge-list DataFrame in and a (node, comp) label DataFrame
out — comp is the MINIMUM node id in the component, so labels are
deterministic and joinable back onto any node-attribute table (the
node-attr passthrough the reference gets for free from networkx).

Algorithm: alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) — each
iteration rewires edges toward neighborhood minima; the edge set converges
to a star forest whose centers are the component minima in O(log² n)
iterations (a handful in practice). This replaces the round-2/3 min-label
propagation + pointer-jumping kernel, whose label wavefront creeps one
graph hop per round through basin interiors — O(component diameter)
rounds on stringy geometric ε-graphs (measured non-convergent at 20
rounds on a 5 889-node blob that large/small-star finishes in 6).
Every iteration is two groupBy/join shuffles keyed by node id, with a
parquet materialization as a hard lineage cut (_materialize).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _materialize(df: DataFrame, tag: str) -> DataFrame:
    """Write df to parquet and read it back — a HARD lineage cut.

    Iterative self-joins double the RDD DAG every round (each round
    references the previous state twice); in this Spark build neither
    localCheckpoint nor reliable checkpoint truncates the dependency walk,
    so scheduler overhead grows 2^rounds (measured: iteration 24 of a
    6 000-row loop takes 105 s). A parquet round-trip per round is the
    standard iterative-graph checkpoint pattern (GraphX/GraphFrames do
    the same against HDFS) and keeps every round O(state size)."""
    spark = df.sparkSession
    import getpass

    base = spark.sparkContext.getCheckpointDir() or os.path.join(
        tempfile.gettempdir(), f"spark_graft_cc_{getpass.getuser()}"
    )
    path = os.path.join(base, f"{tag}_{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    out._cc_path = path  # noqa: SLF001 — cleanup bookkeeping
    return out


# Edge-count ceiling for the driver union-find fast path — same guarded-dim
# pattern as ann.GEMM_CORPUS_LIMIT: ≤ this many distinct undirected edges is
# a dim-sized graph (≤ ~80 MB collected), solved exactly in one pass; larger
# graphs take the distributed star loop.
SMALL_GRAPH_EDGE_LIMIT = 5_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 20,
    small_graph_limit: int = SMALL_GRAPH_EDGE_LIMIT,
) -> DataFrame:
    """Edge list → (node, comp) labels, comp = min node id per component.

    edges may be directed (symmetrized internally). By default the node
    set is every endpoint appearing in edges; pass `nodes` to include
    isolated nodes (they label themselves).

    Physical strategy is size-dispatched (one count() action): a graph
    under small_graph_limit distinct edges is a DIM — collected and solved
    exactly with union-find (path-compressed, O(E α(E))), skipping the
    iterative shuffles entirely. Larger graphs run the distributed
    large/small-star loop, raising after max_iter iterations rather than
    returning silently-split components (O(log² n) needed; max_iter=20 is
    far beyond any physical corpus — non-convergence indicates a bug, not
    a big graph). Both paths are output-identical (pytest-asserted)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    canon = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
    )
    if small_graph_limit and small_graph_limit > 0:
        # single-pass dispatch: fetch at most limit+1 edges via Arrow and
        # decide from the row count. The former two-stage probe (count,
        # then collect) re-evaluated the entire edge lineage twice — for
        # an ε-range edge list that doubles the candidate join. The
        # driver transfer stays bounded at limit+1 rows (~80 MB at the
        # 5M ceiling) even on a planet-scale graph, and the numpy label
        # propagation replaces the per-edge Python union-find loop
        # (guide §5 driver bounds, §6 Arrow for driver transfers)
        sample = canon.limit(small_graph_limit + 1).toPandas()
        if len(sample) <= small_graph_limit:
            return _cc_label_prop(
                edges.sparkSession, sample, e, nodes, node_col
            )
    cur = _materialize(canon, "cc_edges")
    scratch: list[str] = [cur._cc_path]

    def _large_star(E: DataFrame) -> DataFrame:
        """(u,v) → for each center c with neighborhood N(c): connect every
        STRICTLY LARGER neighbor to m = min(N(c) ∪ {c})."""
        symE = E.select("u", "v").unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = symE.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # no distinct here: duplicates are harmless to small_star's
        # groupBy-min and its final distinct canonicalizes — dropping the
        # extra shuffle saves ~25% per iteration
        return (
            symE.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )

    def _small_star(E: DataFrame) -> DataFrame:
        """Orient edges large→small; every center connects its ≤ neighbors
        (and itself) to the minimum."""
        d = E.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = d.join(mins, "u").where(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        centers = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            nbrs.unionByName(centers)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _sig(E: DataFrame):
        # order-independent set signature: xor of per-edge xxhash64 — can
        # never overflow (the previous sum(u*v) form raised
        # ArithmeticException under ANSI mode once id magnitudes pushed the
        # product past int64, i.e. exactly on the >limit distributed path
        # this signature exists for), and a 64-bit xor collision between
        # consecutive DIFFERENT edge sets (~2^-64) is far rarer than a
        # colliding pair of sums
        row = E.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    sig = _sig(cur)
    converged = False
    for it in range(max_iter):
        cur = _materialize(_small_star(_large_star(cur)), f"cc_iter{it}")
        scratch.append(cur._cc_path)
        new_sig = _sig(cur)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_iter} "
            "large/small-star iterations"
        )
    # the returned labels plan only references the LAST materialization;
    # best-effort-delete every earlier scratch dir (long-lived sessions
    # would otherwise accumulate one dir set per CC invocation)
    import shutil

    for pth in scratch[:-1]:
        shutil.rmtree(pth, ignore_errors=True)
    # converged edge set is a star forest (v = component min for every u)
    star = cur.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    if nodes is None:
        node_df = e.select(F.col("src").alias("node")).unionByName(
            e.select(F.col("dst").alias("node"))
        ).distinct()
    else:
        node_df = nodes.select(F.col(node_col).alias("node")).distinct()
    return node_df.join(star, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )


def _cc_label_prop(spark, edge_pdf, e: DataFrame, nodes, node_col: str):
    """Driver labels for a dim-sized edge list: vectorized min-label
    propagation with pointer doubling over compacted node indices —
    comp = min id per component, identical to the old per-edge union-find
    (pytest-asserted vs the distributed path) but O(E) numpy passes per
    round instead of a Python loop per edge."""
    import numpy as np
    import pyarrow as pa

    u = edge_pdf["u"].to_numpy(dtype=np.int64)
    v = edge_pdf["v"].to_numpy(dtype=np.int64)
    ids = np.unique(np.concatenate([u, v])) if len(u) else np.empty(0, np.int64)
    iu = np.searchsorted(ids, u)
    iv = np.searchsorted(ids, v)
    m = len(ids)
    label = np.arange(m, dtype=np.int64)
    eu, ev = iu, iv
    # contracting min-label rounds: after each pull+compress the edge set
    # is rewritten onto the surviving labels and deduplicated, so the
    # per-round work collapses geometrically (a flat label/edge loop on a
    # stringy ε-graph otherwise needs O(chain length) full-size rounds —
    # 22 measured on the sf1 500 km graph)
    while len(eu):
        l2 = label.copy()
        # pull the smaller label across every remaining edge
        np.minimum.at(l2, eu, label[ev])
        np.minimum.at(l2, ev, label[eu])
        # pointer doubling: chase labels-of-labels to a fixed point
        while True:
            nl = l2[l2]
            if np.array_equal(nl, l2):
                break
            l2 = nl
        label = l2
        eu, ev = label[eu], label[ev]
        live = eu != ev
        if not live.any():
            break
        lo = np.minimum(eu[live], ev[live])
        hi = np.maximum(eu[live], ev[live])
        packed = np.unique(lo * m + hi)
        eu, ev = packed // m, packed % m
    # safety net: fixpoint check over the ORIGINAL edge list (normally a
    # single no-op pass) — guarantees every edge's endpoints share the
    # component-minimum label even if a contraction round left a stale
    # chain, independent of the loop above
    while len(iu):
        l2 = label.copy()
        np.minimum.at(l2, iu, label[iv])
        np.minimum.at(l2, iv, label[iu])
        while True:
            nl = l2[l2]
            if np.array_equal(nl, l2):
                break
            l2 = nl
        if np.array_equal(l2, label):
            break
        label = l2
    # already columnar (up to 2 × small_graph_limit nodes): straight to Arrow
    lab = spark.createDataFrame(pa.table({"node": ids, "comp": ids[label]}))
    if nodes is None:
        node_df = e.select(F.col("src").alias("node")).unionByName(
            e.select(F.col("dst").alias("node"))
        ).distinct()
    else:
        node_df = nodes.select(F.col(node_col).alias("node")).distinct()
    return node_df.join(lab, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )


def with_component(
    points: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """points + a `comp` column (node-attr passthrough form: every input
    column survives; isolated points label themselves)."""
    labels = connected_components(
        edges, src=src, dst=dst, nodes=points, node_col=id_col,
        max_iter=max_iter,
    )
    return points.join(
        labels.withColumnRenamed("node", id_col), id_col, "inner"
    )
