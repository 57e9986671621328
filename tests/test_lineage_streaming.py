"""Lineage kill-resume and streaming-vs-batch equivalence."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from giga_spatial_spark import synth
from giga_spatial_spark.plans.lineage import LineageStage
from giga_spatial_spark.streaming.pipeline import windowed_event_counts

from .conftest import SF_DIR


def test_lineage_kill_resume(spark):
    tmp = tempfile.mkdtemp(prefix="lineage_")
    try:
        docs = synth.with_coords(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"), "doc_id"
        ).withColumn("unit", (F.col("doc_id") % 4).cast("string"))

        def transform(df):
            return df.select("unit", "doc_id", (F.col("lat") + F.col("lon")).alias("v"))

        stage = LineageStage(os.path.join(tmp, "stage1"))

        # simulate a killed job: only half the units complete
        first = stage.run(docs.where(F.col("unit").isin(["0", "1"])), transform)
        assert first == 2
        manifest_after_first = stage.completed_units()
        data_files = {
            os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
            for root, _, files in os.walk(os.path.join(tmp, "stage1", "data"))
            for f in files
            if f.endswith(".parquet")
        }

        # resume with the full input: only the missing units run
        second = stage.run(docs, transform)
        assert second == 2
        # completed units were NOT recomputed: their manifest entries and
        # parquet files are untouched
        manifest_final = stage.completed_units()
        for u in ["0", "1"]:
            assert manifest_final[u] == manifest_after_first[u]
        for root, _, files in os.walk(os.path.join(tmp, "stage1", "data")):
            for f in files:
                p = os.path.join(root, f)
                if p in data_files:
                    assert os.path.getmtime(p) == data_files[p]

        # third run: fully resumed, zero work
        assert stage.run(docs, transform) == 0

        # read-back equals a direct computation
        got = stage.read(spark).select("doc_id").toPandas()
        expected = transform(docs).select("doc_id").toPandas()
        assert sorted(got["doc_id"]) == sorted(expected["doc_id"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lineage_h3_cover(spark):
    """cover=(lat, lon, res) adds a compact geodesic-H3 cover to each
    manifest record: every row's res-R cell must be contained in its
    unit's cover (after uncompaction), covers hold only ancestors-or-equal
    of touched cells, and resume keeps them byte-stable."""
    import numpy as np

    from giga_spatial_spark import cells_h3

    tmp = tempfile.mkdtemp(prefix="lineage_cov_")
    res = 4
    try:
        docs = synth.with_coords(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"), "doc_id"
        ).withColumn("unit", (F.col("doc_id") % 3).cast("string"))

        def transform(df):
            return df.select("unit", "doc_id", "lat", "lon")

        stage = LineageStage(
            os.path.join(tmp, "stage1"), cover=("lat", "lon", res)
        )
        assert stage.run(docs, transform) == 3
        manifest = stage.completed_units()

        pdf = transform(docs).toPandas()
        cells = cells_h3.latlng_to_cell(
            pdf["lat"].to_numpy(np.float64), pdf["lon"].to_numpy(np.float64), res
        )
        for u in ["0", "1", "2"]:
            cover = manifest[u]["h3_cover"]
            assert cover, f"unit {u} has an empty cover"
            packed = cells_h3.string_to_h3(np.array(cover))
            # compact form: strictly fewer-or-equal entries than raw cells
            raw = np.unique(cells[(pdf["unit"] == u).to_numpy()])
            assert len(packed) <= len(raw)
            flat = cells_h3.uncompact(packed, res)
            assert set(raw.tolist()) <= set(flat.tolist())
            # and nothing outside: uncompacted cover == exact distinct set
            assert set(flat.tolist()) == set(raw.tolist())

        # resume: zero work, cover records untouched
        assert stage.run(docs, transform) == 0
        assert stage.completed_units() == manifest
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_enrich_equals_batch(spark):
    """The flagship enrichment as a stream (file source over generated
    pages) must produce the same per-zone tag multiset as the batch path."""
    from giga_spatial_spark import synth
    from giga_spatial_spark.pipeline import entity_points, extract_stage
    from giga_spatial_spark.operators.pip_join import pip_join_rtree
    from giga_spatial_spark.sources.webpages import webpages_df
    from giga_spatial_spark.streaming.pipeline import streaming_enrich

    tmp = tempfile.mkdtemp(prefix="senrich_")
    try:
        src = os.path.join(tmp, "pages")
        webpages_df(spark, 400).write.parquet(src)
        polys = synth.make_admin_polygons()

        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        q = (
            streaming_enrich(stream, polys)
            .writeStream.format("memory")
            .queryName("enrich_out")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # the micro-batch runs html → entities in one Python eval node
        from tools.python_plan_scan import python_nodes

        micro = q._jsq.streamingQuery().lastExecution().executedPlan()
        assert [n for n, _ in python_nodes(micro)].count("ArrowEvalPython") == 1
        got = (
            spark.sql("select zone_id, count(*) n from enrich_out group by zone_id")
            .toPandas()
            .sort_values("zone_id")
            .reset_index(drop=True)
        )

        pages = spark.read.parquet(src)
        batch = (
            pip_join_rtree(entity_points(extract_stage(pages)), polys, zoom=6)
            .groupBy("zone_id")
            .count()
            .withColumnRenamed("count", "n")
            .toPandas()
            .sort_values("zone_id")
            .reset_index(drop=True)
        )
        assert got.astype("int64").equals(batch.astype("int64"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_exact_dedup_equals_batch(spark):
    """Streaming dedup survivor SET equals the batch distinct-digest set
    (arrival order within a microbatch is nondeterministic, so compare the
    digest sets, not survivor ids)."""
    from giga_spatial_spark.streaming.pipeline import streaming_exact_dedup

    tmp = tempfile.mkdtemp(prefix="stream_")
    try:
        src_dir = os.path.join(tmp, "docs_src")
        os.makedirs(src_dir)
        shutil.copy(f"{SF_DIR}/documents.parquet", src_dir)
        schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
        stream = spark.readStream.schema(schema).format("parquet").load(src_dir)
        out = streaming_exact_dedup(stream).select("digest", "doc_id")
        q = (
            out.writeStream.format("memory")
            .queryName("doc_dedup")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from doc_dedup").toPandas()
        batch = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select(F.md5(F.col("text").cast("binary")).alias("digest"))
            .distinct()
            .toPandas()
        )
        assert len(got) == len(batch)  # exactly one survivor per digest
        assert sorted(got["digest"]) == sorted(batch["digest"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_window_equals_batch(spark):
    tmp = tempfile.mkdtemp(prefix="stream_")
    try:
        # the file stream source needs a directory; stage the events parquet
        src_dir = os.path.join(tmp, "events_src")
        os.makedirs(src_dir)
        shutil.copy(f"{SF_DIR}/events.parquet", src_dir)
        schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
        stream = spark.readStream.schema(schema).format("parquet").load(src_dir)
        out = windowed_event_counts(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("ev_counts")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from ev_counts").toPandas()

        batch = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .withColumn("hour", F.date_trunc("hour", F.col("ts")))
            .groupBy("hour", "event_type")
            .agg(
                F.count(F.lit(1)).alias("event_count"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
            )
            .toPandas()
        )
        for pdf in (got, batch):  # normalize tz-aware vs NTZ to naive
            if getattr(pdf["hour"].dtype, "tz", None) is not None:
                pdf["hour"] = pdf["hour"].dt.tz_localize(None)
        key = ["hour", "event_type"]
        g = got.sort_values(key).reset_index(drop=True)
        b = batch.sort_values(key).reset_index(drop=True)
        assert g[["hour", "event_type", "event_count", "value_cents"]].equals(
            b[["hour", "event_type", "event_count", "value_cents"]]
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_h3_rollup_equals_batch(spark):
    """Streaming per-H3-cell windowed counts (geodesic-grid rollup with
    the Arrow assign kernel as a stateless streaming transform) must
    equal the batch twin q_h3_events on the same data."""
    import __spark_entry__ as E
    from giga_spatial_spark.streaming.pipeline import h3_windowed_counts

    tmp = tempfile.mkdtemp(prefix="stream_h3_")
    try:
        src_dir = os.path.join(tmp, "events_src")
        os.makedirs(src_dir)
        shutil.copy(f"{SF_DIR}/events.parquet", src_dir)
        schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
        stream = spark.readStream.schema(schema).format("parquet").load(src_dir)
        out = h3_windowed_counts(stream, res=E.H3_EVENTS_RES)
        q = (
            out.writeStream.format("memory")
            .queryName("h3_counts")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from h3_counts").toPandas()
        batch = E.q_h3_events(spark, SF_DIR).toPandas()
        for pdf in (got, batch):
            if getattr(pdf["hour"].dtype, "tz", None) is not None:
                pdf["hour"] = pdf["hour"].dt.tz_localize(None)
        key = ["hour", "h3_cell"]
        g = got.sort_values(key).reset_index(drop=True)
        b = batch.sort_values(key).reset_index(drop=True)
        assert g[key + ["event_count"]].equals(b[key + ["event_count"]])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_url_dedup_equals_batch(spark):
    """Composability: canonical-URL dedup as a STREAM — messy URL
    variants (case / default port / utm params / fragments) arrive as a
    file stream, are canonicalized by the native expression and deduped
    on the canonical key with state-store backing; the survivor key set
    equals the batch groupBy. The crawl-frontier shape: dedup BEFORE
    fetch/extract, keyed by canonical URL."""
    import pandas as pd

    from giga_spatial_spark.functions.dialect import spark_col
    from giga_spatial_spark.functions.url import canonical_url_sql

    tmp = tempfile.mkdtemp(prefix="stream_url_")
    try:
        src_dir = os.path.join(tmp, "urls_src")
        os.makedirs(src_dir)
        variants = []
        for b in range(40):
            variants += [
                (4 * b + 0, f"https://site{b}.org/p?a={b}&b=1"),
                (4 * b + 1, f"HTTPS://site{b}.ORG/p?a={b}&b=1"),
                (4 * b + 2, f"https://site{b}.org:443/p?b=1&a={b}#frag"),
                (4 * b + 3, f"https://site{b}.org/p?utm_source=x&a={b}&b=1"),
            ]
        pd.DataFrame(variants, columns=["rid", "url"]).to_parquet(
            os.path.join(src_dir, "urls.parquet")
        )
        schema = "rid bigint, url string"
        stream = spark.readStream.schema(schema).format("parquet").load(src_dir)
        canon = stream.withColumn("curl", spark_col(canonical_url_sql("url")))
        out = canon.dropDuplicates(["curl"])
        q = (
            out.writeStream.format("memory")
            .queryName("url_dedup")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select curl from url_dedup").toPandas()
        assert len(got) == 40  # 160 variants -> 40 canonical survivors
        assert sorted(got.curl) == sorted(
            f"https://site{b}.org/p?a={b}&b=1" for b in range(40)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_greedy_packing_matches_batch(spark):
    """Stateful streaming sequence packing (pack_greedy_stream): docs
    arriving across TWO micro-batches pack into the same bins as the
    batch pack_greedy over the union — per-shard (bin, fill) state
    carries across batches, bins never exceed the budget."""
    import pandas as pd

    from giga_spatial_spark.operators.packing import pack_greedy
    from giga_spatial_spark.streaming.sessionize import pack_greedy_stream

    tmp = tempfile.mkdtemp(prefix="stream_pack_")
    try:
        src_dir = os.path.join(tmp, "docs_src")
        os.makedirs(src_dir)
        rows = [(i, i % 3, 40 + (i * 7) % 90) for i in range(120)]
        # two files = two micro-batches with maxFilesPerTrigger=1,
        # split in doc_id order so streaming sees ids monotonically
        pd.DataFrame(rows[:60], columns=["doc_id", "shard", "n_tokens"]).to_parquet(
            os.path.join(src_dir, "a_part1.parquet")
        )
        pd.DataFrame(rows[60:], columns=["doc_id", "shard", "n_tokens"]).to_parquet(
            os.path.join(src_dir, "b_part2.parquet")
        )
        schema = "doc_id bigint, shard bigint, n_tokens bigint"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src_dir)
        )
        out = pack_greedy_stream(stream, budget=256)
        q = (
            out.writeStream.format("memory")
            .queryName("packed_stream")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.sql("select shard, doc_id, n_tokens, bin from packed_stream")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert len(got) == 120
        df = spark.createDataFrame(rows, "doc_id long, shard long, n_tokens long")
        want = (
            pack_greedy(df, budget=256)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)[["shard", "doc_id", "n_tokens", "bin"]]
        )
        assert got["bin"].tolist() == want["bin"].tolist()
        fills = got.groupby(["shard", "bin"])["n_tokens"].sum()
        assert (fills <= 256).all()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
