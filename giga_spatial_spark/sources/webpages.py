"""Deterministic Common-Crawl-style web-pages table generator.

Produces exactly the input_hint shape:
    (url string, warc_ts timestamp, html binary, text string, lang string)

Generated *distributed* — ``spark.range(n)`` sharded across executors, each
Arrow batch synthesized from pure id arithmetic (no RNG state, no driver
loop), so the same n yields byte-identical rows at any parallelism and any
partitioning. ``text`` is populated by running the engine's own
``extract_text_py`` on the generated html at generation time, which makes
the byte-identical-extraction invariant (BASELINE.json) testable: for every
row, extract_text(html) == text must hold exactly.

Skew by construction: ~30% of geo mentions land in 3 hot urban clusters
(a few mercator tiles at the join zoom), so skew handling (salting + AQE)
is exercised by the benchmarks, per SURVEY.md §7 risks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.text import STOPWORDS, extract_text_py

WORDS = (
    "the quick brown fox jumps over lazy dog data spark shuffle join tile "
    "zone raster vector index cover broadcast skew salt page crawl web text "
    "el la de que en le et les der die und das river city north south"
).split()

HOT_CLUSTERS = [  # (lat, lon) urban hot spots — each maps into one hot tile
    (40.71, -74.00),
    (51.50, -0.12),
    (35.68, 139.69),
]

LANGS = ["en", "es", "fr", "de"]

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _doc_coords(ids: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """k-th geo mention per doc: 30% clustered (skew), 70% uniform-ish,
    all pure integer/float arithmetic on the id."""
    h = (ids * 2654435761 + k * 97) % (2**31)
    clustered = (h % 10) < 3
    ci = h % len(HOT_CLUSTERS)
    base_lat = np.array([HOT_CLUSTERS[i][0] for i in range(len(HOT_CLUSTERS))])
    base_lon = np.array([HOT_CLUSTERS[i][1] for i in range(len(HOT_CLUSTERS))])
    jit_lat = ((h // 7) % 2000) / 10000.0 - 0.1  # ±0.1°
    jit_lon = ((h // 11) % 2000) / 10000.0 - 0.1
    u_lat = ((h // 13) % 16000) / 100.0 - 80.0
    u_lon = ((h // 17) % 36000) / 100.0 - 180.0
    lat = np.where(clustered, base_lat[ci] + jit_lat, u_lat)
    lon = np.where(clustered, base_lon[ci] + jit_lon, u_lon)
    return np.round(lat, 4), np.round(lon, 4)


def _make_batch(ids: np.ndarray) -> pd.DataFrame:
    n = len(ids)
    lang_idx = ids % len(LANGS)
    n_mentions = ids % 4  # 0..3 geo mentions per page
    n_words = 20 + (ids % 60)
    urls = [f"https://example.org/page/{i}" for i in ids]
    ts = pd.to_datetime((1_600_000_000 + (ids % 86_400) * 31) * 10**9)
    # the k-th mention's span per doc (k < 3), one _doc_coords call per k
    mention_k = []
    for k in range(3):
        lat, lon = _doc_coords(ids, k)
        mention_k.append([
            f'<span class="geo">({a:.4f}, {o:.4f})</span>'
            for a, o in zip(lat.tolist(), lon.tolist())
        ])

    htmls: list[bytes] = []
    for row in range(n):
        i = int(ids[row])
        nw = int(n_words[row])
        widx = (i * 31 + np.arange(nw) * 7) % len(WORDS)
        body_words = [WORDS[j] for j in widx]
        # language-marker stopwords woven in deterministically
        lang = LANGS[int(lang_idx[row])]
        for m, w in enumerate(STOPWORDS[lang]):
            body_words.insert((i + m * 5) % max(len(body_words), 1), w)
        paras = []
        chunk = max(8, len(body_words) // 3)
        for s in range(0, len(body_words), chunk):
            paras.append("<p>" + " ".join(body_words[s : s + chunk]) + "</p>")
        mentions = [mention_k[k][row] for k in range(int(n_mentions[row]))]
        html = (
            f"<html><head><title>Page {i}</title>"
            f"<style>p {{margin: 0}}</style>"
            f"<script>var x_{i % 7} = {i};</script></head>"
            f"<body><h1>Doc &amp; page #{i}</h1>"
            + "".join(paras)
            + " ".join(mentions)
            + "<!-- crawl meta -->"
            f"<div>lang={lang}</div></body></html>"
        )
        htmls.append(html.encode("utf-8"))

    texts = [extract_text_py(h) for h in htmls]
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": [LANGS[int(j)] for j in lang_idx],
        }
    )


def webpages_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed generation of n pages."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    base = spark.range(0, n, 1, partitions)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield _make_batch(pdf["id"].to_numpy())

    return base.mapInPandas(gen, schema=SCHEMA)


def ensure_webpages_parquet(spark: SparkSession, n: int, path: str) -> str:
    """Materialize (idempotently) the generated table as parquet — the
    benchmark input, standing in for the Iceberg table at sandbox scale."""
    import os

    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        webpages_df(spark, n).write.mode("overwrite").parquet(path)
    return path
