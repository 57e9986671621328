"""Text kernels over the web-pages table — all vectorized pandas UDFs
(Arrow-batched; no per-row Python UDFs anywhere, per the input_hint).

``extract_text`` is THE per-row invariant of the engine: byte-identical
extracted text per url (BASELINE.json). It is deterministic pure-Python
string processing — same bytes in, same str out, on any executor. The
reference's analog stage is the EntityProcessor normalization pipeline
(gigaspatial/processing/entity_processor.py:171-232, NFKC at :359-364);
here the normalization domain is html instead of survey rows.

Geo-entity extraction turns pages into points: documents embed
"(lat, lon)" coordinate mentions; the UDF regex-extracts every pair,
producing the point stream the spatial joins consume (the engine's
web-scale replacement for the reference's file-based point ingest).

``extract_text_py`` is ``_markup_text`` (decode → script → comment →
block → tag → unescape → NFKC) followed by a whitespace tail. The fused
enrichment kernel reads only the coordinates, so ``geo_points_batch``
skips the tail and runs one coordinate regex pass over a whole Arrow
batch's markup text. That is exact: the tail only collapses or strips
whitespace and never empties a run between two non-space characters,
and ``_RE_COORD`` admits whitespace only in its ``\\s*`` after the comma,
which accepts any run; the ``\\x00`` joining the documents matches no
part of the pattern, so no match spans two documents.
"""

from __future__ import annotations

import html as _htmllib
import re
import unicodedata
from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_RE_SCRIPT = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
_RE_BLOCK = re.compile(r"(?i)<(?:br\s*/?|/p|/div|/h[1-6]|/li|/tr)\s*>")
_RE_TAG = re.compile(r"(?s)<[^>]*>")
_RE_WS = re.compile(r"[ \t\r\f\v]+")
_RE_NL = re.compile(r"\n\s*\n+")
# every str-whitespace char where str.split() and the frozen regex tail
# could disagree (information separators, NEL, NBSP family, ogham space,
# en/em spaces, LS/PS, narrow/math/ideographic spaces). NFKC folds most of
# these to plain space before the tail runs, but the guard covers them all
# so the fast tail is byte-equivalent on ARBITRARY strings, not just
# post-NFKC ones (hypothesis-verified)
_RE_EXOTIC_WS = re.compile(
    "[\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
)


def _tail_exact(s: str) -> str:
    """The frozen reference tail: collapse spaces → collapse blank lines →
    per-line strip → strip."""
    s = _RE_WS.sub(" ", s)
    s = _RE_NL.sub("\n", s)
    s = "\n".join(line.strip() for line in s.split("\n"))
    return s.strip()


def _tail_fast(s: str) -> str:
    """Byte-identical fast path for inputs free of _RE_EXOTIC_WS (the hot
    case — the exotic class survives neither the generator nor NFKC'd real
    text): the exact tail reduces to 'join the nonempty ws-collapsed
    stripped lines', which str.split does in C at ~2× the regex pipeline.
    Equivalence is property-tested against _tail_exact (test_properties)."""
    out = []
    for ln in s.split("\n"):
        ln = " ".join(ln.split())
        if ln:
            out.append(ln)
    return "\n".join(out)


def _markup_text(raw: bytes) -> str:
    """The shared prefix of extract_text_py: strip script/style → strip
    comments → block tags to newline → strip all tags → decode entities →
    NFKC. The whitespace is left as the markup produced it."""
    s = raw.decode("utf-8", errors="replace")
    s = _RE_SCRIPT.sub(" ", s)
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_BLOCK.sub("\n", s)
    s = _RE_TAG.sub(" ", s)
    s = _htmllib.unescape(s)
    return unicodedata.normalize("NFKC", s)


def extract_text_py(raw: bytes) -> str:
    """Deterministic html→text. Order matters and is frozen:
    _markup_text → collapse spaces → collapse blank lines → strip.
    Changing any step breaks the byte-identical invariant."""
    s = _markup_text(raw)
    if _RE_EXOTIC_WS.search(s):
        return _tail_exact(s)
    return _tail_fast(s)


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py, na_action="ignore")


_RE_COORD = re.compile(
    r"\((-?\d{1,2}(?:\.\d+)?),\s*(-?\d{1,3}(?:\.\d+)?)\)"
)

_ENTITY_SCHEMA = ArrayType(
    StructType(
        [StructField("ent_lat", DoubleType()), StructField("ent_lon", DoubleType())]
    )
)


def _in_range(lat, lon):
    """The coordinate range filter, on floats or on float64 arrays."""
    return (lat >= -90.0) & (lat <= 90.0) & (lon >= -180.0) & (lon <= 180.0)


def extract_geo_entities_py(text: str) -> list[tuple[float, float]]:
    out = []
    for a, b in _RE_COORD.findall(text):
        lat, lon = float(a), float(b)
        if _in_range(lat, lon):
            out.append((lat, lon))
    return out


def geo_points_batch(htmls) -> tuple[np.ndarray, np.ndarray]:
    """float64 (lat, lon) of every in-range coordinate mention in a batch
    of html documents, in document order: equal to concatenating
    extract_geo_entities_py(extract_text_py(h)) over the batch (see the
    module docstring for why the whitespace tail can be skipped)."""
    pairs = _RE_COORD.findall("\x00".join(map(_markup_text, htmls)))
    xy = np.fromiter(
        map(float, chain.from_iterable(pairs)), np.float64, 2 * len(pairs)
    ).reshape(-1, 2)
    lat, lon = xy[:, 0], xy[:, 1]
    keep = _in_range(lat, lon)
    return lat[keep], lon[keep]


@F.pandas_udf(_ENTITY_SCHEMA)
def extract_geo_entities(text: pd.Series) -> pd.Series:
    return text.map(extract_geo_entities_py, na_action="ignore")


# --------------------------------------------------------- text analytics
TOKEN_RE = r"[A-Za-z0-9]+(?:'[A-Za-z]+)?"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "en"],
    "fr": ["le", "la", "de", "et", "les"],
    "de": ["der", "die", "und", "das", "ist"],
}


def token_count_sql(text_col: str) -> str:
    """Whitespace token count: size(split(trim, '\\s+')), 0 for empty or
    blank strings."""
    return (
        f"CASE WHEN length(trim({text_col})) = 0 THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({text_col}), '\\s+')) END"
    )


def stopword_hits_sql(text_col: str, lang: str) -> str:
    """Count of ``lang`` stopword occurrences, each counted as the
    substring ' w ' of the space-padded text (no word-boundary regex)."""
    padded = f"(' ' || {text_col} || ' ')"
    terms = []
    for w in STOPWORDS[lang]:
        pat = f" {w} "
        terms.append(
            f"((length({padded}) - length(replace({padded}, '{pat}', ''))) / {len(pat)})"
        )
    return f"cast(({' + '.join(terms)}) as bigint)"


def predicted_lang_sql(text_col: str) -> str:
    """Stopword language-ID heuristic: argmax of per-language stopword
    hits, ties to the first language code; 'und' when all are 0."""
    langs = sorted(STOPWORDS)
    scores = {lg: stopword_hits_sql(text_col, lg) for lg in langs}
    whens = []
    for lg in langs:
        conds = []
        for other in langs:
            if other == lg:
                continue
            op = ">" if other < lg else ">="
            conds.append(f"({scores[lg]} {op} {scores[other]})")
        conds.append(f"({scores[lg]} > 0)")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


PUNCT_CHARS = ".,!?;:"


def quality_sqls(text_col: str) -> dict[str, str]:
    """Quality-scoring signals: length, token count, punct ratio (over the
    fixed class .,!?;:) and mean token length."""
    length = f"length({text_col})"
    tokens = token_count_sql(text_col)
    stripped = text_col
    for ch in PUNCT_CHARS:
        stripped = f"replace({stripped}, '{ch}', '')"
    punct = f"({length} - length({stripped}))"
    return {
        "n_chars_extracted": f"cast({length} as bigint)",
        "n_tokens": f"cast({tokens} as bigint)",
        "punct_ratio": f"round({punct} / greatest({length}, 1), 4)",
        "mean_token_len": f"round(({length} - {tokens} + 1) / greatest({tokens}, 1), 2)",
    }


def repetition_stats(docs, text_col: str = "text", doc_id: str = "doc_id",
                     extra_cols: tuple = ()):
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1 repetition filters — the standard LLM-corpus quality
    family beyond length/punct/stopword stats): fraction of tokens taken
    by the single most frequent word, duplicate-word fraction, and the
    most frequent word-bigram's share, in rounded parts-per-million so
    cross-engine sums stay exact.

    One Arrow kernel pass (guide §4.2): the former native plan built the
    word and bigram histograms as two explode→groupBy→groupBy chains and
    re-joined them onto the base — three evaluations of the split and two
    (doc, term) shuffles for statistics that are per-document local. A
    per-doc Counter in the batch kernel computes all three signals in one
    scan-only stage with zero shuffles. Arithmetic parity with the old
    expressions (and with the DuckDB oracle) is exact: Python floats ARE
    the same IEEE doubles with the same operation order, and the HALF_UP
    rounding is replayed via Decimal(repr(x)) — repr emits the shortest
    round-trip decimal, precisely what Spark's Round (Scala
    BigDecimal(double)) parses before HALF_UP.

    ``extra_cols``: columns echoed through the kernel unchanged (e.g. a
    language key), saving the caller a join back onto the source."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    one = Decimal(1)

    def rhu(x: float) -> int:
        return int(Decimal(repr(x)).quantize(one, rounding=ROUND_HALF_UP))

    extra_fields = [
        f for f in docs.schema.fields if f.name in extra_cols
    ]

    def kernel(batches):
        for pdf in batches:
            nws, tops, dups, bigs = [], [], [], []
            for text in pdf[text_col]:
                ws = text.split(" ")
                n = len(ws)
                c = Counter(ws)
                topw = max(c.values())
                nd = len(c)
                nws.append(n)
                tops.append(rhu(1e6 * topw / n))
                dups.append(rhu(1e6 * (n - nd) / n))
                if n >= 2:
                    tg = max(Counter(zip(ws, ws[1:])).values())
                    bigs.append(rhu(1e6 * tg / (n - 1)))
                else:
                    bigs.append(0)
            out = {doc_id: pdf[doc_id]}
            for cname in extra_cols:
                out[cname] = pdf[cname]
            out.update(
                n_words=nws, top_word_ppm=tops, dup_word_ppm=dups,
                top_bigram_ppm=bigs,
            )
            yield pd.DataFrame(out)

    schema = StructType(
        [StructField(doc_id, LongType())]
        + extra_fields
        + [
            StructField("n_words", IntegerType()),
            StructField("top_word_ppm", LongType()),
            StructField("dup_word_ppm", LongType()),
            StructField("top_bigram_ppm", LongType()),
        ]
    )
    cols = [doc_id, *extra_cols, text_col]
    return docs.select(*cols).mapInPandas(kernel, schema=schema)


def tfidf_top_terms(
    docs, k: int = 3, group_col: str = "lang",
    text_col: str = "text", doc_id: str = "doc_id",
):
    """Per-group top-k terms by tf-idf (corpus characterization — the
    standard first look at what distinguishes a language/domain slice).

    tf = term occurrences within the group; idf = ln(N / df) with df =
    docs containing the term corpus-wide and N = corpus size. Scores
    are rounded to 6 decimals BEFORE ranking so the ordering (score
    desc, term asc) is deterministic across engines (the house
    libm-parity rule: ln of identical integer ratios agrees to ~1e-15;
    rounding collapses that to exact). Plan: one explode over the
    materialized words array (HOF-CSE rule), two hash aggregates, a
    broadcast of the 1-row corpus count, one window — no Python."""
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    terms = docs.withColumn("_w", words).select(
        group_col, doc_id, F.explode("_w").alias("term")
    )
    tf = terms.groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = terms.groupBy("term").agg(
        F.count_distinct(F.col(doc_id)).alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score6",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("n").cast("double") / F.col("df").cast("double")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("score6").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(group_col, "rank", "term", "tf", "df", "score6")
    )
