"""URL canonicalization — pure native column expressions, zero Python.

A web-corpus engine's most common dedup key after content digests is the
canonical URL (the input_hint table keys rows by ``url``; Common-Crawl
pipelines collapse scheme/case/port/param-order/tracking variants before
content dedup). The reference has no URL ops (its entities key on UUID3,
entity_processor.py:1155) — this module is part of the training-data
pipeline surface the build brief adds. Everything is built from
regexp_extract / split / array ops so it stays inside whole-stage
codegen. ``canonical_url_sql`` is written once in DuckDB SQL: the
q_canonical_url oracle runs it as is, and the engine parses the same
text with ``dialect.spark_col``.

Canonical form (documented choices, applied in this order):

  1. fragment stripped (``#...``),
  2. userinfo dropped (everything up to the last ``@`` of the
     authority — credentials never participate in a dedup key),
  3. scheme and host lowercased; trailing dot of the host dropped;
     bracketed IPv6 literals (``[::1]``) kept whole with the port
     parsed after the closing bracket,
  4. default ports removed (``:80`` for http, ``:443`` for https;
     other ports kept),
  5. empty path becomes ``/``,
  6. query parameters: empty fragments and ``utm_*`` tracking params
     dropped, the rest sorted bytewise and re-joined with ``&``; an
     emptied query drops its ``?``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def url_host_expr(col: Column) -> Column:
    """Lowercased host (no userinfo, no port, no trailing dot) — the
    groupBy key for per-site statistics. Bracketed IPv6 literals are
    kept whole."""
    rest = F.regexp_replace(col, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, "^([^/?#]*)", 1)
    hp = F.regexp_replace(hostport, "^.*@", "")
    return F.when(
        hp.startswith("["),
        F.lower(F.regexp_extract(hp, "^(\\[[^\\]]*\\])", 1)),
    ).otherwise(
        F.regexp_replace(
            F.lower(F.regexp_extract(hp, "^([^:]*)", 1)), "\\.$", ""
        )
    )


def canonical_url_sql(col: str) -> str:
    """Canonical URL of SQL expression ``col``, in the step order above.
    RE2 (DuckDB) and Java regex (Spark) agree on every pattern used: no
    lookaround, no classes that differ."""
    u = f"regexp_replace({col}, '#.*$', '')"
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    rest = f"regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    hostport = f"regexp_extract({rest}, '^([^/?]*)', 1)"
    pathq = f"regexp_replace({rest}, '^[^/?]*', '')"
    hp = f"regexp_replace({hostport}, '^.*@', '')"
    is_v6 = f"starts_with({hp}, '[')"
    host = (
        f"(CASE WHEN {is_v6} THEN "
        f"lower(regexp_extract({hp}, '^(\\[[^\\]]*\\])', 1)) ELSE "
        f"regexp_replace(lower(regexp_extract({hp}, '^([^:]*)', 1)), "
        "'\\.$', '') END)"
    )
    port = (
        f"(CASE WHEN {is_v6} THEN "
        f"regexp_extract({hp}, '\\]:([0-9]+)$', 1) ELSE "
        f"regexp_extract({hp}, ':([0-9]+)$', 1) END)"
    )
    keep_port = (
        f"({port} <> '' AND NOT ({scheme} = 'http' AND {port} = '80') "
        f"AND NOT ({scheme} = 'https' AND {port} = '443'))"
    )
    path = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    path = f"(CASE WHEN {path} = '' THEN '/' ELSE {path} END)"
    query = f"regexp_extract({pathq}, '\\?(.*)$', 1)"
    qjoined = (
        f"array_to_string(list_sort(list_filter(string_split({query}, '&'), "
        "p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')"
    )
    return (
        f"({scheme} || '://' || {host} || "
        f"(CASE WHEN {keep_port} THEN ':' || {port} ELSE '' END) || {path} || "
        f"(CASE WHEN {qjoined} <> '' THEN '?' || {qjoined} ELSE '' END))"
    )


def host_suffix_chain_expr(host: Column) -> Column:
    """All dot-suffixes of a host (``a.b.c`` → ``[a.b.c, b.c, c]``) —
    the join-key set for domain blocklists: an entry blocks itself and
    every subdomain, no public-suffix list needed. Native transform
    over the split parts (hosts have ~4 labels, so the re-split inside
    the lambda is negligible — the HOF-CSE caveat that matters for
    document-sized arrays does not bite here)."""
    parts = F.split(host, "\\.")
    return F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, i, F.size(parts)), "."),
    )


def filter_blocklisted(
    df,
    blocklist_df,
    host_col: str = "host",
    id_col: str = "doc_id",
    entry_col: str = "entry",
):
    """Drop rows whose host matches a blocklist entry exactly OR as a
    subdomain (suffix-chain semantics). The blocklist is a bounded dim
    (broadcast); the corpus explodes each host's ≤ label-count suffix
    chain once, left-semi probes it, and the surviving rows come back
    via a left-anti join on the id — two narrow shuffles at most, no
    regex scans, no python."""
    chain = host_suffix_chain_expr(F.col(host_col))
    blocked_ids = (
        df.select(id_col, F.explode(chain).alias("_sfx"))
        .join(
            F.broadcast(blocklist_df.select(F.col(entry_col).alias("_sfx"))),
            "_sfx",
            "left_semi",
        )
        .select(id_col)
        .distinct()
    )
    return df.join(blocked_ids, id_col, "left_anti")
