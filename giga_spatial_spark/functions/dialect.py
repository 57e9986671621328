"""DuckDB SQL text → Spark Column.

The ``*_sql`` builders are the one source of a formula: the DuckDB oracle
runs their text as is, and the engine parses the same text with Spark's
SQL parser through ``spark_col``. Where the two dialects read the same
text differently, ``spark_col`` rewrites it for Spark:

- a dotted number (``1.5``) is DOUBLE in DuckDB, DECIMAL in Spark → ``1.5D``;
- DuckDB keeps backslashes in string literals, Spark unescapes them →
  each backslash is doubled;
- ``varchar`` needs a length in Spark → ``string``;
- list and string function names differ (``_RENAMES``);
- DuckDB's ``string_split`` splits on its literal delimiter, Spark's
  ``split`` on a regex → that delimiter is regex-quoted;
- a ``"quoted identifier"`` → a backquoted one.

Nothing inside a string literal or a quoted identifier is renamed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_RENAMES = {
    "len": "size",
    "regexp_split_to_array": "split",
    "string_split": "split",
    "list_filter": "filter",
    "list_transform": "transform",
    "list_sort": "array_sort",
    "array_to_string": "array_join",
    "starts_with": "startswith",
}
_TOKEN = re.compile(
    r"""(\s*)('(?:[^']|'')*'|"(?:[^"]|"")*"|[A-Za-z_]\w*"""
    r"|\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|.)",
    re.S,
)
_REGEX_META = re.compile(r"[\\^$.|?*+()\[\]{}]")


def spark_col(sql: str) -> Column:
    """The Spark Column of DuckDB expression text ``sql``."""
    pairs = _TOKEN.findall(sql)  # (leading whitespace, token)
    toks = [t for _, t in pairs] + [""]
    out, calls = [], []  # calls: the function name of each open paren
    for i, (ws, t) in enumerate(pairs):
        if t[0] == "'":
            if toks[i + 1] == ")" and calls and calls[-1] == "string_split":
                t = _REGEX_META.sub(r"\\\g<0>", t)
            t = t.replace("\\", "\\\\")
        elif t[0] == '"':
            t = "`" + t[1:-1].replace('""', '"').replace("`", "``") + "`"
        elif t[0].isdigit() and "." in t:
            t += "D"
        elif t.lower() == "varchar":
            t = "string"
        elif t == "(":
            calls.append(toks[i - 1].lower() if i else "")
        elif t == ")" and calls:
            calls.pop()
        elif toks[i + 1] == "(":
            t = _RENAMES.get(t.lower(), t)
        out.append(ws + t)
    return F.expr("".join(out))
