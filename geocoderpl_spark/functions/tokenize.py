"""Tokenizer — the engine's analog of the reference's text canonicalization.

Reference parity (behavioral, not code):
- accent-strip + case-fold before indexing/search: ``xml_parsers.py:428``,
  ``geo_gui.py:161-165`` (P8 in SURVEY.md §2.2)
- camelCase -> spaced words: ``xml_parsers.py:105``
- per-doc distinct-token handling: ``xml_parsers.py:428-430`` (A2)

Design: the tokenizer is a *pure Spark column expression* (regexp_replace +
lower + split + filter), so it runs JVM-side inside whole-stage codegen —
faster than any Python path and trivially expressible in ANSI SQL for the
DuckDB oracle. The documented spec (shared with the oracle):

1. insert a space at every lower->upper camelCase boundary
   (``fooBar`` -> ``foo Bar``)
2. lowercase
3. split on runs of anything outside ``[a-z0-9_]`` (underscore is a token
   character: ``snake_case_bar`` and ``term_0001`` stay single terms)
4. drop empty tokens

Why no superpermutation encoding (reference ``super_permutations.py``):
the reference stores superpermuted phrase strings so *substring* search is
token-order-insensitive; a tokenized inverted index is order-insensitive by
construction, so that machinery is deleted by design (SURVEY.md §2.9 U4, §4 O16).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Regex pieces shared (conceptually) with the DuckDB oracle; keep in sync
# with oracle_sql() in __spark_entry__.py.
CAMEL_BOUNDARY = "([a-z0-9])([A-Z])"
NON_TOKEN = "[^a-z0-9_]+"


def tokenize(col: Column | str) -> Column:
    """content -> array<string> of tokens per the spec above.

    Implementation note: ``split(col, regex)`` is ~10x slower than
    ``regexp_replace`` in Spark (measured 33s vs 1s over a 220MB corpus —
    UTF8String.split recompiles/reallocates per row), so non-token runs are
    first collapsed to a single space with regexp_replace and the split is
    on a *literal* space (fast path). Result is identical to splitting on
    NON_TOKEN directly: runs become single spaces, empties are filtered.
    """
    c = F.col(col) if isinstance(col, str) else col
    spaced = F.regexp_replace(c, CAMEL_BOUNDARY, r"$1 $2")
    cleaned = F.regexp_replace(F.lower(spaced), NON_TOKEN, " ")
    parts = F.split(cleaned, " ")
    return F.filter(parts, lambda x: x != F.lit(""))


import re as _re

_CAMEL_RE = _re.compile(CAMEL_BOUNDARY)
_NON_TOKEN_RE = _re.compile(NON_TOKEN)


def tokenize_py(text: str) -> list[str]:
    """Python twin of :func:`tokenize` — the hot-path kernel inside Arrow
    pandas UDFs (python re is ~80x faster per core than Spark's
    regexp_replace when the pattern matches often: 28s vs <1s over a 220MB
    corpus at 32 cores). Same spec, asserted equal in tests."""
    spaced = _CAMEL_RE.sub(r"\1 \2", text)
    return [t for t in _NON_TOKEN_RE.split(spaced.lower()) if t]


def tokenize_arrow(content):
    """Arrow twin of :func:`tokenize`, the build's tf kernel tokenizer: a
    pyarrow string array -> ``(terms, parent, doclen)``. ``terms`` holds
    every row's tokens in order, ``parent`` (int64 numpy) the row of each
    token and ``doclen`` (int64 numpy) the token count per row; a NULL row
    has no tokens. Pure Arrow C++ compute (RE2 + utf8 kernels): no Python
    string object is built. Same spec, asserted equal in tests."""
    import numpy as np
    import pyarrow.compute as pc

    spaced = pc.replace_substring_regex(
        pc.fill_null(content, ""), pattern=CAMEL_BOUNDARY, replacement=r"\1 \2"
    )
    toks = pc.split_pattern_regex(pc.utf8_lower(spaced), pattern=NON_TOKEN)
    lengths = pc.list_value_length(toks).to_numpy().astype(np.int64)
    parent = np.repeat(np.arange(len(content), dtype=np.int64), lengths)
    flat = pc.list_flatten(toks)
    keep = pc.not_equal(flat, "")
    parent = parent[keep.to_numpy(zero_copy_only=False)]
    return flat.filter(keep), parent, np.bincount(parent, minlength=len(content))


def tokenize_sql(expr: str) -> str:
    """Spark-SQL string form of :func:`tokenize` (for spark.sql paths)."""
    return (
        "filter(split(lower(regexp_replace({e}, '([a-z0-9])([A-Z])', '$1 $2')),"
        " '[^a-z0-9_]+'), x -> x != '')"
    ).format(e=expr)


def duckdb_tokenize_sql(expr: str) -> str:
    """DuckDB-SQL twin of :func:`tokenize` — used by the oracle.

    Must stay semantically identical to the Spark expression: same camel
    boundary, same token charset, same empty-drop.
    """
    return (
        "list_filter(regexp_split_to_array(lower(regexp_replace({e},"
        " '([a-z0-9])([A-Z])', '\\1 \\2', 'g')), '[^a-z0-9_]+'),"
        " x -> x <> '')"
    ).format(e=expr)
