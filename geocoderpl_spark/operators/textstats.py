"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, fingerprinting.

All are pure Spark column expressions (JVM codegen, no UDFs) with exact
DuckDB-SQL twins in ``__spark_entry__.oracle_sql`` — the formulas below are
the single source of truth for both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize

# stopword profiles for the language-ID heuristic (tiny, deterministic)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "that", "it", "for", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est", "dans", "que", "pour", "une"),
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def token_count(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace/punctuation token count + distinct-token count."""
    toks = tokenize(text_col)
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality in [0,1]:

      q = 0.4 * min(n_tokens/100, 1)            (length)
        + 0.3 * (1 - punct_chars/chars)         (punctuation density)
        + 0.3 * stopword_tokens/n_tokens        (natural-language-ness)

    rounded to 6 dp. Empty docs score 0.
    """
    toks = tokenize(text_col)
    n_tok = F.size(toks)
    chars = F.length(text_col)
    punct = chars - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))
    stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    q = (
        0.4 * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - punct / F.greatest(chars, F.lit(1)))
        + 0.3 * (stop / F.greatest(n_tok, F.lit(1)))
    )
    return docs.select(
        F.col(id_col),
        F.when(n_tok == 0, F.lit(0.0)).otherwise(F.round(q, 6)).alias("quality"),
    )


def _lang_score(toks: Column, lang: str) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang])))


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """n-gram/stopword language-ID heuristic: argmax stopword hits over the
    four profiles, ties broken by profile order (en, es, de, fr); 'und'
    (undetermined) when no profile matches at all."""
    toks = tokenize(text_col)
    scores = [(_lang_score(toks, lg).alias(f"s_{lg}"), lg) for lg in LANG_STOPWORDS]
    df = docs.select(F.col(id_col), *(s for s, _ in scores))
    best = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_STOPWORDS])
    pred = F.when(best == 0, F.lit("und"))
    for lg in LANG_STOPWORDS:  # first max wins (deterministic tie-break)
        pred = pred.when(F.col(f"s_{lg}") == best, F.lit(lg))
    return df.select(F.col(id_col), pred.alias("pred_lang"))


COORD_PATTERN = r"^\s*-?\d+[.,]\d+[\s,]+-?\d+[.,]\d+\s*$"


def query_router(queries: DataFrame, text_col: str = "query_text") -> DataFrame:
    """Classify raw query strings before dispatch (reference P10: the GUI
    regex-routes coordinate-shaped input to reverse geocoding instead of the
    text index, ``geo_gui.py:31,203-218,251``).

    Classes: 'coords' (two decimal numbers), 'empty' (no tokens after
    normalization), 'text' (everything else -> BM25 path).
    """
    from ..functions.tokenize import tokenize

    return queries.select(
        "query_id",
        F.when(F.regexp_like(F.col(text_col), F.lit(COORD_PATTERN)), "coords")
        .when(F.size(tokenize(text_col)) == 0, "empty")
        .otherwise("text")
        .alias("route"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical document fingerprint: md5 of the normalized token stream.

    Reference analog: the per-row invariant/content-identity idea (sha256
    input_hint); canonicalization makes it robust to whitespace/punctuation
    formatting, unlike raw content hashing.
    """
    canon = F.array_join(tokenize(text_col), " ")
    return docs.select(F.col(id_col), F.md5(canon).alias("fingerprint"))


def snippets(
    docs: DataFrame,
    queries: DataFrame,
    hits: DataFrame,
    width: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_collect_hits: int = 100_000,
) -> DataFrame:
    """Search-result snippets (hit highlighting): for each top-k hit, the
    1-based position of the FIRST occurrence of any query term in the doc's
    token stream, plus the ±``width``-token window around it, joined by
    spaces.

    Reference analog: the GUI shows the matched address row around the hit
    (``geo_gui.py:229-243``) — the result-page rendering step after top-k.

    Scale shape: the hit set is metadata-sized (k × queries), so its doc_ids
    become a LITERAL pushed filter on the corpus scan (the J9 point-fetch
    shape — never a full scan), hits+query-terms broadcast onto the k fetched
    docs, and the position/window math is pure JVM array expressions
    (array_position / slice / array_join — no UDF, no shuffle beyond the
    fetch)."""
    from ..functions.tokenize import tokenize
    from ..session import local_frame

    qt = queries.select(
        "query_id", F.array_distinct(tokenize("query_text")).alias("qterms")
    )
    # collect the (metadata-sized) hit set ONCE — the hits argument is
    # typically a full topk pipeline, and referencing it lazily in the join
    # below would re-execute that whole pipeline a second time. The collect
    # is size-guarded (ADVICE r03): past ``max_collect_hits`` rows nothing
    # is staged on the driver — the plan falls back to lazy doc_id joins
    # (batch regime; persist ``hits`` in that regime, it executes twice).
    hit_rows = (
        hits.select("query_id", "doc_id", "rank")
        .limit(max_collect_hits + 1)
        .collect()
    )
    if not hit_rows:
        return local_frame(
            docs.sparkSession, [],
            "query_id long, doc_id long, rank int, first_pos long, snippet string",
        )
    if len(hit_rows) <= max_collect_hits:
        hit_ids = sorted({r["doc_id"] for r in hit_rows})
        hits = local_frame(
            docs.sparkSession, hit_rows,
            "query_id long, doc_id long, rank int",
        )
        if len(hit_ids) <= 10_000:
            fetched = docs.filter(F.col(id_col).isin(hit_ids))
        else:
            # mid-size batches: a literal In() of 10^5+ ids bloats the plan —
            # broadcast-semi-join the id set instead (same rows, no pushdown)
            ids_df = local_frame(docs.sparkSession, [(i,) for i in hit_ids], f"{id_col} long")
            fetched = docs.join(F.broadcast(ids_df), id_col, "left_semi")
        joined_hits = F.broadcast(
            hits.select("query_id", "doc_id", "rank").join(qt, "query_id")
        )
    else:
        # batch regime: the hit pipeline is referenced twice below (doc
        # fetch semi-join + joined_hits) on top of the guard collect above —
        # materialize it ONCE here. localCheckpoint, not persist (ADVICE
        # r05): no caller ever released the persisted handle, so repeated
        # batch snippets calls accumulated cached frames for the session
        # lifetime; checkpoint blocks are reclaimed by the ContextCleaner
        # as soon as the result frame is garbage-collected.
        hits = hits.select("query_id", "doc_id", "rank").localCheckpoint()
        fetched = docs.join(
            hits.select(F.col("doc_id").alias(id_col)).distinct(), id_col, "left_semi"
        )
        # no broadcast hint: the hit set exceeded the driver guard, so let
        # AQE pick the join strategy from its actual size
        joined_hits = hits.join(qt, "query_id")
    cand = fetched.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
    )
    j = cand.join(joined_hits, "doc_id")
    # first matched position: array_position yields 0 when absent — filter
    # those out; a BM25 hit always contains >= 1 query term, so min exists
    p = F.array_min(
        F.filter(
            F.transform(F.col("qterms"), lambda t: F.array_position("toks", t)),
            lambda x: x > 0,
        )
    )
    j = j.withColumn("first_pos", p)
    a = F.greatest(F.lit(1).cast("long"), F.col("first_pos") - width)
    b = F.least(F.size("toks").cast("long"), F.col("first_pos") + width)
    out = j.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        "first_pos",
        F.array_join(
            F.slice("toks", a.cast("int"), (b - a + 1).cast("int")), " "
        ).alias("snippet"),
    )
    return out


def phrase_match(
    docs: DataFrame,
    phrases: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search (token-adjacency): for each phrase, the top-k docs
    by occurrence count of the exact token sequence.

    phrases: (query_id, phrase_text); output (query_id, rank, doc_id,
    n_matches). Pure column expressions — the tokenized doc array is scanned
    with a vectorized position filter (JVM-side, no UDF); count at position i
    requires toks[i..i+n-1] == phrase tokens. Empty/one-token phrases count
    plain term occurrences.

    Scale note: this is the from-corpus variant (one scan per phrase batch,
    phrases broadcast) — the right baseline and batch shape. An index-backed
    variant needs positional postings (positions delta-varint per posting,
    count = tf), planned as a future index extension; the adjacency-verify
    join is the same either way.
    """
    from ..functions.tokenize import tokenize

    tok = docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks"))
    p = phrases.select(
        "query_id", tokenize("phrase_text").alias("ptoks")
    ).filter(F.size("ptoks") > 0)
    joined = tok.crossJoin(F.broadcast(p))
    # positions 1..len-plen+1; match iff the token window equals the phrase
    npos = F.size("toks") - F.size("ptoks") + 1
    counted = joined.select(
        "query_id",
        "doc_id",
        F.when(
            npos >= 1,
            F.size(
                F.filter(
                    F.sequence(F.lit(1), F.greatest(npos, F.lit(1))),
                    lambda i: F.slice("toks", i.cast("int"), F.size("ptoks"))
                    == F.col("ptoks"),
                )
            ),
        ).otherwise(F.lit(0)).alias("n_matches"),
    ).filter(F.col("n_matches") > 0)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("n_matches"), F.asc("doc_id"))
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "n_matches")
    )
