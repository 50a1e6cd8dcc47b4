"""Top-k BM25 query stage: dictionary gate -> pruned posting scan -> score
-> top-k.

Reference-lifecycle parity (SURVEY.md §3.2): the reference gates each query
on a vocabulary-membership test (``geo_gui.py:172``), scans posting
partitions nearest-first with early termination (``geo_gui.py:178-188``),
then point-looks-up full rows (``geo_gui.py:190-202``). Here:

- gate      = inner join of query terms with the (broadcast) term dictionary
- pruning   = postings scan filtered to the query's term_ids (parquet
  predicate pushdown + min/max row-group skipping; the analog of the
  reference's 9-of-40,000-sector fetch, J4)
- two scoring tails, over the posting rows a caller scans:
  * :func:`_score_rows` — exact: decode -> score -> partial-agg -> window
    top-k, fully distributed. Scales to any query/corpus size; this is the
    batch path and the oracle-comparable one (:func:`query_topk_exact`).
  * :func:`_pruned_kernel` — Arrow-batched per-query kernel implementing
    MaxScore/Block-Max pruning (the two-phase cheap-bound-then-exact idea
    the reference uses for its k-NN join, ``geo_utilities.py:589-760``, J5).
    Serving path: low latency for small k; gathers each query's candidate
    blocks to one task, so queries past :data:`MAX_BLOCKS_PER_TERM` are
    routed to the exact tail (``plans/engine.py: QueryEngine._topk_spark``).

Both tails round scores to 6 dp *before* ranking and tie-break by doc_id
asc, so their results are rank-identical to each other and to the oracle.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.bm25 import SCORE_DECIMALS, idf_col
from ..functions.tokenize import tokenize
from .postings import decode_postings

TOPK_SCHEMA = "query_id long, doc_id long, score double, rank int"


def tokenize_queries(queries: DataFrame, text_col: str = "query_text") -> DataFrame:
    """(query_id, query_text, k) -> (query_id, k, term, qtf)."""
    return (
        queries.select("query_id", "k", F.explode(tokenize(text_col)).alias("term"))
        .groupBy("query_id", "k", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )


def gate_terms(qterms: DataFrame, terms: DataFrame, n_docs: int) -> DataFrame:
    """Dictionary gate (O14): unknown terms never touch postings.

    Inner join vs broadcast term dictionary; attaches term_id, df, idf.
    """
    # broadcast the QUERY side (a handful of terms), never the dictionary —
    # at 1e9 dictionary terms a dictionary broadcast is a multi-GB ship to
    # every executor; this way the gate is one shuffle-free pass over terms
    return (
        F.broadcast(qterms)
        .join(terms.select("term", "term_id", "df"), "term")
        .withColumn("idf", idf_col(F.col("df"), n_docs))
    )


def _topk_window(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "doc_id", "score", F.col("rank").cast("int").alias("rank"))
    )


def _pruned_scan(postings: DataFrame, term_ids: list[int], n_buckets: int | None) -> DataFrame:
    """Literal-filter posting scan: `bucket IN (...)` prunes partition
    directories and `term_id IN (...)` hits Parquet row-group min/max stats
    (postings are sorted by term_id within each bucket file). This is the
    reference's partition-pruning fetch (J4/O4: 9 of 40,000 sectors) —
    a join-based prune would not reach PushedFilters."""
    cond = F.col("term_id").isin(term_ids)
    if n_buckets:
        buckets = sorted({tid_bucket(t, n_buckets) for t in term_ids})
        cond = F.col("bucket").isin(buckets) & cond
    return postings.filter(cond)


def tid_bucket(term_id: int, n_buckets: int) -> int:
    """Driver-side twin of the build's bucket assignment
    (pmod(xxhash64(term_id), n_buckets)) — parity in tests/test_xxhash.py."""
    from ..functions.xxhash import xxhash64_long

    return xxhash64_long(term_id, seed=42) % n_buckets


def _score_gated(
    postings: DataFrame,
    gated: DataFrame,
    avgdl: float,
    n_buckets: int | None,
    scan=None,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring tail: gated (query_id, k, term_id, qtf, idf) ->
    pruned posting scan -> decode -> BM25 sum -> top-k window.

    ``scan``: optional term_ids -> DataFrame override (e.g. the file-level
    manifest scan, plans/manifest.py) replacing the directory-listing scan.
    ``allowed_docs``: optional (doc_id) DataFrame; candidates outside it are
    semi-joined away BEFORE scoring (filtered / faceted search).
    """
    # the gated term set is tiny (distinct query terms); collecting it turns
    # the posting prune into literal pushed filters
    tids = [r["term_id"] for r in gated.select("term_id").distinct().collect()]
    if not tids:
        return postings.sparkSession.createDataFrame([], TOPK_SCHEMA)
    # drop("poss") is a no-op on non-positional indexes; on positional ones
    # it column-prunes the positions stream out of the Parquet scan — BM25
    # never pays for the phrase capability
    cand = (scan(tids) if scan else _pruned_scan(postings, tids, n_buckets)).drop("poss")
    rows = decode_postings(cand)
    return _score_rows(rows, gated, avgdl, allowed_docs=allowed_docs)


def _score_rows(
    rows: DataFrame,
    gated: DataFrame,
    avgdl: float,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Scoring tail over already-decoded posting rows (term_id, doc_id, tf,
    doclen): BM25 sum -> top-k window. Shared by the single-index scan path
    and the segmented union path (whose rows carry term_ids remapped to
    global query ordinals — the tail is id-space-agnostic)."""
    from ..functions.bm25 import tfnorm_col

    if allowed_docs is not None:
        # semi-join keyed on doc_id only — uniform; AQE picks broadcast vs
        # shuffle from the filter's actual size
        rows = rows.join(allowed_docs.select("doc_id"), "doc_id", "left_semi")
    scored = (
        rows.join(F.broadcast(gated), "term_id")
        .withColumn(
            "contrib",
            F.col("qtf") * F.col("idf") * tfnorm_col(F.col("tf"), F.col("doclen"), avgdl),
        )
        .groupBy("query_id", "k", "doc_id")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_window(scored)


def query_topk_exact(
    postings: DataFrame,
    terms: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    n_buckets: int | None = None,
    scan=None,
) -> DataFrame:
    """Distributed exact BM25 top-k. queries: (query_id, query_text, k)."""
    gated = gate_terms(tokenize_queries(queries), terms, n_docs)
    return _score_gated(postings, gated, avgdl, n_buckets, scan=scan)


def query_topk_filtered(
    postings: DataFrame,
    terms: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    allowed_docs: DataFrame,
    n_buckets: int | None = None,
    scan=None,
) -> DataFrame:
    """Metadata-filtered (faceted) BM25 top-k: rank only docs present in
    ``allowed_docs`` (a (doc_id) frame, e.g. docstats filtered on a metadata
    predicate). Scoring statistics (idf, avgdl, N) stay GLOBAL — standard
    filter-query semantics (the filter restricts candidates, not the corpus
    model), so scores are comparable across filters.

    Reference analog: the GUI's administrative-unit dropdowns scoping the
    address search (``geo_gui.py:64-87``) — a predicate over document
    metadata applied to the same index.

    Scale: candidates still come from the term-pruned posting scan; the
    filter is one doc_id-keyed semi-join before scoring (uniform keys, AQE
    sizes it), never a scan of the unfiltered corpus."""
    gated = gate_terms(tokenize_queries(queries), terms, n_docs)
    return _score_gated(
        postings, gated, avgdl, n_buckets, scan=scan, allowed_docs=allowed_docs
    )


def query_topk_boolean(
    postings: DataFrame,
    terms: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    n_buckets: int | None = None,
    scan=None,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Boolean conjunctive search with negation, BM25-ranked.

    ``queries``: (query_id, must string, must_not string, k). A doc
    qualifies iff it contains EVERY distinct token of ``must`` and NO token
    of ``must_not``; qualifying docs rank by BM25 over the must terms
    (duplicate must tokens weight qtf, exactly as in free-text queries).
    A must token absent from the dictionary makes its query unsatisfiable
    (0 rows — the conjunction is not silently relaxed); unknown must_not
    tokens are no-ops. An empty must yields 0 rows.

    Scale shape: one term-pruned posting scan over must ∪ must_not ids; the
    decoded subtree is consumed EXACTLY ONCE (ADVICE r03: the previous
    scoring-aggregate + left_anti pair read it twice): must and must_not
    entries ride one role-tagged broadcast, so the AND count, the BM25 sum,
    and the NOT veto are all columns of a single (query_id, doc_id)
    aggregate — uniform key, no cartesian, no per-term driver loop.
    """
    spark = queries.sparkSession
    mq = tokenize_queries(
        queries.select("query_id", "k", F.col("must").alias("query_text"))
    )
    # required distinct-term count BEFORE the dictionary gate: an unknown
    # must term must kill its query, not relax the conjunction
    need = mq.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_must"))
    gated = gate_terms(mq, terms, n_docs)
    nq = tokenize_queries(
        queries.select("query_id", "k", F.col("must_not").alias("query_text"))
    ).select("query_id", "k", "term")
    ngated = (
        F.broadcast(nq)
        .join(terms.select("term", "term_id"), "term")
        .select("query_id", "k", "term_id")
        .distinct()
    )
    gated_all = gated.select(
        "query_id", "k", "term_id", "qtf", "idf", F.lit(False).alias("is_neg")
    ).unionByName(
        ngated.select(
            "query_id", "k", "term_id",
            F.lit(None).cast("long").alias("qtf"),
            F.lit(None).cast("double").alias("idf"),
            F.lit(True).alias("is_neg"),
        )
    )
    tids = sorted(
        {r["term_id"] for r in gated_all.select("term_id").distinct().collect()}
    )
    if not tids:
        return spark.createDataFrame([], TOPK_SCHEMA)
    cand = (scan(tids) if scan else _pruned_scan(postings, tids, n_buckets)).drop("poss")
    rows = decode_postings(cand)
    return _boolean_tail(rows, gated_all, need, avgdl, allowed_docs=allowed_docs)


def _boolean_tail(
    rows: DataFrame,
    gated_all: DataFrame,
    need: DataFrame,
    avgdl: float,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Boolean tail over decoded rows: one (query_id, doc_id) aggregate
    carrying the BM25 sum, the AND count, and the NOT veto. Shared by the
    single-index and segmented paths (id-space-agnostic, like _score_rows)."""
    from ..functions.bm25 import tfnorm_col

    if allowed_docs is not None:
        # faceted boolean: the metadata filter removes candidates before
        # both the conjunction count and the negation set — composition of
        # the two predicates, same key, one extra semi-join
        rows = rows.join(allowed_docs.select("doc_id"), "doc_id", "left_semi")
    pos = rows.join(F.broadcast(gated_all), "term_id")
    scored = (
        pos.withColumn(
            "contrib",
            F.when(
                ~F.col("is_neg"),
                F.col("qtf") * F.col("idf")
                * tfnorm_col(F.col("tf"), F.col("doclen"), avgdl),
            ),
        )
        .groupBy("query_id", "k", "doc_id")
        .agg(
            F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"),
            # one decoded row per (term_id, doc_id), gated_all unique per
            # (query_id, term_id, role) -> must-row count == distinct must
            # terms matched; any neg row vetoes the doc
            F.count(F.when(~F.col("is_neg"), F.lit(1))).alias("matched"),
            F.count(F.when(F.col("is_neg"), F.lit(1))).alias("n_neg"),
        )
    )
    ok = (
        scored.join(F.broadcast(need), "query_id")
        .filter((F.col("matched") == F.col("n_must")) & (F.col("n_neg") == 0))
        .drop("matched", "n_must", "n_neg")
    )
    return _topk_window(ok)


def query_topk_autocomplete(
    postings: DataFrame,
    terms: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    n_buckets: int | None = None,
    max_expansions: int = 50,
) -> DataFrame:
    """Autocomplete / prefix search — the reference's per-keystroke entry
    point (``geo_gui.py:122`` ``on_text_changed``: every keystroke queries
    with a partial last word; SURVEY.md §3.2).

    Semantics (shared with the SQL oracle): if the raw query text ends in a
    token character, its LAST token is a *prefix*; it is expanded against
    the term dictionary to the ``max_expansions`` highest-df matches
    (impact-ordered, term-asc tie-break — the bounded-scan idea of the
    reference's ``MAX_SEKTS``), scored disjunctively (qtf=1 each) together
    with the remaining exact tokens. If the text ends in a separator, every
    token is exact (the user finished the word). A term matched both ways
    sums its qtf.

    Scale shape: the dictionary range-scan ``term LIKE 'pref%'`` hits a
    sorted/partitioned terms table (term_id is the rank of term, so the
    expansion is a contiguous id range → contiguous posting buckets); the
    expansion cap bounds the scan exactly like the hot-term cap.

    Served indexes expand driver-side instead (``QueryEngine.autocomplete``:
    a bisect over the pinned vocabulary, same impact order and tie-breaks).
    """
    toks = tokenize("query_text")
    q = queries.select(
        "query_id", "k", "query_text",
        toks.alias("toks"),
        F.regexp_like(F.col("query_text"), F.lit("[a-zA-Z0-9_]$")).alias("pmode"),
    ).withColumn(
        "prefix",
        F.when(F.col("pmode") & (F.size("toks") > 0), F.element_at("toks", -1)),
    )
    # exact tokens: all tokens, minus ONE occurrence of the prefix token
    exact = (
        q.select("query_id", "k", "prefix", F.explode("toks").alias("term"))
        .groupBy("query_id", "k", "prefix", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
        .withColumn(
            "qtf",
            F.when(F.col("term") == F.col("prefix"), F.col("qtf") - 1).otherwise(F.col("qtf")),
        )
        .filter(F.col("qtf") > 0)
        .select("query_id", "k", "term", "qtf")
    )
    # prefix expansions: top-df dictionary terms with that prefix, qtf=1.
    # The query batch is metadata-sized, so collect the prefixes and push
    # the expansion into the dictionary scan as a literal RANGE predicate
    # (term >= p AND term < p || '{'): terms are written term-sorted, so
    # Parquet row-group min/max stats skip everything outside the prefix
    # ranges — the dictionary is never fully scanned, and no
    # BroadcastNestedLoopJoin appears in the plan. '{' = chr(ord('z')+1)
    # upper-bounds every token char ([a-z0-9_]).
    spark = queries.sparkSession
    prows = q.filter(F.col("prefix").isNotNull()).select(
        "query_id", "k", "prefix"
    ).collect()
    if prows:
        rng = None
        for p in sorted({r["prefix"] for r in prows}):
            c = (F.col("term") >= F.lit(p)) & (F.col("term") < F.lit(p + "{"))
            rng = c if rng is None else rng | c
        cand = terms.filter(rng).select("term", "df")
        # attach query ids with per-prefix-length EQUI-joins on
        # substring(term, 1, len) — BroadcastHashJoin on the tiny query side
        by_len: dict[int, list[tuple]] = {}
        for r in prows:
            by_len.setdefault(len(r["prefix"]), []).append(
                (r["query_id"], int(r["k"]), r["prefix"])
            )
        matched = None
        for ln, batch in sorted(by_len.items()):
            pl = spark.createDataFrame(batch, "query_id long, k int, prefix string")
            m = (
                cand.withColumn("_p", F.substring("term", 1, ln))
                .join(F.broadcast(pl), F.col("_p") == F.col("prefix"))
                .select("query_id", "k", "term", "df")
            )
            matched = m if matched is None else matched.unionByName(m)
        exp = (
            matched.withColumn(
                "xrank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.desc("df"), F.asc("term"))
                ),
            )
            .filter(F.col("xrank") <= max_expansions)
            .select("query_id", "k", "term", F.lit(1).cast("long").alias("qtf"))
        )
    else:
        exp = spark.createDataFrame([], "query_id long, k int, term string, qtf long")
    merged = (
        exact.unionByName(exp)
        .groupBy("query_id", "k", "term")
        .agg(F.sum("qtf").alias("qtf"))
    )
    gated = gate_terms(merged, terms, n_docs)
    return _score_gated(postings, gated, avgdl, n_buckets)


def _pruned_kernel(avgdl: float):
    """Per-query MaxScore kernel with block-max skipping (numpy, Arrow-batched).

    Terms are processed in descending upper-bound order (upper = qtf * idf *
    block_max_tfn over the term's blocks). After each term, theta = current
    k-th best score; once the sum of remaining terms' upper bounds drops
    below theta, no unseen doc can enter the top-k, so remaining terms only
    *re-score existing candidates*: their blocks are decoded only if the
    block's [first_doc, last_doc] range intersects a surviving candidate
    (binary search) and the block bound can still matter.
    """

    def fn(key, pdf):
        import numpy as np

        from ..functions.bm25 import tfnorm_np
        from ..functions.codec import decode_doc_gaps, decode_tfs

        (query_id,) = key
        if len(pdf) == 0:
            return pd.DataFrame(columns=["query_id", "doc_id", "score", "rank"])
        k = int(pdf["k"].iloc[0])
        # per-term upper bound
        g = pdf.groupby("term_id", sort=False)
        term_meta = g.agg(
            idf=("idf", "first"), qtf=("qtf", "first"), bmax=("block_max_tfn", "max")
        )
        term_meta["upper"] = term_meta["idf"] * term_meta["qtf"] * term_meta["bmax"]
        order = term_meta.sort_values("upper", ascending=False).index.to_numpy()
        uppers = term_meta["upper"].loc[order].to_numpy()
        remaining_after = np.concatenate([np.cumsum(uppers[::-1])[::-1][1:], [0.0]])

        acc_docs = np.empty(0, dtype=np.int64)
        acc_scores = np.empty(0, dtype=np.float64)
        theta = -np.inf
        closed = False  # True once no new doc can reach the top-k
        for ti, tid in enumerate(order):
            tpdf = pdf[pdf["term_id"] == tid]
            w = float(term_meta["idf"].loc[tid] * term_meta["qtf"].loc[tid])
            firsts = tpdf["first_doc"].to_numpy()
            lasts = tpdf["last_doc"].to_numpy()
            bounds = w * tpdf["block_max_tfn"].to_numpy()
            if closed and acc_docs.size:
                # decode only blocks overlapping surviving candidates whose
                # bound could still change membership vs (theta - remaining)
                lo = np.searchsorted(acc_docs, firsts, side="left")
                hi = np.searchsorted(acc_docs, lasts, side="right")
                # 1e-6 slack: final ranking uses 6-dp-rounded scores, so keep
                # anything that could tie at the rounding boundary
                keep = (hi > lo) & (bounds + remaining_after[ti] + _best_partial(
                    acc_scores, lo, hi) >= theta - 1e-6)
                tpdf = tpdf[keep]
            elif closed:
                break
            if len(tpdf) == 0:
                continue
            d = np.concatenate([decode_doc_gaps(b) for b in tpdf["doc_ids"]])
            t = np.concatenate([decode_tfs(b) for b in tpdf["tfs"]])
            dl = np.concatenate([decode_tfs(b) for b in tpdf["dls"]])
            contrib = w * tfnorm_np(t.astype(np.float64), dl.astype(np.float64), avgdl)
            # merge into accumulator (both sorted by doc_id)
            md = np.concatenate([acc_docs, d])
            ms = np.concatenate([acc_scores, contrib])
            uniq, inv = np.unique(md, return_inverse=True)
            summed = np.zeros(uniq.size, dtype=np.float64)
            np.add.at(summed, inv, ms)
            acc_docs, acc_scores = uniq, summed
            if acc_scores.size >= k:
                theta = np.partition(acc_scores, -k)[-k]
            if not closed and remaining_after[ti] < theta - 1e-6:
                closed = True
        if acc_docs.size == 0:
            return pd.DataFrame(columns=["query_id", "doc_id", "score", "rank"]).astype(
                {"query_id": "int64", "doc_id": "int64", "score": "float64", "rank": "int32"}
            )
        score_r = np.round(acc_scores, SCORE_DECIMALS)
        sel = np.lexsort((acc_docs, -score_r))[:k]
        return pd.DataFrame(
            {
                "query_id": np.full(sel.size, query_id, dtype=np.int64),
                "doc_id": acc_docs[sel],
                "score": score_r[sel],
                "rank": np.arange(1, sel.size + 1, dtype=np.int32),
            }
        )

    return fn


def _best_partial(acc_scores, lo, hi):
    """Max accumulated score among candidates inside each block's
    [lo, hi) doc range (r5: per-range maxima — the r4 version used the
    global max, sound but loose; the tighter bound skips blocks whose
    local candidates can't reach theta even with the block's best case).
    Runs only in the closed re-scoring phase, over one term's blocks."""
    import numpy as np

    out = np.zeros(lo.size, dtype=np.float64)
    for i in np.nonzero(hi > lo)[0]:
        out[i] = acc_scores[lo[i]:hi[i]].max()
    return out


def bm25_topk_direct(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact BM25 top-k straight off the corpus (no persisted index): the
    one-shot batch-query plan. Same math/rounding/tie-break as the indexed
    paths, so all three are rank-identical.

    docs: (id_col, text_col); queries: (query_id, query_text, k).
    """
    from ..functions.bm25 import tfnorm_col
    from .postings import term_frequencies, tokenized_docs

    spark = docs.sparkSession
    tok = tokenized_docs(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("content"))
    )
    row = tok.agg(F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)
    tf = term_frequencies(tok)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = tokenize_queries(queries)
    gated = qterms.join(F.broadcast(dfreq), "term").withColumn(
        "idf", idf_col(F.col("df"), n_docs)
    )
    scored = (
        tf.join(F.broadcast(gated), "term")
        .withColumn(
            "contrib",
            F.col("qtf") * F.col("idf") * tfnorm_col(F.col("tf"), F.col("doclen"), avgdl),
        )
        .groupBy("query_id", "k", "doc_id")
        .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_window(scored)


# Per-query candidate-block bound for the serving kernel. The per-query
# gather sends all of a query's candidate blocks to ONE applyInPandas task;
# a hot term (df 3e11 at 100 TB => ~2e9 blocks) would OOM that task. Queries
# whose worst term exceeds the cap are routed to the fully-distributed exact
# path instead (reference analog: the GUI bounds every scan to MAX_SEKTS=25
# sectors, geo_gui.py:180-186). Routing — not impact-order truncation — is
# deliberate: truncation would break the pruned path's rank-identity.
# 2^16 blocks * 128 postings = ~8.4M postings per term: comfortably one task.
MAX_BLOCKS_PER_TERM = 1 << 16


def _hot_df_threshold(max_blocks: int) -> int:
    from ..functions.codec import BLOCK_SIZE

    return max_blocks * BLOCK_SIZE


def query_phrase_indexed(
    postings: DataFrame,
    terms: DataFrame,
    phrases: DataFrame,
    n_buckets: int | None = None,
    k: int = 10,
    scan=None,
) -> DataFrame:
    """Exact phrase search over a POSITIONAL index (build_index(positional=
    True)): the index-backed twin of textstats.phrase_match, result-identical
    by construction.

    Plan: phrase tokens with ordinals -> dictionary gate (any unknown token
    => phrase can't match, query dropped) -> literal-pruned positional
    posting scan of ONLY the phrase's terms -> decode positions -> for
    ordinal j shift positions by -j -> a phrase occurrence at position p is
    a (doc, p) cell hit by ALL ordinals -> count per doc -> top-k. Every
    join key is (doc_id, adj) — uniform; the scan touches the same few
    buckets as a BM25 query over the same terms. phrases: (query_id,
    phrase_text); output (query_id, rank, doc_id, n_matches).
    """
    hits = _phrase_hits(postings, terms, phrases, n_buckets, scan=scan)
    if hits is None:
        return postings.sparkSession.createDataFrame(
            [], "query_id long, rank int, doc_id long, n_matches int"
        )
    return _phrase_window(hits, k)


def _phrase_hits(
    postings: DataFrame,
    terms: DataFrame,
    phrases: DataFrame,
    n_buckets: int | None = None,
    scan=None,
) -> DataFrame | None:
    """Per-doc phrase occurrence counts (query_id, doc_id, n_matches) from a
    positional index, no top-k yet — the segmented path unions these across
    segments (doc spaces are disjoint, so per-segment counts ARE the global
    counts) before one global window. None = nothing can match (empty or
    fully-gated phrase set)."""
    from .postings import decode_postings_positional

    spark = postings.sparkSession
    p = phrases.select(
        "query_id", F.posexplode(tokenize("phrase_text")).alias("j", "term")
    )
    plen = p.groupBy("query_id").agg(F.count(F.lit(1)).alias("plen"))
    gated = p.join(F.broadcast(terms.select("term", "term_id")), "term", "left")
    # vocabulary gate: a phrase containing any unknown token matches nothing
    bad = gated.filter(F.col("term_id").isNull()).select("query_id").distinct()
    gated = gated.join(F.broadcast(bad), "query_id", "left_anti")
    pt = gated.select("query_id", "j", "term_id").join(F.broadcast(plen), "query_id")
    meta = pt.collect()  # metadata-sized: (phrase x ordinal) rows
    if not meta:
        return None
    tids = sorted({r["term_id"] for r in meta})
    rows = decode_postings_positional(
        scan(tids) if scan else _pruned_scan(postings, tids, n_buckets)
    )
    return (
        rows.join(F.broadcast(pt), "term_id")
        .select("query_id", "plen", "j", "doc_id", F.explode("positions").alias("pos"))
        .select(
            "query_id", "plen", "j", "doc_id", (F.col("pos") - F.col("j")).alias("adj")
        )
        .filter(F.col("adj") >= 1)
        .groupBy("query_id", "plen", "doc_id", "adj")
        .agg(F.countDistinct("j").alias("nj"))
        .filter(F.col("nj") == F.col("plen"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_matches"))
    )


def _phrase_window(hits: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("n_matches"), F.asc("doc_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "doc_id", "n_matches")
    )
