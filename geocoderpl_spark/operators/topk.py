"""Top-k BM25 query stage: dictionary gate -> pruned posting scan -> score
-> top-k.

Reference-lifecycle parity (SURVEY.md §3.2): the reference gates each query
on a vocabulary-membership test (``geo_gui.py:172``), scans posting
partitions nearest-first with early termination (``geo_gui.py:178-188``),
then point-looks-up full rows (``geo_gui.py:190-202``). The only query API
over a built index is ``plans/engine.py: QueryEngine`` (``InvertedIndex``
and ``SegmentedIndex``); it runs that lifecycle once per mode, with the
Spark pieces of this module:

- pruning   = postings scan filtered to the query's term_ids
  (:func:`_pruned_scan`: parquet predicate pushdown + min/max row-group
  skipping; the analog of the reference's 9-of-40,000-sector fetch, J4)
- two scoring tails, over the posting rows a caller scans:
  * :func:`_score_rows` — exact: decode -> score -> partial-agg -> window
    top-k, fully distributed. Scales to any query/corpus size; this is the
    batch path (``topk(mode="exact")``, ``topk_filtered``), and
    :func:`_boolean_tail` is its must / must_not variant.
  * :func:`_pruned_kernel` — Arrow-batched per-query kernel implementing
    MaxScore/Block-Max pruning (the two-phase cheap-bound-then-exact idea
    the reference uses for its k-NN join, ``geo_utilities.py:589-760``, J5).
    Serving path: low latency for small k; gathers each query's candidate
    blocks to one task, so queries past :data:`MAX_BLOCKS_PER_TERM` are
    routed to the exact tail (``QueryEngine._topk_spark``).
- phrase search = :func:`_phrase_hits` per positional segment, then one
  :func:`_phrase_window`.

Both scoring tails round scores to 6 dp *before* ranking and tie-break by
doc_id asc, so their results are rank-identical to each other and to the
oracle. :func:`bm25_topk_direct` answers the same BM25 query straight off a
corpus, with no index.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.bm25 import SCORE_DECIMALS, idf_col
from ..functions.tokenize import tokenize

TOPK_SCHEMA = "query_id long, doc_id long, score double, rank int"


def tokenize_queries(queries: DataFrame, text_col: str = "query_text") -> DataFrame:
    """(query_id, query_text, k) -> (query_id, k, term, qtf)."""
    return (
        queries.select("query_id", "k", F.explode(tokenize(text_col)).alias("term"))
        .groupBy("query_id", "k", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
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


def _score_rows(
    rows: DataFrame,
    gated: DataFrame,
    avgdl: float,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Scoring tail over already-decoded posting rows (term_id, doc_id, tf,
    doclen): BM25 sum -> top-k window. The engine's rows are the union of
    its segments' scans, their term_ids remapped to global query ordinals
    (the tail is id-space-agnostic). ``allowed_docs``: an optional (doc_id)
    frame; candidates outside it are semi-joined away BEFORE scoring, with
    N, avgdl and df left global (filtered / faceted search)."""
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


def _boolean_tail(
    rows: DataFrame,
    gated_all: DataFrame,
    need: DataFrame,
    avgdl: float,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Boolean tail over decoded rows: one (query_id, doc_id) aggregate
    carrying the BM25 sum, the AND count, and the NOT veto, so the decoded
    scan is consumed exactly once (ADVICE r03). must and must_not entries
    ride one role-tagged ``gated_all`` (``is_neg``); ``need`` holds each
    query's distinct must-token count. id-space-agnostic, like
    :func:`_score_rows`."""
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


def _phrase_hits(terms: DataFrame, phrases: DataFrame, scan) -> DataFrame | None:
    """Per-doc phrase occurrence counts (query_id, doc_id, n_matches) from
    one positional segment (its dictionary ``terms`` and its posting scan
    ``scan``: term_ids -> blocks, ``InvertedIndex.scan_postings``), no top-k
    yet — the engine unions these across segments (doc spaces are disjoint,
    so per-segment counts ARE the global counts) before one global
    :func:`_phrase_window`. None = nothing can match (empty or fully-gated
    phrase set).

    Plan: phrase tokens with ordinals -> dictionary gate (any unknown token
    => the phrase can't match, query dropped) -> pruned positional posting
    scan of ONLY the phrase's terms -> decode positions -> for ordinal j
    shift positions by -j -> a phrase occurrence at position p is a (doc, p)
    cell hit by ALL ordinals -> count per doc. Every join key is (doc_id,
    adj) — uniform; the scan touches the same few buckets as a BM25 query
    over the same terms."""
    from .postings import decode_postings_positional

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
    rows = decode_postings_positional(scan(sorted({r["term_id"] for r in meta})))
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
