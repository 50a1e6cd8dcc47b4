"""Driver-side (zero-Spark-job) serving tier.

VERDICT r03 #6 introduced this tier for plain BM25 top-k: interactive p50 on
the Spark pruned path is dominated by per-job scheduling (~100+ ms), not
data — the reference's GUI answers per keystroke because its index is a
resident SQLite file. The distributed rendition of that design: a *serving
node* holds the (metadata-sized) term dictionary and the file manifest,
fetches the few posting blocks a query needs with DIRECT parquet reads
(pyarrow, row-group skipped by the same term_id stats the Spark scan uses),
and runs the SAME MaxScore kernel (``operators.topk._pruned_kernel``)
in-process — so results are bit-identical to the Spark pruned path, which
itself is rank-identical to the exact path and the oracle.

Round 5 extends the tier to the full query surface (VERDICT r04 #4/#5):

- **multi-source serving** (:func:`topk_local_multi`): N pinned sources —
  the segments of an LSM index — answer one query with a single in-process
  kernel pass; per-segment block bounds are rescaled by max(1, avgdl_g /
  avgdl_s) exactly like the distributed segmented plan, doc spaces are
  disjoint, so the kernel's accumulator IS the k-way merge.
- **boolean / filtered tails** (:func:`boolean_local`,
  :func:`filtered_topk_local`): both are pandas-sized after the block
  fetch; the must-count / NOT-veto logic of ``operators.topk._boolean_tail``
  and the allowed-doc semi-join of ``operators.topk._score_rows`` ported to
  numpy over decoded rows (same math, same 6-dp rounding, same tie-breaks).
- **positional phrase matching** (:func:`phrase_local`): position streams
  decoded driver-side (``functions.codec.decode_positions``, the decode the
  Spark plan runs), ordinal-shift intersection in numpy — the in-process
  twin of ``operators.topk._phrase_hits``.
- **snippets** (:func:`snippets_local`): hit highlighting from a direct
  parquet point-fetch of the hit docs (the J9 point-lookup shape, reference
  ``geo_gui.py:229-243``), tokenizer-spec-identical windows.

Every mode routes hot terms (df past the serving cap) and over-cap gathers
back to the distributed path — the same routing rule as the Spark kernel
path — so the tier is a latency optimization, never a scale ceiling.

Block cache: keyed by term_id, holding the term's decoded-block pandas
rows; bounded by total cached block count (default ~2^18 blocks ≈ 33M
postings ≈ a few hundred MB) with LRU eviction.
"""

from __future__ import annotations

import math
import os
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pandas as pd

BLOCK_COLUMNS = [
    "term_id", "first_doc", "last_doc", "block_max_tfn", "doc_ids", "tfs", "dls",
]

# serving caps: per-term block bound mirrors the Spark kernel's hot-term
# routing; per-query total bound keeps one driver kernel call's gather small
MAX_LOCAL_BLOCKS_PER_QUERY = 1 << 15


class LocalBlockReader:
    """Manifest-driven direct-parquet block reader with an LRU term cache.

    ``with_positions=True`` additionally fetches the positional stream
    (``poss``) — used by the serve-mode phrase path on positional indexes.
    """

    def __init__(self, index_root: str, n_buckets: int,
                 manifest_entries: list[dict], max_cached_blocks: int = 1 << 18,
                 with_positions: bool = False):
        self.postings_dir = os.path.join(index_root, "postings")
        self.n_buckets = n_buckets
        self.entries = manifest_entries
        self.max_cached_blocks = max_cached_blocks
        self.columns = BLOCK_COLUMNS + (["poss"] if with_positions else [])
        self._cache: OrderedDict[int, pd.DataFrame] = OrderedDict()
        self._cached_blocks = 0

    def term_blocks(self, tids: list[int]) -> dict[int, pd.DataFrame]:
        """Posting-block rows per term_id (possibly empty frames). Misses
        are fetched in ONE pyarrow read over the manifest-selected files,
        filtered to the missing ids (row-group skipping via the same
        term_id min/max stats the Spark scan pushes down)."""
        # dedup (order-preserving): duplicate tids would re-insert the same
        # cache entry and re-add its block count while eviction decrements
        # only once — the counter would drift upward permanently (ADVICE r04)
        missing = list(dict.fromkeys(t for t in tids if t not in self._cache))
        if missing:
            self._fetch(missing)
        out = {}
        for t in tids:
            hit = self._cache[t]
            self._cache.move_to_end(t)  # LRU refresh
            out[t] = hit
        # evict AFTER the lookup, never the current query's terms — a cache
        # cap smaller than one query's working set must degrade to
        # read-through, not KeyError mid-query
        current = set(tids)
        while self._cached_blocks > self.max_cached_blocks:
            victim = next((k for k in self._cache if k not in current), None)
            if victim is None:
                break
            self._cached_blocks -= len(self._cache.pop(victim))
        return out

    def _fetch(self, tids: list[int]) -> None:
        import pyarrow.dataset as ds

        from .manifest import select_files

        files = select_files(self.entries, tids, self.n_buckets)
        if files:
            dataset = ds.dataset(
                [os.path.join(self.postings_dir, f) for f in files],
                format="parquet",
            )
            pdf = dataset.to_table(
                columns=self.columns,
                filter=ds.field("term_id").isin(tids),
            ).to_pandas()
        else:
            pdf = pd.DataFrame(columns=self.columns)
        groups = {int(t): g for t, g in pdf.groupby("term_id", sort=False)}
        for t in tids:
            if t in self._cache:  # never double-count an entry
                continue
            g = groups.get(t, pdf.iloc[0:0])
            self._cache[t] = g
            self._cached_blocks += len(g)


@dataclass
class ServingSource:
    """One pinned index (segment): block reader + its own term dictionary
    (term -> (term_id, df)) and the block-bound rescale factor
    max(1, avgdl_global / avgdl_segment) — the same lossless-upper-bound
    rescale the distributed segmented kernel applies."""

    reader: LocalBlockReader
    term_lookup: dict
    scale: float = 1.0
    pos_reader: LocalBlockReader | None = None  # phrase path (positional)


def _idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _token_counts(text: str) -> dict[str, int]:
    from ..functions.tokenize import tokenize_py

    counts: dict[str, int] = {}
    for t in tokenize_py(text):
        counts[t] = counts.get(t, 0) + 1
    return counts


def _gate_terms_local(
    sources: list[ServingSource],
    counts: dict[str, int],
    n_docs: int,
    hot_df: int,
):
    """Driver-side dictionary gate across sources. Returns
    (gated, hot, est_blocks, unknown) where gated =
    [(term, qtf, idf, [(src_idx, term_id, df_local), ...])] — idf from the
    GLOBAL df (summed across sources, exactly the segmented plan's stats);
    ``unknown`` lists terms absent from every source (vocabulary gate)."""
    from ..functions.codec import BLOCK_SIZE

    gated, unknown = [], []
    hot = False
    est_blocks = 0
    for t, qtf in counts.items():
        hits = []
        for si, src in enumerate(sources):
            h = src.term_lookup.get(t)
            if h is not None:
                hits.append((si, h[0], h[1]))
        if not hits:
            unknown.append(t)
            continue
        gdf = sum(df for _, _, df in hits)
        if gdf > hot_df:
            hot = True
            break
        est_blocks += sum(-(-df // BLOCK_SIZE) for _, _, df in hits)
        gated.append((t, qtf, _idf(n_docs, gdf), hits))
    return gated, hot, est_blocks, unknown


def _fetch_sources(
    sources: list[ServingSource],
    gated,
    positional: bool = False,
) -> dict[int, dict[int, pd.DataFrame]]:
    """One reader fetch per source covering every gated term it holds."""
    per_src: dict[int, list[int]] = {}
    for _, _, _, hits in gated:
        for si, tid, _ in hits:
            per_src.setdefault(si, []).append(tid)
    return {
        si: (sources[si].pos_reader if positional else sources[si].reader)
        .term_blocks(tids)
        for si, tids in per_src.items()
    }


_EMPTY_TOPK = pd.DataFrame(
    {"query_id": pd.Series(dtype="int64"), "doc_id": pd.Series(dtype="int64"),
     "score": pd.Series(dtype="float64"), "rank": pd.Series(dtype="int32")}
)


def topk_local_multi(
    sources: list[ServingSource],
    qrows: list,
    n_docs: int,
    avgdl: float,
    hot_df: int,
    max_blocks_per_query: int = MAX_LOCAL_BLOCKS_PER_QUERY,
) -> tuple[pd.DataFrame, list[int]]:
    """Answer a collected query batch entirely driver-side over N pinned
    sources (1 = single index; >1 = LSM segments).

    Returns (results_pdf, spark_qids): queries whose terms are hot (global
    df past the serving cap) or whose candidate block gather exceeds the
    per-query cap are NOT answered locally — their query_ids come back in
    ``spark_qids`` for the caller to route to the distributed path.
    Results are produced by the same kernel as the Spark pruned path; with
    multiple sources the kernel input is the union of per-segment blocks
    with bounds rescaled by each source's ``scale`` (sound upper bounds —
    the exact re-scoring uses decoded (tf, dl) and the GLOBAL avgdl), so
    results are rank-identical to the distributed segmented plan.
    """
    from ..operators.topk import _pruned_kernel

    kernel = _pruned_kernel(avgdl)
    spark_qids: list[int] = []
    parts: list[pd.DataFrame] = []
    for q in qrows:
        qid, k = q["query_id"], int(q["k"])
        gated, hot, est_blocks, _ = _gate_terms_local(
            sources, _token_counts(q["query_text"]), n_docs, hot_df
        )
        if hot or est_blocks > max_blocks_per_query:
            spark_qids.append(qid)
            continue
        if not gated:
            continue  # all-unknown query: empty result, same as Spark path
        blocks = _fetch_sources(sources, gated)
        qparts = []
        for gi, (_, qtf, idf, hits) in enumerate(gated):
            for si, tid, _ in hits:
                b = blocks[si][tid]
                if len(b) == 0:
                    continue
                bb = b.copy(deep=False)  # never mutate the cached frame
                if sources[si].scale != 1.0:
                    bb["block_max_tfn"] = (
                        bb["block_max_tfn"] * sources[si].scale
                    )
                bb["term_id"] = gi  # global query-term ordinal
                bb["qtf"] = qtf
                bb["idf"] = idf
                qparts.append(bb)
        if not qparts:
            continue
        pdf = pd.concat(qparts, ignore_index=True)
        pdf["k"] = k
        parts.append(kernel((qid,), pdf))
    res = pd.concat(parts, ignore_index=True) if parts else _EMPTY_TOPK.copy()
    return res, spark_qids


# ---------------------------------------------------------------------------
# exact decoded-row helpers (boolean / filtered / phrase tails)
# ---------------------------------------------------------------------------


def _decode_rows(frames: list[pd.DataFrame]):
    """Concatenate block frames -> (doc_ids, tfs, dls) int64 arrays."""
    from ..functions.codec import decode_doc_gaps, decode_tfs

    ids, tfs, dls = [], [], []
    for f in frames:
        for braw, traw, draw in zip(f["doc_ids"], f["tfs"], f["dls"]):
            ids.append(decode_doc_gaps(braw))
            tfs.append(decode_tfs(traw))
            dls.append(decode_tfs(draw))
    if not ids:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return np.concatenate(ids), np.concatenate(tfs), np.concatenate(dls)


def _term_rows(
    sources: list[ServingSource],
    blocks: dict[int, dict[int, pd.DataFrame]],
    hits,
    allowed: np.ndarray | None = None,
):
    """Decoded rows of one gated term across its sources.

    ``allowed`` (sorted doc_id array): blocks whose [first_doc, last_doc]
    range contains NO allowed id are skipped BEFORE varint decode (VERDICT
    r05 #5) — for a selective facet most of a hot term's blocks never
    decode. Per-term doc ranges are disjoint (the build invariant), so
    range-vs-set intersection is exact pruning, never lossy."""
    frames = []
    for si, tid, _ in hits:
        f = blocks[si][tid]
        if not len(f):
            continue
        if allowed is not None and allowed.size:
            lo = np.searchsorted(allowed, f["first_doc"].to_numpy(), side="left")
            hi = np.searchsorted(allowed, f["last_doc"].to_numpy(), side="right")
            keep = hi > lo  # some allowed id falls inside the block's range
            if not keep.all():
                f = f[keep]
            if not len(f):
                continue
        frames.append(f)
    return _decode_rows(frames)


def _rank_rounded(
    qid: int, docs: np.ndarray, scores: np.ndarray, k: int
) -> pd.DataFrame:
    """6-dp round BEFORE ranking, (score desc, doc_id asc) ties — the
    engine-wide determinism contract."""
    from ..functions.bm25 import SCORE_DECIMALS

    score_r = np.round(scores, SCORE_DECIMALS)
    sel = np.lexsort((docs, -score_r))[:k]
    return pd.DataFrame(
        {
            "query_id": np.full(sel.size, qid, dtype=np.int64),
            "doc_id": docs[sel],
            "score": score_r[sel],
            "rank": np.arange(1, sel.size + 1, dtype=np.int32),
        }
    )


def filtered_topk_local(
    sources: list[ServingSource],
    qrows: list,
    n_docs: int,
    avgdl: float,
    hot_df: int,
    allowed_ids: np.ndarray,
    max_blocks_per_query: int = MAX_LOCAL_BLOCKS_PER_QUERY,
) -> tuple[pd.DataFrame, list[int]]:
    """Faceted BM25 driver-side: candidates outside ``allowed_ids`` are
    dropped BEFORE ranking while idf/avgdl/N stay global — the
    filter-query semantics of ``QueryEngine.topk_filtered``'s Spark plan
    (``operators.topk._score_rows`` with ``allowed_docs``). ``allowed_ids`` is
    the collected doc_id set of the metadata predicate (the caller guards
    its size and falls back to Spark past the cap)."""
    from ..functions.bm25 import tfnorm_np

    allowed = np.unique(np.asarray(allowed_ids, dtype=np.int64))
    spark_qids: list[int] = []
    parts: list[pd.DataFrame] = []
    for q in qrows:
        qid, k = q["query_id"], int(q["k"])
        gated, hot, est_blocks, _ = _gate_terms_local(
            sources, _token_counts(q["query_text"]), n_docs, hot_df
        )
        if hot or est_blocks > max_blocks_per_query:
            spark_qids.append(qid)
            continue
        if not gated:
            continue
        blocks = _fetch_sources(sources, gated)
        all_docs, all_contrib = [], []
        for _, qtf, idf, hits in gated:
            d, t, dl = _term_rows(sources, blocks, hits, allowed=allowed)
            if d.size == 0:
                continue
            keep = np.isin(d, allowed)  # the semi-join, pre-scoring
            if not keep.any():
                continue
            d, t, dl = d[keep], t[keep], dl[keep]
            all_docs.append(d)
            all_contrib.append(
                qtf * idf * tfnorm_np(t.astype(np.float64),
                                      dl.astype(np.float64), avgdl)
            )
        if not all_docs:
            continue
        docs = np.concatenate(all_docs)
        uniq, inv = np.unique(docs, return_inverse=True)
        summed = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(summed, inv, np.concatenate(all_contrib))
        parts.append(_rank_rounded(qid, uniq, summed, k))
    res = pd.concat(parts, ignore_index=True) if parts else _EMPTY_TOPK.copy()
    return res, spark_qids


def boolean_local(
    sources: list[ServingSource],
    qrows: list,
    n_docs: int,
    avgdl: float,
    hot_df: int,
    max_blocks_per_query: int = MAX_LOCAL_BLOCKS_PER_QUERY,
    allowed_ids: np.ndarray | None = None,
) -> tuple[pd.DataFrame, list[int]]:
    """Boolean (must / must_not) search driver-side — the numpy port of
    ``operators.topk._boolean_tail``: a doc qualifies iff it matches EVERY
    distinct must token and NO must_not token; qualifying docs rank by BM25
    over the must terms. An unknown must term makes its query unsatisfiable
    (0 rows, never relaxed); unknown must_not tokens are no-ops.
    qrows: (query_id, must, must_not, k)."""
    from ..functions.bm25 import tfnorm_np

    spark_qids: list[int] = []
    parts: list[pd.DataFrame] = []
    for q in qrows:
        qid, k = q["query_id"], int(q["k"])
        mcounts = _token_counts(q["must"] or "")
        if not mcounts:
            continue  # empty must -> nothing matches
        n_must = len(mcounts)
        gated, hot, est_blocks, unknown = _gate_terms_local(
            sources, mcounts, n_docs, hot_df
        )
        if unknown:
            continue  # unsatisfiable conjunction
        ncounts = _token_counts(q["must_not"] or "")
        ngated, nhot, nest, _ = _gate_terms_local(
            sources, {t: 1 for t in ncounts}, n_docs, hot_df
        )
        if hot or nhot or est_blocks + nest > max_blocks_per_query:
            spark_qids.append(qid)
            continue
        blocks = _fetch_sources(sources, gated + ngated)
        # with a facet set, blocks outside its doc ranges never decode
        # (same exact range pruning as the filtered path); the final
        # membership check below keeps semantics identical
        ball = (
            np.unique(np.asarray(allowed_ids, dtype=np.int64))
            if allowed_ids is not None
            else None
        )
        all_docs, all_contrib = [], []
        for _, qtf, idf, hits in gated:
            d, t, dl = _term_rows(sources, blocks, hits, allowed=ball)
            all_docs.append(d)
            all_contrib.append(
                qtf * idf * tfnorm_np(t.astype(np.float64),
                                      dl.astype(np.float64), avgdl)
            )
        docs = np.concatenate(all_docs)
        if docs.size == 0:
            continue
        uniq, inv = np.unique(docs, return_inverse=True)
        summed = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(summed, inv, np.concatenate(all_contrib))
        matched = np.zeros(uniq.size, dtype=np.int64)
        # one decoded row per (term, doc) -> row count == distinct must
        # terms matched
        np.add.at(matched, inv, 1)
        ok = matched == n_must
        if ngated:
            neg_parts = [
                _term_rows(sources, blocks, hits, allowed=ball)[0]
                for _, _, _, hits in ngated
            ]
            neg_docs = np.unique(np.concatenate(neg_parts))
            ok &= ~np.isin(uniq, neg_docs)
        if allowed_ids is not None:
            ok &= np.isin(uniq, allowed_ids)
        if not ok.any():
            continue
        parts.append(_rank_rounded(qid, uniq[ok], summed[ok], k))
    res = pd.concat(parts, ignore_index=True) if parts else _EMPTY_TOPK.copy()
    return res, spark_qids


# ---------------------------------------------------------------------------
# positional phrase matching
# ---------------------------------------------------------------------------


def _decode_positional(frames: list[pd.DataFrame]):
    """Block frames (with poss) -> (doc_id, position) pairs as two flat
    arrays: one entry per position of every posting."""
    from ..functions.codec import decode_doc_gaps, decode_positions, decode_tfs

    docs_out: list[np.ndarray] = []
    poss_out: list[np.ndarray] = []
    for f in frames:
        for braw, traw, praw in zip(f["doc_ids"], f["tfs"], f["poss"]):
            ids = decode_doc_gaps(braw)
            if ids.size == 0:
                continue
            btf = decode_tfs(traw)
            docs_out.append(np.repeat(ids, btf))
            poss_out.append(decode_positions(praw, btf))
    if not docs_out:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy()
    return np.concatenate(docs_out), np.concatenate(poss_out)


_EMPTY_PHRASE = pd.DataFrame(
    {"query_id": pd.Series(dtype="int64"), "rank": pd.Series(dtype="int32"),
     "doc_id": pd.Series(dtype="int64"), "n_matches": pd.Series(dtype="int32")}
)


def phrase_local(
    sources: list[ServingSource],
    phrase_rows: list,
    k: int = 10,
    hot_df: int | None = None,
) -> tuple[pd.DataFrame, list[int]]:
    """Exact phrase search over pinned POSITIONAL sources: for token ordinal
    j, shift its positions by -j; a phrase occurrence at position p is a
    (doc, p) cell hit by ALL ordinals (the ``_phrase_hits`` plan in numpy).
    A source whose dictionary lacks any phrase token contributes no docs —
    exactly the docs a merged index would also reject. Hot phrase tokens
    route the phrase to ``spark_qids``."""
    spark_qids: list[int] = []
    parts: list[pd.DataFrame] = []
    from ..functions.tokenize import tokenize_py

    for q in phrase_rows:
        qid = q["query_id"]
        toks = tokenize_py(q["phrase_text"])
        if not toks:
            continue
        plen = len(toks)
        if hot_df is not None and any(
            sum(
                src.term_lookup[t][1]
                for src in sources if t in src.term_lookup
            ) > hot_df
            for t in set(toks)
        ):
            spark_qids.append(qid)
            continue
        doc_parts, cnt_parts = [], []
        for src in sources:
            if any(t not in src.term_lookup for t in set(toks)):
                continue  # no doc in this source can contain the phrase
            tids = {t: src.term_lookup[t][0] for t in set(toks)}
            blocks = src.pos_reader.term_blocks(sorted(set(tids.values())))
            decoded = {
                t: _decode_positional([blocks[tid]] if len(blocks[tid]) else [])
                for t, tid in tids.items()
            }
            pair_docs, pair_adj = [], []
            empty = False
            for j, t in enumerate(toks):
                d, p = decoded[t]
                adj = p - j
                keep = adj >= 1
                if not keep.any():
                    empty = True
                    break
                pair_docs.append(d[keep])
                pair_adj.append(adj[keep])
            if empty:
                continue
            docs = np.concatenate(pair_docs)
            adjs = np.concatenate(pair_adj)
            # count distinct ordinals per (doc, adj): within one ordinal a
            # (doc, adj) appears at most once (positions are distinct per
            # posting), so the multiplicity of the pair IS the ordinal count
            pairs = np.stack([docs, adjs], axis=1)
            uniq, counts = np.unique(pairs, axis=0, return_counts=True)
            full = uniq[counts == plen]
            if full.size == 0:
                continue
            mdocs, mcounts = np.unique(full[:, 0], return_counts=True)
            doc_parts.append(mdocs)
            cnt_parts.append(mcounts)
        if not doc_parts:
            continue
        docs = np.concatenate(doc_parts)  # disjoint across sources
        counts = np.concatenate(cnt_parts)
        sel = np.lexsort((docs, -counts))[:k]
        parts.append(
            pd.DataFrame(
                {
                    "query_id": np.full(sel.size, qid, dtype=np.int64),
                    "rank": np.arange(1, sel.size + 1, dtype=np.int32),
                    "doc_id": docs[sel],
                    "n_matches": counts[sel].astype(np.int32),
                }
            )
        )
    res = pd.concat(parts, ignore_index=True) if parts else _EMPTY_PHRASE.copy()
    return res, spark_qids


# ---------------------------------------------------------------------------
# snippets (hit highlighting) from a direct doc point-fetch
# ---------------------------------------------------------------------------


_EMPTY_SNIPPETS = pd.DataFrame(
    {"query_id": pd.Series(dtype="int64"), "doc_id": pd.Series(dtype="int64"),
     "rank": pd.Series(dtype="int32"), "first_pos": pd.Series(dtype="int64"),
     "snippet": pd.Series(dtype="object")}
)


def snippets_local(
    docs_source: str,
    qrows: list,
    hit_rows: list,
    width: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> pd.DataFrame:
    """Serve-mode hit highlighting: the hit docs are point-fetched with ONE
    pyarrow read (``id IN (...)`` — row-group skipped when the corpus is
    id-sorted), tokenized with the engine's tokenizer spec, and the
    first-match ±width window extracted — semantics identical to
    ``operators.textstats.snippets`` (same oracle)."""
    import pyarrow.dataset as ds

    from ..functions.tokenize import tokenize_py

    if not hit_rows:
        return _EMPTY_SNIPPETS.copy()
    hit_ids = sorted({int(r["doc_id"]) for r in hit_rows})
    tbl = ds.dataset(docs_source, format="parquet").to_table(
        columns=[id_col, text_col], filter=ds.field(id_col).isin(hit_ids)
    )
    toks_by_id = {
        int(i): tokenize_py(t)
        for i, t in zip(tbl[id_col].to_pylist(), tbl[text_col].to_pylist())
    }
    qterms = {
        q["query_id"]: list(dict.fromkeys(tokenize_py(q["query_text"])))
        for q in qrows
    }
    out = {"query_id": [], "doc_id": [], "rank": [], "first_pos": [], "snippet": []}
    for r in hit_rows:
        qid, did = r["query_id"], int(r["doc_id"])
        toks = toks_by_id.get(did)
        if toks is None:
            continue
        first = None
        for t in qterms.get(qid, ()):
            try:
                p = toks.index(t) + 1  # 1-based, first occurrence
            except ValueError:
                continue
            first = p if first is None else min(first, p)
        if first is None:
            continue  # a BM25 hit always contains >=1 query term
        a = max(1, first - width)
        b = min(len(toks), first + width)
        out["query_id"].append(qid)
        out["doc_id"].append(did)
        out["rank"].append(int(r["rank"]))
        out["first_pos"].append(first)
        out["snippet"].append(" ".join(toks[a - 1:b]))
    return pd.DataFrame(
        {
            "query_id": pd.Series(out["query_id"], dtype="int64"),
            "doc_id": pd.Series(out["doc_id"], dtype="int64"),
            "rank": pd.Series(out["rank"], dtype="int32"),
            "first_pos": pd.Series(out["first_pos"], dtype="int64"),
            "snippet": pd.Series(out["snippet"], dtype="object"),
        }
    )
