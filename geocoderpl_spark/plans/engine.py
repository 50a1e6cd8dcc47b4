"""One query engine over a list of index segments.

Every query mode is written once, here, over ``list[InvertedIndex]``: a
built index answers as the one-segment list ``[self]``, a
``SegmentedIndex`` over its live segments, or over the ones its
:meth:`QueryEngine.serve` pin or ``snapshot_id`` fixed. The reference runs
its query stage the same way whatever the index looks like: dictionary
check, partition-pruned posting scan, candidate ranking, row fetch
(``geo_gui.py:172-202``).

A mode has up to three plans:

- **served** (after :meth:`QueryEngine.serve`): the driver-side tails of
  ``plans/serving.py`` over one pinned ``ServingSource`` per segment, zero
  Spark jobs; the queries they route back (hot terms, over-cap gathers)
  take the Spark plan.
- **driver-staged Spark**: a batch of at most ``MAX_DRIVER_QUERIES`` rows
  is tokenized on the driver, every segment's dictionary is probed in one
  job, per-segment term_ids are remapped to a global query-term ordinal and
  one scoring tail runs over the union of the segments' manifest-pruned
  scans. N, avgdl and df are global, so a segment set ranks exactly like
  one merged index.
- **distributed** (a batch past ``MAX_DRIVER_QUERIES``): tokenization and
  the dictionary gate stay in Spark and no query row reaches the driver;
  only the distinct dictionary hits are collected, so every segment's
  posting scan keeps its manifest prune.

Driver-side rows become DataFrames through Arrow (``session.local_frame``),
never through ``SparkContext.parallelize``.
"""

from __future__ import annotations

import operator
from collections import Counter
from functools import reduce
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import topk as _topk
from ..operators.postings import decode_postings
from ..session import local_frame
from . import serving

if TYPE_CHECKING:
    from .build import InvertedIndex

QUERY_SCHEMA = "query_id long, query_text string, k int"
GATED_SCHEMA = "query_id long, k int, term_id long, qtf long, idf double"
PHRASE_SCHEMA = "query_id long, rank int, doc_id long, n_matches int"
SNIPPET_SCHEMA = "query_id long, doc_id long, rank int, first_pos long, snippet string"


def _union(frames: list[DataFrame]) -> DataFrame | None:
    return reduce(DataFrame.unionByName, frames) if frames else None


def _hot_df() -> int:
    # looked up at call time: a caller may patch the threshold
    return _topk._hot_df_threshold(_topk.MAX_BLOCKS_PER_TERM)


def _collect_capped(df: DataFrame, cap: int) -> list | None:
    """Up to ``cap`` rows of ``df``; None when it holds more (the caller
    keeps a plan that stages nothing on the driver)."""
    rows = df.limit(cap + 1).collect()
    return None if len(rows) > cap else rows


class QueryEngine:
    """Every query mode over the segment list of :meth:`segments`.

    Results of :meth:`query` are cached only while that list cannot change
    under the engine: a built index, a :meth:`serve` pin, a snapshot."""

    # Driver-side vocabulary cutover: above this many terms (summed across
    # segments) serve() pins nothing and every query keeps its Spark plan —
    # at 1e9 terms a driver-resident dict would be ~30 GB.
    MAX_DRIVER_TERMS = 20_000_000
    # Query batches beyond this are not serving-shaped: past it a mode
    # stages nothing on the driver and takes its distributed plan (ADVICE r04).
    MAX_DRIVER_QUERIES = 10_000
    # Metadata-filter sets beyond this many doc_ids are not collected; the
    # filtered query keeps the Spark semi-join plan.
    MAX_DRIVER_FILTER_DOCS = 2_000_000
    QUERY_CACHE_SIZE = 1024

    _sources: list | None = None  # one ServingSource per pinned segment
    _serve_stats: tuple[int, float] | None = None  # (N, avgdl) of the pin
    _serve_segs: list | None = None
    _sorted_terms: list[str] | None = None  # autocomplete's pinned vocabulary
    _query_cache: dict | None = None
    _docs_source: str | None = None
    _docs_id_col = "doc_id"
    _docs_text_col = "text"
    # True when segments() always returns the same list
    _segments_fixed = True

    def segments(self) -> list[InvertedIndex]:
        raise NotImplementedError

    def _view(self) -> list[InvertedIndex]:
        return self._serve_segs if self._sources is not None else self.segments()

    def global_stats(self, segs: list[InvertedIndex] | None = None) -> tuple[int, float]:
        """(N, avgdl) over ``segs`` (default: :meth:`segments`)."""
        segs = self.segments() if segs is None else segs
        if len(segs) == 1:  # the segment's own stats, bit for bit
            return segs[0].n_docs, segs[0].avgdl
        n = sum(s.n_docs for s in segs)
        total_len = sum(s.avgdl * s.n_docs for s in segs)
        return n, (total_len / n if n else 0.0)

    # ---- serving ----------------------------------------------------------

    def serve(
        self,
        max_driver_terms: int | None = None,
        docs_source: str | None = None,
        docs_id_col: str = "doc_id",
        docs_text_col: str = "text",
    ):
        """Pin the zero-job serving state for the current segment list: per
        segment a ``LocalBlockReader`` (plus a positions reader when the
        segment is positional), its term dictionary and the block-bound
        rescale max(1, avgdl_global / avgdl_segment); global (N, avgdl).
        Reference analog: the GUI keeps the vocabulary and sector index
        resident (``geo_gui.py:36-43``). Runs no Spark job.

        The pin is a point-in-time segment list (the ``snapshot_id``
        contract): call serve() again after appends or compactions. Each
        call clears the result cache (ADVICE r05). Vocabularies beyond
        ``max_driver_terms`` (summed across segments) or a segment that
        predates the file manifest leave the index unserved.

        ``docs_source`` (a parquet path of the corpus) enables the served
        :meth:`snippets` path: hit docs are point-fetched with pyarrow."""
        from .manifest import load_postings_manifest, load_term_lookup

        if docs_source is not None:
            self._docs_source = docs_source
            self._docs_id_col, self._docs_text_col = docs_id_col, docs_text_col
        cap = self.MAX_DRIVER_TERMS if max_driver_terms is None else max_driver_terms
        segs = self.segments()
        n_docs, avgdl = self.global_stats(segs)
        self._sources = self._serve_segs = self._serve_stats = self._sorted_terms = None
        self._query_cache = {}
        sources, total_terms = [], 0
        for s in segs:
            entries = load_postings_manifest(s.root) or []
            if not entries and s.n_docs > 0:
                return self  # pre-manifest segment: stay on the Spark plans
            # the cap covers the vocabularies summed across segments; each
            # dictionary is checked against what is left of it before any
            # of its rows is read
            lookup = load_term_lookup(s.root, cap - total_terms)
            if lookup is None:
                return self  # vocabulary too large to pin
            total_terms += len(lookup)
            sources.append(serving.ServingSource(
                serving.LocalBlockReader(s.root, s.n_buckets, entries),
                lookup,
                max(1.0, avgdl / s.avgdl) if s.avgdl else 1.0,
                # own reader (own cache) for the positions stream: the BM25
                # paths never fetch it
                pos_reader=serving.LocalBlockReader(
                    s.root, s.n_buckets, entries, with_positions=True
                ) if s.positional else None,
            ))
        self._sources, self._serve_segs, self._serve_stats = sources, segs, (n_docs, avgdl)
        return self

    def query(self, text: str, k: int = 10) -> list:
        """Single-query entrypoint: [(rank, doc_id, score), ...]. Served, it
        answers in-process (single-digit ms; the Spark floor is ~250 ms);
        repeats come from an LRU result cache, like the reference's
        query -> result dict (``res_coords``, ``geo_gui.py:71,202,248``)."""
        key = (text, int(k))
        cached = self._sources is not None or self._segments_fixed
        if self._query_cache is None:
            self._query_cache = {}
        if cached and key in self._query_cache:
            self._query_cache[key] = self._query_cache.pop(key)  # LRU refresh
            return self._query_cache[key]
        rows = None
        if self._sources is not None:
            res, routed = serving.topk_local_multi(
                self._sources, [{"query_id": 0, "query_text": text, "k": int(k)}],
                *self._serve_stats, _hot_df(),
            )
            if not routed:  # a hot query goes through Spark below
                res = res.sort_values("rank")
                rows = [
                    (int(r), int(d), float(s))
                    for r, d, s in zip(res["rank"], res["doc_id"], res["score"])
                ]
        if rows is None:
            q = local_frame(self.spark, [(0, text, int(k))], QUERY_SCHEMA)
            rows = [
                (r["rank"], r["doc_id"], r["score"])
                for r in self.topk(q, mode="pruned").orderBy("rank").collect()
            ]
        if cached:
            self._query_cache[key] = rows
            while len(self._query_cache) > self.QUERY_CACHE_SIZE:
                self._query_cache.pop(next(iter(self._query_cache)))
        return rows

    def _answer(self, rows: list, local, schema: str, spark_plan) -> DataFrame:
        """``local()`` -> (results, routed query_ids) answers ``rows``
        in-process; ``spark_plan`` takes the rows it routes back, or every
        row when there is no local answer."""
        out, rest = None, rows
        if local is not None:
            res, routed = local()
            out = local_frame(self.spark, res, schema)
            routed = set(routed)
            rest = [q for q in rows if q["query_id"] in routed]
        if out is None or rest:
            plan = spark_plan(rest)
            out = plan if out is None else out.unionByName(plan)
        return out

    def _allowed_ids(self, allowed_docs: DataFrame):
        """The facet's doc_ids as a numpy array; None past the cap."""
        import numpy as np

        rows = _collect_capped(allowed_docs.select("doc_id"), self.MAX_DRIVER_FILTER_DOCS)
        return None if rows is None else np.array([r["doc_id"] for r in rows], dtype=np.int64)

    # ---- ranked modes -----------------------------------------------------

    def topk(self, queries: DataFrame, mode: str = "exact") -> DataFrame:
        """BM25 top-k: (query_id, query_text, k) -> (query_id, doc_id,
        score, rank). ``exact`` scores every candidate posting (the batch
        path); ``pruned`` runs the block-max MaxScore kernel (in-process when
        served) and sends hot-term queries to the exact tail. Both round
        scores to 6 dp before ranking and break ties by doc_id: they are
        rank-identical to each other and to the oracle."""
        if mode not in ("exact", "pruned"):
            raise ValueError(f"topk mode is 'exact' or 'pruned', not {mode!r}")
        return self._ranked(queries, mode == "pruned")

    def topk_filtered(self, queries: DataFrame, allowed_docs: DataFrame) -> DataFrame:
        """Faceted search: BM25 top-k restricted to ``allowed_docs`` (a
        doc_id frame, e.g. ``docstats.filter(...)``) by a semi-join before
        scoring; N, avgdl and df stay global (filter-query semantics)."""
        return self._ranked(queries, False, allowed_docs)

    def _ranked(self, queries: DataFrame, pruned: bool, allowed: DataFrame | None = None) -> DataFrame:
        segs = self._view()
        qrows = _collect_capped(queries, self.MAX_DRIVER_QUERIES)
        if qrows is None:
            return self._topk_distributed(queries, segs, allowed)
        local = None
        if self._sources is not None and allowed is not None:
            ids = self._allowed_ids(allowed)
            if ids is not None:
                def local():
                    return serving.filtered_topk_local(
                        self._sources, qrows, *self._serve_stats, _hot_df(), ids
                    )
        elif self._sources is not None and pruned:
            def local():
                return serving.topk_local_multi(
                    self._sources, qrows, *self._serve_stats, _hot_df()
                )
        return self._answer(
            qrows, local, _topk.TOPK_SCHEMA,
            lambda rows: self._topk_spark(segs, rows, pruned, allowed),
        )

    def _topk_spark(self, segs, qrows: list, pruned: bool, allowed: DataFrame | None) -> DataFrame:
        """Driver-staged Spark plan for collected query rows. ``exact``
        scores every decoded candidate posting (``_score_rows``).
        ``pruned``: per-segment block scans feed ONE MaxScore kernel pass
        per query (``_pruned_kernel``; the accumulator is the k-way merge:
        doc spaces are disjoint). The kernel gathers a query's candidate
        blocks into one task, so a query holding a term with global df >
        ``MAX_BLOCKS_PER_TERM * BLOCK_SIZE`` (more blocks than one task
        should gather) takes the exact tail instead: same scores, same
        ranks, no unbounded single-task gather. df comes from the
        dictionary probe, so the routing costs nothing extra."""
        n_docs, avgdl = self.global_stats(segs)
        qterms = [
            (q["query_id"], int(q["k"]), t, c)
            for q in qrows for t, c in serving._token_counts(q["query_text"]).items()
        ]
        seg_tids, gdf, gid = self._probe_terms(segs, {t for _, _, t, _ in qterms})
        hot_df = _hot_df()
        hot = {qid for qid, _, t, _ in qterms if gdf.get(t, 0) > hot_df} if pruned else set()
        gated = [
            (qid, k, gid[t], qtf, serving._idf(n_docs, gdf[t]))
            for qid, k, t, qtf in qterms if t in gid
        ]
        parts = []
        cold = [r for r in gated if r[0] not in hot] if pruned else []
        if cold:
            blocks = self._posting_rows(segs, seg_tids, gid, {r[2] for r in cold}, avgdl, False)
            parts.append(
                blocks.join(F.broadcast(local_frame(self.spark, cold, GATED_SCHEMA)), "term_id")
                .groupBy("query_id")
                .applyInPandas(_topk._pruned_kernel(avgdl), schema=_topk.TOPK_SCHEMA)
            )
        exact = [r for r in gated if r[0] in hot] if pruned else gated
        if exact:
            rows = self._posting_rows(segs, seg_tids, gid, {r[2] for r in exact}, avgdl, True)
            parts.append(_topk._score_rows(
                rows, local_frame(self.spark, exact, GATED_SCHEMA), avgdl, allowed_docs=allowed
            ))
        out = _union(parts)
        return out if out is not None else local_frame(self.spark, [], _topk.TOPK_SCHEMA)

    def _probe_terms(self, segs, terms) -> tuple[list[dict], dict[str, int], dict[str, int]]:
        """Per-segment {term: term_id}, the global df of the known
        ``terms`` (per-segment df sums exactly to corpus df) and their
        global query-term ordinals (sorted-term rank). ``terms`` is a set
        of strings, probed in the pinned dictionaries when served, else in
        ONE Spark job (a union of broadcast joins tagged by segment
        ordinal); or a one-column (term) frame, probed by that same job."""
        hits, probe = [], None
        if isinstance(terms, DataFrame):
            probe = terms
        elif self._sources is not None:
            hits = [
                (i, t, *src.term_lookup[t])
                for i, src in enumerate(self._sources) for t in terms if t in src.term_lookup
            ]
        elif terms:
            probe = local_frame(self.spark, [(t,) for t in sorted(terms)], "term string")
        if probe is not None and segs:
            hits = _union([
                s.terms.join(F.broadcast(probe), "term").select(F.lit(i).alias("seg"), "term", "term_id", "df")
                for i, s in enumerate(segs)
            ]).collect()
        seg_tids: list[dict] = [{} for _ in segs]
        gdf: dict[str, int] = {}
        for i, t, tid, df in hits:
            seg_tids[i][t] = tid
            gdf[t] = gdf.get(t, 0) + df
        return seg_tids, gdf, {t: i for i, t in enumerate(sorted(gdf))}

    def _posting_rows(self, segs, seg_tids, gid, keep: set[int], avgdl: float, decoded: bool) -> DataFrame:
        """Union over segments of the posting blocks of the global term
        ordinals ``keep``: each segment's scan goes through its file manifest
        (VERDICT r03 #5), its term_ids remapped to the ordinals by a
        broadcast join. Doc spaces are disjoint, so the union is the merged
        index's row set. ``decoded``: (term_id, doc_id, tf, doclen) rows for
        the exact tails; else the kernel's blocks, their block_max_tfn
        rescaled by max(1, avgdl_global / avgdl_segment), an upper bound on
        the tfnorm ratio over every (tf, dl), so MaxScore skipping stays
        lossless."""
        out = []
        for s, tids in zip(segs, seg_tids):
            pairs = [(tid, gid[t]) for t, tid in tids.items() if gid[t] in keep]
            if not pairs:
                continue
            remap = F.broadcast(local_frame(self.spark, pairs, "term_id long, gid long"))
            # drop("poss") column-prunes a positional index's positions
            # stream out of the parquet scan
            base = s.scan_postings([tid for tid, _ in pairs]).drop("poss")
            if decoded:
                cols = ["doc_id", "tf", "doclen"]
                base = decode_postings(base)
            else:
                scale = max(1.0, avgdl / s.avgdl) if s.avgdl else 1.0
                base = base.withColumn("block_max_tfn", F.col("block_max_tfn") * F.lit(scale))
                cols = ["first_doc", "last_doc", "block_max_tfn", "doc_ids", "tfs", "dls"]
            out.append(base.join(remap, "term_id").select(F.col("gid").alias("term_id"), *cols))
        return _union(out)

    def _distributed_gate(self, segs, terms: DataFrame):
        """For a batch past the cap: the dictionary hits of the distinct
        query ``terms`` (one Spark job; only the hits, never a query row,
        reach the driver) as a broadcast (term, term_id, idf) map onto the
        global ordinals, and the decoded posting rows of those ordinals read
        through each segment's manifest / literal-pruned scan. None when no
        term is known."""
        seg_tids, gdf, gid = self._probe_terms(segs, terms)
        if not gid:
            return None
        n_docs, avgdl = self.global_stats(segs)
        tmap = local_frame(
            self.spark, [(t, i, serving._idf(n_docs, gdf[t])) for t, i in gid.items()],
            "term string, term_id long, idf double",
        )
        return F.broadcast(tmap), self._posting_rows(segs, seg_tids, gid, set(gid.values()), avgdl, True)

    def _topk_distributed(self, queries: DataFrame, segs, allowed: DataFrame | None) -> DataFrame:
        """Batch-scale BM25 (past ``MAX_DRIVER_QUERIES``): distributed
        tokenization, the dictionary gate of :meth:`_distributed_gate`, the
        exact scoring tail — unbounded in batch size."""
        qterms = _topk.tokenize_queries(queries)
        gate = self._distributed_gate(segs, qterms.select("term").distinct())
        if gate is None:
            return local_frame(self.spark, [], _topk.TOPK_SCHEMA)
        tmap, rows = gate
        return _topk._score_rows(
            rows, qterms.join(tmap, "term").drop("term"), self.global_stats(segs)[1],
            allowed_docs=allowed,
        )

    # ---- boolean ----------------------------------------------------------

    def topk_boolean(self, queries: DataFrame, allowed_docs: DataFrame | None = None) -> DataFrame:
        """Boolean search, BM25-ranked: queries (query_id, must, must_not,
        k). A doc qualifies iff it holds EVERY distinct must token and NO
        must_not token; it ranks by BM25 over the must terms. An unknown
        must term makes its query unsatisfiable (0 rows, the conjunction is
        never relaxed); unknown must_not tokens are no-ops; an empty must
        yields 0 rows. ``allowed_docs`` composes a metadata facet."""
        segs = self._view()
        qrows = _collect_capped(queries, self.MAX_DRIVER_QUERIES)
        if qrows is None:
            return self._boolean_distributed(queries, segs, allowed_docs)
        local = None
        if self._sources is not None:
            ids = None if allowed_docs is None else self._allowed_ids(allowed_docs)
            if allowed_docs is None or ids is not None:
                def local():
                    return serving.boolean_local(
                        self._sources, qrows, *self._serve_stats, _hot_df(), allowed_ids=ids
                    )
        return self._answer(
            qrows, local, _topk.TOPK_SCHEMA,
            lambda rows: self._boolean_spark(segs, rows, allowed_docs),
        )

    def _boolean_spark(self, segs, qrows: list, allowed: DataFrame | None) -> DataFrame:
        """Driver-staged boolean plan: must and must_not terms ride one
        role-tagged gated relation into ``_boolean_tail`` (one aggregate
        carries the BM25 sum, the AND count and the NOT veto)."""
        n_docs, avgdl = self.global_stats(segs)
        must, neg, need = [], [], []
        for q in qrows:
            qid, k = q["query_id"], int(q["k"])
            counts = serving._token_counts(q["must"] or "")
            if counts:
                # distinct must-token count BEFORE the dictionary gate: an
                # unknown must term kills its query, never relaxes the AND
                need.append((qid, len(counts)))
            must += [(qid, k, t, c) for t, c in counts.items()]
            neg += [(qid, k, t) for t in sorted(serving._token_counts(q["must_not"] or ""))]
        if not need:  # every query had an empty must: nothing matches
            return local_frame(self.spark, [], _topk.TOPK_SCHEMA)
        seg_tids, gdf, gid = self._probe_terms(segs, {r[2] for r in must} | {r[2] for r in neg})
        gated = [
            (qid, k, gid[t], qtf, serving._idf(n_docs, gdf[t]), False)
            for qid, k, t, qtf in must if t in gid
        ] + [(qid, k, gid[t], None, None, True) for qid, k, t in neg if t in gid]
        if not gated:
            return local_frame(self.spark, [], _topk.TOPK_SCHEMA)
        return _topk._boolean_tail(
            self._posting_rows(segs, seg_tids, gid, {r[2] for r in gated}, avgdl, True),
            local_frame(self.spark, gated, GATED_SCHEMA + ", is_neg boolean"),
            F.broadcast(local_frame(self.spark, need, "query_id long, n_must long")),
            avgdl, allowed_docs=allowed,
        )

    def _boolean_distributed(self, queries: DataFrame, segs, allowed: DataFrame | None) -> DataFrame:
        """Batch-scale boolean search: the gate of :meth:`_distributed_gate`
        with the must / must_not roles of ``_boolean_tail`` — no query row
        is collected at any batch size."""
        def toks(col: str) -> DataFrame:
            return _topk.tokenize_queries(queries.select("query_id", "k", F.col(col).alias("query_text")))

        must, neg = toks("must"), toks("must_not")
        gate = self._distributed_gate(segs, must.select("term").union(neg.select("term")).distinct())
        if gate is None:
            return local_frame(self.spark, [], _topk.TOPK_SCHEMA)
        tmap, rows = gate
        # distinct must-token count BEFORE the dictionary gate, as in
        # _boolean_spark
        need = must.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_must"))
        gated_all = must.join(tmap, "term").select(
            "query_id", "k", "term_id", "qtf", "idf", F.lit(False).alias("is_neg")
        ).unionByName(neg.join(tmap, "term").select(
            "query_id", "k", "term_id",
            F.lit(None).cast("long").alias("qtf"),
            F.lit(None).cast("double").alias("idf"),
            F.lit(True).alias("is_neg"),
        ))
        return _topk._boolean_tail(
            rows, gated_all, need, self.global_stats(segs)[1], allowed_docs=allowed
        )

    # ---- autocomplete -----------------------------------------------------

    def autocomplete(self, queries: DataFrame, max_expansions: int = 50) -> DataFrame:
        """Prefix (per-keystroke) search, the reference's ``on_text_changed``
        entry point (``geo_gui.py:122``). If the raw text ends in a token
        character its LAST token is a prefix, expanded to the
        ``max_expansions`` dictionary terms of highest GLOBAL df (term asc
        on ties), each with qtf 1, next to the remaining exact tokens (a
        term matched both ways sums its qtf). The expanded batch is a plain
        BM25 batch: it runs through ``topk(mode="pruned")``, in-process when
        served. These semantics are pinned by the ``fts_autocomplete``
        DuckDB gate (``__spark_entry__._autocomplete_oracle``)."""
        import re

        from ..functions.tokenize import tokenize_py

        per_q, prefixes = [], set()
        for q in queries.collect():
            toks = tokenize_py(q["query_text"])
            pmode = re.search(r"[a-zA-Z0-9_]$", q["query_text"]) is not None
            prefix = toks[-1] if (pmode and toks) else None
            counts = Counter(toks)
            if prefix is not None:
                counts[prefix] -= 1  # the prefix token itself is not exact
                prefixes.add(prefix)
            per_q.append((q, counts, prefix))
        pref_df = self._prefix_df(self._view(), prefixes)
        rows = []
        for q, counts, prefix in per_q:
            if prefix is not None:
                cand = sorted(
                    (t for t in pref_df if t.startswith(prefix)), key=lambda t: (-pref_df[t], t)
                )
                counts.update(cand[:max_expansions])
            # dictionary terms are tokens: the text re-tokenizes to counts
            text = " ".join(t for t, c in counts.items() for _ in range(c))
            rows.append((q["query_id"], text, int(q["k"])))
        return self.topk(local_frame(self.spark, rows, QUERY_SCHEMA), mode="pruned")

    def _prefix_df(self, segs, prefixes: set[str]) -> dict[str, int]:
        """Global df of every dictionary term that starts with one of
        ``prefixes``. Served: a bisect over the pinned vocabulary, sorted on
        this mode's first call. Otherwise one job: each segment's
        term-sorted dictionary read through pushed range predicates
        [p, p + '{') — '{' follows every token character — so row groups
        outside the ranges are skipped, never a full dictionary scan."""
        import bisect

        if not prefixes:
            return {}
        if self._sources is not None:
            if self._sorted_terms is None:
                self._sorted_terms = sorted({t for s in self._sources for t in s.term_lookup})
            vocab = self._sorted_terms
            return {
                t: sum(s.term_lookup[t][1] for s in self._sources if t in s.term_lookup)
                for p in prefixes
                for t in vocab[bisect.bisect_left(vocab, p):bisect.bisect_left(vocab, p + "{")]
            }
        u = self._prefix_scan(segs, prefixes)
        return {} if u is None else {r["term"]: r["df"] for r in u.collect()}

    def _prefix_scan(self, segs, prefixes: set[str]) -> DataFrame | None:
        """(term, global df) of the dictionary terms under ``prefixes``:
        one range-filtered scan per segment dictionary, summed by term."""
        rng = reduce(operator.or_, [
            (F.col("term") >= F.lit(p)) & (F.col("term") < F.lit(p + "{")) for p in sorted(prefixes)
        ])
        u = _union([s.terms.filter(rng).select("term", "df") for s in segs])
        return None if u is None else u.groupBy("term").agg(F.sum("df").alias("df"))

    # ---- phrase and snippets ----------------------------------------------

    def phrase(self, phrases: DataFrame, k: int = 10) -> DataFrame:
        """Exact phrase search over positional segments: phrases (query_id,
        phrase_text) -> (query_id, rank, doc_id, n_matches), ranked by
        occurrence count. Served, position streams decode in-process
        (``serving.phrase_local``); otherwise per-segment occurrence counts
        (disjoint doc spaces: they ARE the global counts; a segment lacking
        a phrase token holds no match) feed one global top-k window."""
        segs = self._view()
        if not all(s.positional for s in segs):
            raise ValueError(
                "phrase search needs a positional index (build_index(positional=True))"
            )
        prows = (
            _collect_capped(phrases, self.MAX_DRIVER_QUERIES) if self._sources is not None else None
        )
        if prows is None:
            return self._phrase_spark(segs, phrases, k)
        return self._answer(
            prows, lambda: serving.phrase_local(self._sources, prows, k=k, hot_df=_hot_df()),
            PHRASE_SCHEMA,
            lambda rows: self._phrase_spark(
                segs, phrases.filter(F.col("query_id").isin([q["query_id"] for q in rows])), k
            ),
        )

    def _phrase_spark(self, segs, phrases: DataFrame, k: int) -> DataFrame:
        hits = _union([
            h for s in segs
            if (h := _topk._phrase_hits(s.terms, phrases, s.scan_postings)) is not None
        ])
        return local_frame(self.spark, [], PHRASE_SCHEMA) if hits is None else _topk._phrase_window(hits, k)

    def snippets(self, queries: DataFrame, width: int = 5, docs: DataFrame | None = None) -> DataFrame:
        """Hit highlighting for the BM25 top-k of ``queries``: first-match
        position and a ±``width`` token window. Served with
        ``serve(docs_source=...)``: in-process top-k, a pyarrow point-fetch
        of the hit docs and the window extraction (``serving.snippets_local``);
        a hot / over-cap query sends the whole call to the Spark operator
        (``operators.textstats.snippets``) over ``docs`` or the docs source."""
        from ..operators.textstats import snippets as snippets_op

        if self._sources is not None and self._docs_source is not None:
            qrows = _collect_capped(queries, self.MAX_DRIVER_QUERIES)
            if qrows is not None:
                hits, routed = serving.topk_local_multi(
                    self._sources, qrows, *self._serve_stats, _hot_df()
                )
                if not routed:
                    return local_frame(self.spark, serving.snippets_local(
                        self._docs_source, qrows, hits.to_dict("records"), width=width,
                        id_col=self._docs_id_col, text_col=self._docs_text_col,
                    ), SNIPPET_SCHEMA)
        if docs is None:
            if self._docs_source is None:
                raise ValueError("snippets needs the corpus: pass docs= or serve(docs_source=...)")
            docs = self.spark.read.parquet(self._docs_source).withColumnsRenamed(
                {self._docs_id_col: "doc_id", self._docs_text_col: "text"}
            )
        return snippets_op(docs, queries, self.topk(queries, mode="pruned"), width=width)
