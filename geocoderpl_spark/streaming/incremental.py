"""Incremental (LSM-style) index maintenance with Structured Streaming.

Design — the Lucene/LSM segment model re-expressed in Spark:

- ``readStream`` watches a corpus directory; every micro-batch becomes a new
  immutable *segment* (its own docstats/tf/terms/postings built by the same
  batch plan, so all invariants and tests carry over).
- Queries run against the union of segments: BM25 global stats (N, avgdl,
  df) are aggregated *across* segments at query time — per-segment df sums
  exactly to corpus df, so scores equal a from-scratch build bit-for-bit.
- ``merge_segments`` is the LSM compaction: hard-link the segments' tf and
  docstats files and merge their term dictionaries into one segment, whose
  postings the batch plan rebuilds (SURVEY.md §7.2 step 6; where the
  reference's build-once pickle rewrite, ``xml_parsers.py:379-381``,
  re-parses everything).

doc_id uniqueness across segments comes from a per-segment ``doc_base``
offset (monotonic count of docs in prior segments) — the distributed version
of the reference's serial global offset (``xml_parsers.py:513``).
"""

from __future__ import annotations

import errno
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import tf_schema
from ..plans.build import STAGES, InvertedIndex, _unpersist, build_index
from ..plans.manifest import _part_files, footer_columns, read_index_dir


class SegmentedIndex:
    """A queryable set of index segments under ``root`` (seg_00000, ...).

    ``snapshot_id`` pins the view to a committed snapshot (time travel,
    ``plans/snapshots.py``); default = latest snapshot, falling back to a
    directory listing for indexes that predate the snapshot log.
    """

    def __init__(self, spark: SparkSession, root: str, snapshot_id: int | None = None):
        self.spark = spark
        self.root = root
        self.snapshot_id = snapshot_id
        self._sources = None  # pinned ServingSource list (serve())
        self._serve_stats: tuple[int, float] | None = None
        self._serve_segs: list[InvertedIndex] | None = None

    # ---- driver-side serving (VERDICT r04 #4) -----------------------------

    def serve(self, max_driver_terms: int | None = None) -> "SegmentedIndex":
        """Pin the zero-job serving state for the CURRENT live segment set:
        one ``LocalBlockReader`` + term dictionary per segment, global
        (N, avgdl) and per-segment block-bound rescale factors — so
        :meth:`topk_pruned` answers entirely driver-side through the same
        MaxScore kernel, exactly like ``InvertedIndex.serve()``.

        Reference analog: the GUI serves every keystroke from resident
        state regardless of how the index was built (``geo_gui.py:36-43``).
        The realistic deployment of a continuously-ingesting index IS the
        segmented one — it gets the same <50 ms path as the compacted one.

        The pin is a point-in-time snapshot of the live segments (the same
        contract as ``snapshot_id``): call ``serve()`` again after appends /
        compactions to re-pin. Vocabularies beyond ``max_driver_terms``
        (summed across segments) or segments predating the file manifest
        leave the index un-pinned — every query keeps the distributed plan.
        """
        from ..plans.build import InvertedIndex as _II
        from ..plans.manifest import load_postings_manifest, load_term_lookup
        from ..plans.serving import LocalBlockReader, ServingSource

        if max_driver_terms is None:
            max_driver_terms = _II.MAX_DRIVER_TERMS
        segs = self.segments()
        if not segs:
            return self
        n_docs, avgdl_g = self.global_stats(segs)
        sources, total_terms = [], 0
        for s in segs:
            entries = load_postings_manifest(s.root)
            if not entries and s.n_docs > 0:
                return self  # pre-manifest segment: stay distributed
            # the cap covers the vocabularies summed across segments; each
            # segment's dictionary is checked against what is left of it
            # before any of its rows is read
            lookup = load_term_lookup(s.root, max_driver_terms - total_terms)
            if lookup is None:
                return self  # vocabulary too large to pin
            total_terms += len(lookup)
            scale = max(1.0, avgdl_g / s.avgdl) if s.avgdl else 1.0
            sources.append(ServingSource(
                LocalBlockReader(s.root, s.n_buckets, entries or []),
                lookup, scale,
                pos_reader=(
                    LocalBlockReader(s.root, s.n_buckets, entries or [],
                                     with_positions=True)
                    if s.positional else None
                ),
            ))
        self._sources = sources
        self._serve_stats = (n_docs, avgdl_g)
        self._serve_segs = segs
        # a re-serve() pins a NEW segment set — cached query results from
        # the previous pin (or from the un-served live-enumeration path)
        # would silently go stale after appends/compactions (ADVICE r05)
        self._query_cache = {}
        return self

    def segments(self) -> list[InvertedIndex]:
        """Live segments: complete seg_* dirs minus any consumed by a
        completed compaction (a merged segment carries ``merged_from.json``
        naming the dirs it subsumes — so compaction is crash-safe: until the
        merged dir is complete the old segments serve, after it the old ones
        are ignored even before garbage collection deletes them)."""
        import json

        from ..plans.snapshots import resolve_segments

        pinned = resolve_segments(self.root, self.snapshot_id)
        if pinned is not None:
            missing = [
                d for d in pinned
                if not os.path.exists(os.path.join(self.root, d, "meta", "meta.json"))
            ]
            if missing:
                # Iceberg-style "snapshot expired": a pinned snapshot whose
                # segments were garbage-collected by a later compaction must
                # fail loudly, never silently serve a subset (ADVICE r02).
                raise FileNotFoundError(
                    f"snapshot {self.snapshot_id} references segment(s) "
                    f"{missing} that no longer exist under {self.root} "
                    "(expired by compaction GC)"
                )
            return [
                InvertedIndex.load(self.spark, os.path.join(self.root, d))
                for d in pinned
            ]
        complete = [
            d for d in sorted(os.listdir(self.root))
            if d.startswith("seg_")
            and os.path.exists(os.path.join(self.root, d, "meta", "meta.json"))
        ]
        consumed: set[str] = set()
        for d in complete:
            mf = os.path.join(self.root, d, "merged_from.json")
            if os.path.exists(mf):
                with open(mf) as f:
                    consumed.update(json.load(f))
        return [
            InvertedIndex.load(self.spark, os.path.join(self.root, d))
            for d in complete
            if d not in consumed
        ]

    def global_stats(self, segs: list[InvertedIndex] | None = None) -> tuple[int, float]:
        segs = self.segments() if segs is None else segs
        n = sum(s.n_docs for s in segs)
        total_len = sum(s.avgdl * s.n_docs for s in segs)
        return n, (total_len / n if n else 0.0)

    def terms_union(self, segs: list[InvertedIndex] | None = None) -> DataFrame:
        """Global term dictionary: df/cf summed across segments."""
        dfs = [s.terms.select("term", "df", "cf")
               for s in (self.segments() if segs is None else segs)]
        if not dfs:
            return self.spark.createDataFrame([], "term string, df long, cf long")
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d)
        return u.groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))

    _query_cache: dict | None = None
    QUERY_CACHE_SIZE = 1024

    def query(self, text: str, k: int = 10) -> list:
        """Single-query serving entrypoint over the pinned segment set —
        the segmented twin of ``InvertedIndex.query`` (same LRU result
        cache, same zero-Spark driver path via ``topk_local_multi``).
        Requires :meth:`serve`; hot queries transparently fall back to the
        distributed plan. Returns [(rank, doc_id, score), ...]."""
        if self._query_cache is None:
            self._query_cache = {}
        key = (text, int(k))
        # results are cached ONLY while served: the pin is a point-in-time
        # segment snapshot (serve() clears the cache on re-pin), whereas the
        # un-served fallback enumerates live segments per call — caching
        # those would silently survive appends/compactions (ADVICE r05)
        if self._sources is not None:
            hit = self._query_cache.get(key)
            if hit is not None:
                self._query_cache.pop(key)
                self._query_cache[key] = hit  # LRU refresh
                return hit
        rows = None
        if self._sources is not None:
            from ..operators.topk import MAX_BLOCKS_PER_TERM, _hot_df_threshold
            from ..plans.serving import topk_local_multi

            sn_docs, savgdl = self._serve_stats
            res, spark_qids = topk_local_multi(
                self._sources,
                [{"query_id": 0, "query_text": text, "k": int(k)}],
                sn_docs, savgdl, _hot_df_threshold(MAX_BLOCKS_PER_TERM),
            )
            if not spark_qids:
                res = res.sort_values("rank")
                rows = [
                    (int(r), int(d), float(s))
                    for r, d, s in zip(res["rank"], res["doc_id"], res["score"])
                ]
        if rows is None:
            q = self.spark.createDataFrame(
                [(0, text, int(k))], "query_id long, query_text string, k int"
            )
            rows = [
                (r["rank"], r["doc_id"], r["score"])
                for r in self.topk_pruned(q).orderBy("rank").collect()
            ]
        if self._sources is not None:
            self._query_cache[key] = rows
            while len(self._query_cache) > self.QUERY_CACHE_SIZE:
                self._query_cache.pop(next(iter(self._query_cache)))
        return rows

    # ---- shared query-side machinery --------------------------------------

    # Query batches beyond this row count are not "serving-shaped": the
    # driver-side tokenize/gate would stage too much, so exact topk falls
    # back to the fully-distributed union-decode plan instead.
    MAX_DRIVER_QUERIES = 10_000

    def _collect_qterms(
        self, queries: DataFrame, limit: int | None = None
    ) -> list[tuple[int, int, str, int]] | None:
        """Driver-side tokenization of a (metadata-sized) query batch:
        [(query_id, k, term, qtf)]. With ``limit``, returns None when the
        batch exceeds it (caller takes the distributed path instead)."""
        from ..functions.tokenize import tokenize_py

        rows = (
            queries.limit(limit + 1).collect() if limit is not None
            else queries.collect()
        )
        if limit is not None and len(rows) > limit:
            return None
        out: list[tuple[int, int, str, int]] = []
        for q in rows:
            counts: dict[str, int] = {}
            for t in tokenize_py(q["query_text"]):
                counts[t] = counts.get(t, 0) + 1
            out.extend((q["query_id"], int(q["k"]), t, c) for t, c in counts.items())
        return out

    def _probe_terms(
        self, segs: list[InvertedIndex], terms_set
    ) -> tuple[list[list], dict[str, int]]:
        """Probe every segment's dictionary for the query terms in ONE Spark
        job (a union of tiny broadcast joins tagged by segment ordinal).
        Returns (seg_hits, gdf): per-segment dictionary rows and the global
        df per term (per-segment df sums exactly to corpus df)."""
        probe = self.spark.createDataFrame(
            [(t,) for t in sorted(terms_set)], "term string"
        )
        probed = None
        for i, s in enumerate(segs):
            p = s.terms.join(F.broadcast(probe), "term").select(
                F.lit(i).alias("seg"), "term", "term_id", "df"
            )
            probed = p if probed is None else probed.unionByName(p)
        seg_hits: list[list] = [[] for _ in segs]
        gdf: dict[str, int] = {}
        for r in probed.collect():
            seg_hits[r["seg"]].append(r)
            gdf[r["term"]] = gdf.get(r["term"], 0) + r["df"]
        return seg_hits, gdf

    @staticmethod
    def _idf(gdf: dict[str, int], n_docs: int) -> dict[str, float]:
        import math

        return {
            t: math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            for t, df in gdf.items()
        }

    def _decoded_rows(
        self,
        segs: list[InvertedIndex],
        seg_hits: list[list],
        gid: dict[str, int],
    ) -> DataFrame | None:
        """Union of per-segment literal-pruned DECODED posting rows
        (term_id, doc_id, tf, doclen), term_id remapped to the global query
        ordinal ``gid``. Each segment's scan goes through its own file
        manifest when present (VERDICT r03 #5) — term_ids -> file list with
        no directory listing per segment per query. Doc spaces are disjoint
        (per-segment doc_base), so the union IS the merged-index row set."""
        from ..operators.postings import decode_postings
        from ..operators.topk import _pruned_scan

        rows = None
        for s, hits in zip(segs, seg_hits):
            tid2gid = [(r["term_id"], gid[r["term"]]) for r in hits if r["term"] in gid]
            if not tid2gid:
                continue
            remap = F.broadcast(
                self.spark.createDataFrame(tid2gid, "term_id long, gid long")
            )
            tids = [t for t, _ in tid2gid]
            scan = s._manifest_scan()
            base = scan(tids) if scan else _pruned_scan(s.postings, tids, s.n_buckets)
            r = (
                decode_postings(base.drop("poss"))
                .join(remap, "term_id")
                .select(F.col("gid").alias("term_id"), "doc_id", "tf", "doclen")
            )
            rows = r if rows is None else rows.unionByName(r)
        return rows

    def topk(
        self,
        queries: DataFrame,
        segs: list[InvertedIndex] | None = None,
        allowed_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Exact BM25 over the segment union — rank-identical to a
        from-scratch single-index build on the same docs: global N/avgdl/df,
        per-segment manifest-pruned scans remapped to global term ordinals,
        one shared scoring tail (``_score_rows``). ``segs`` lets a caller
        that already enumerated the live segments reuse them."""
        from ..operators.topk import TOPK_SCHEMA, _score_rows

        segs = self.segments() if segs is None else segs
        if not segs:  # empty index root -> empty result, not AttributeError
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        n_docs, avgdl = self.global_stats(segs)
        qterms = self._collect_qterms(queries, limit=self.MAX_DRIVER_QUERIES)
        if qterms is None:  # batch-scale query set: stay fully distributed
            return self._topk_distributed(queries, segs, n_docs, avgdl, allowed_docs)
        terms_set = {t for _, _, t, _ in qterms}
        if not terms_set:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        seg_hits, gdf = self._probe_terms(segs, terms_set)
        gid = {t: i for i, t in enumerate(sorted(gdf))}
        idf = self._idf(gdf, n_docs)
        gated_rows = [
            (qid, k, gid[t], qtf, idf[t]) for qid, k, t, qtf in qterms if t in gid
        ]
        if not gated_rows:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        gated = self.spark.createDataFrame(
            gated_rows, "query_id long, k int, term_id long, qtf long, idf double"
        )
        rows = self._decoded_rows(segs, seg_hits, gid)
        return _score_rows(rows, gated, avgdl, allowed_docs=allowed_docs)

    def _topk_distributed(
        self,
        queries: DataFrame,
        segs: list[InvertedIndex],
        n_docs: int,
        avgdl: float,
        allowed_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Batch-scale exact BM25 over segments with NO driver-side query
        staging: distributed query tokenization and a per-segment
        gated-join decode union keyed by term STRING (the pre-r4 plan) —
        slower per query, unbounded in batch size."""
        from ..functions.bm25 import tfnorm_col
        from ..operators.postings import decode_postings
        from ..operators.topk import (
            SCORE_DECIMALS,
            _topk_window,
            gate_terms,
            tokenize_queries,
        )

        gterms = self.terms_union(segs)
        gated = gate_terms(
            tokenize_queries(queries), gterms.withColumn("term_id", F.lit(0)), n_docs
        ).drop("term_id")
        rows = None
        for s in segs:
            tids = F.broadcast(
                s.terms.join(gated.select("term").distinct(), "term")
                .select("term", "term_id")
            )
            r = decode_postings(
                s.postings.join(tids.select("term_id"), "term_id").drop("poss")
            ).join(tids, "term_id")
            rows = r if rows is None else rows.unionByName(r)
        if allowed_docs is not None:
            rows = rows.join(allowed_docs.select("doc_id"), "doc_id", "left_semi")
        scored = (
            rows.join(F.broadcast(gated), "term")
            .withColumn(
                "contrib",
                F.col("qtf") * F.col("idf")
                * tfnorm_col(F.col("tf"), F.col("doclen"), avgdl),
            )
            .groupBy("query_id", "k", "doc_id")
            .agg(F.round(F.sum("contrib"), SCORE_DECIMALS).alias("score"))
        )
        return _topk_window(scored)

    def topk_filtered(
        self,
        queries: DataFrame,
        allowed_docs: DataFrame,
        segs: list[InvertedIndex] | None = None,
    ) -> DataFrame:
        """Faceted segmented search — same semantics as the single-index
        ``query_topk_filtered``: the metadata filter restricts candidates
        via a doc_id semi-join BEFORE scoring, while N/avgdl/df stay global
        (filter-query semantics; scores comparable across filters)."""
        return self.topk(queries, segs=segs, allowed_docs=allowed_docs)

    def topk_boolean(
        self, queries: DataFrame, allowed_docs: DataFrame | None = None
    ) -> DataFrame:
        """Boolean (must/must_not) search over the segment union — same
        semantics as the single-index ``query_topk_boolean``, via the shared
        ``_boolean_tail`` over globally-remapped decoded rows. queries:
        (query_id, must string, must_not string, k)."""
        from ..functions.tokenize import tokenize_py
        from ..operators.topk import TOPK_SCHEMA, _boolean_tail

        segs = self.segments()
        if not segs:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        n_docs, avgdl = self.global_stats(segs)
        must_rows: list[tuple] = []
        neg_rows: list[tuple] = []
        need_rows: list[tuple] = []
        for q in queries.collect():
            mcounts: dict[str, int] = {}
            for t in tokenize_py(q["must"] or ""):
                mcounts[t] = mcounts.get(t, 0) + 1
            if mcounts:
                # distinct must-token count BEFORE the dictionary gate: an
                # unknown must term kills its query, never relaxes the AND
                need_rows.append((q["query_id"], len(mcounts)))
            must_rows.extend(
                (q["query_id"], int(q["k"]), t, c) for t, c in mcounts.items()
            )
            nset = sorted(set(tokenize_py(q["must_not"] or "")))
            neg_rows.extend((q["query_id"], int(q["k"]), t) for t in nset)
        if not need_rows:  # every query had an empty must -> nothing matches
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        terms_set = {t for _, _, t, _ in must_rows} | {t for _, _, t in neg_rows}
        seg_hits, gdf = self._probe_terms(segs, terms_set)
        gid = {t: i for i, t in enumerate(sorted(gdf))}
        idf = self._idf(gdf, n_docs)
        gated_all_rows = [
            (qid, k, gid[t], qtf, idf[t], False)
            for qid, k, t, qtf in must_rows
            if t in gid
        ] + [
            (qid, k, gid[t], None, None, True)
            for qid, k, t in neg_rows
            if t in gid
        ]
        if not gated_all_rows:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        gated_all = self.spark.createDataFrame(
            gated_all_rows,
            "query_id long, k int, term_id long, qtf long, idf double, is_neg boolean",
        )
        need = F.broadcast(
            self.spark.createDataFrame(need_rows, "query_id long, n_must long")
        )
        rows = self._decoded_rows(segs, seg_hits, gid)
        return _boolean_tail(rows, gated_all, need, avgdl, allowed_docs=allowed_docs)

    def autocomplete(self, queries: DataFrame, max_expansions: int = 50) -> DataFrame:
        """Prefix (per-keystroke) search over the segment union — the last
        single-index query mode to reach LSM parity (VERDICT r03 missing
        #1). Semantics identical to ``query_topk_autocomplete`` on a merged
        index: the expansion ranks by GLOBAL df (summed across segments,
        impact order, term-asc ties), exact/expansion qtf merge and the
        dictionary gate run driver-side, and scoring uses global stats.

        Scale shape: the prefix ranges hit each segment's term-SORTED
        dictionary as one pushed range predicate (same plan as the
        single-index expansion — PLANS.md autocomplete section), one union
        job across segments; everything after is the shared remapped-rows
        scoring tail."""
        import re as _re

        from ..functions.tokenize import tokenize_py
        from ..operators.topk import TOPK_SCHEMA, _score_rows

        segs = self.segments()
        if not segs:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        n_docs, avgdl = self.global_stats(segs)
        per_q: list[tuple[int, int, dict, str | None]] = []
        prefixes: set[str] = set()
        for q in queries.collect():
            toks = tokenize_py(q["query_text"])
            pmode = _re.search(r"[a-zA-Z0-9_]$", q["query_text"]) is not None
            prefix = toks[-1] if (pmode and toks) else None
            counts: dict[str, int] = {}
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
            if prefix is not None:
                counts[prefix] -= 1  # the prefix token itself is not exact
                if not counts[prefix]:
                    del counts[prefix]
                prefixes.add(prefix)
            per_q.append((q["query_id"], int(q["k"]), counts, prefix))
        pref_df: dict[str, int] = {}  # in-range terms -> GLOBAL df
        if prefixes:
            rng = None
            for p in sorted(prefixes):
                c = (F.col("term") >= F.lit(p)) & (F.col("term") < F.lit(p + "{"))
                rng = c if rng is None else rng | c
            u = None
            for s in segs:
                d = s.terms.filter(rng).select("term", "df")
                u = d if u is None else u.unionByName(d)
            for r in u.groupBy("term").agg(F.sum("df").alias("df")).collect():
                pref_df[r["term"]] = r["df"]
        all_terms: set[str] = set()
        specs: list[tuple[int, int, str, int]] = []
        for qid, k, counts, prefix in per_q:
            merged = dict(counts)
            if prefix is not None:
                cand = sorted(
                    (t for t in pref_df if t.startswith(prefix)),
                    key=lambda t: (-pref_df[t], t),
                )[:max_expansions]
                for t in cand:
                    merged[t] = merged.get(t, 0) + 1
            for t, qtf in merged.items():
                specs.append((qid, k, t, qtf))
                all_terms.add(t)
        if not all_terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        seg_hits, gdf = self._probe_terms(segs, all_terms)
        gid = {t: i for i, t in enumerate(sorted(gdf))}
        idf = self._idf(gdf, n_docs)
        gated_rows = [
            (qid, k, gid[t], qtf, idf[t]) for qid, k, t, qtf in specs if t in gid
        ]
        if not gated_rows:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        gated = self.spark.createDataFrame(
            gated_rows, "query_id long, k int, term_id long, qtf long, idf double"
        )
        rows = self._decoded_rows(segs, seg_hits, gid)
        return _score_rows(rows, gated, avgdl)

    def phrase_indexed(self, phrases: DataFrame, k: int = 10) -> DataFrame:
        """Exact phrase search over a POSITIONAL segmented index: per-segment
        occurrence counts unioned, then ONE global top-k window. Doc spaces
        are disjoint, so per-segment counts ARE the global counts; and a
        segment whose dictionary lacks a phrase token contributes no docs —
        exactly the docs a merged index would also reject (no doc there can
        contain the full sequence). Result-identical to
        ``query_phrase_indexed`` on a merged positional index."""
        from ..operators.topk import _phrase_hits, _phrase_window

        hits = None
        for s in self.segments():
            h = _phrase_hits(
                s.postings, s.terms, phrases, s.n_buckets, scan=s._manifest_scan()
            )
            if h is not None:
                hits = h if hits is None else hits.unionByName(h)
        if hits is None:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, n_matches int"
            )
        return _phrase_window(hits, k)

    def topk_pruned(self, queries: DataFrame) -> DataFrame:
        """Serving-grade segmented top-k (VERDICT r02 #3): per-segment
        literal-pruned block scans feed ONE MaxScore-kernel pass per query —
        no per-segment join-decode-union loop, no full posting decode.

        How the LSM view stays exact:

        - *global stats*: N/avgdl/df aggregate across segments driver-side
          (the dictionary probes are metadata-sized), so idf and tfnorm are
          the global values — scores match a from-scratch single index.
        - *term-id spaces*: per-segment term_ids are remapped to a global
          query-term ordinal in the gated broadcast, so the kernel's
          per-term grouping is segment-agnostic.
        - *sound block bounds*: block_max_tfn was computed against the
          segment's own avgdl; it is rescaled by max(1, avgdl_g/avgdl_s) —
          an upper bound on tfnorm_g/tfnorm_s over all (tf, dl), so MaxScore
          skipping stays lossless. Final scores use exact decoded (tf, dl).
        - *k-way merge*: doc spaces are disjoint (per-segment doc_base), so
          the kernel's score accumulator IS the merge.

        Hot-term queries (global df past the serving cap) route to the exact
        distributed path, same as the single-index serving plan.

        With :meth:`serve` pinned state, the batch answers entirely
        driver-side first (``serving.topk_local_multi`` — zero Spark jobs,
        same kernel, per-segment bounds rescaled identically), and only
        hot / over-cap queries fall through to the distributed plan below.
        """
        from ..operators.topk import (
            TOPK_SCHEMA,
            _hot_df_threshold,
            _pruned_kernel,
            _pruned_scan,
            MAX_BLOCKS_PER_TERM,
        )

        if self._sources is not None:
            qrows = queries.limit(self.MAX_DRIVER_QUERIES + 1).collect()
            if len(qrows) <= self.MAX_DRIVER_QUERIES:
                from ..plans.serving import topk_local_multi

                sn_docs, savgdl = self._serve_stats
                res, spark_qids = topk_local_multi(
                    self._sources, qrows, sn_docs, savgdl,
                    _hot_df_threshold(MAX_BLOCKS_PER_TERM),
                )
                out = (
                    self.spark.createDataFrame(res, schema=TOPK_SCHEMA)
                    if len(res)
                    else self.spark.createDataFrame([], TOPK_SCHEMA)
                )
                if spark_qids:
                    hot = self.topk(
                        queries.filter(F.col("query_id").isin(spark_qids)),
                        segs=self._serve_segs,
                    )
                    out = out.unionByName(hot)
                return out

        segs = self.segments()  # enumerated ONCE; reused below incl. hot path
        if not segs:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        n_docs, avgdl_g = self.global_stats(segs)

        qterms = self._collect_qterms(queries)
        terms_set = {t for _, _, t, _ in qterms}
        if not terms_set:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        # dictionary probes for ALL segments in ONE job (a union of tiny
        # broadcast joins, tagged by segment ordinal) — serving latency pays
        # per-job scheduling, not per-segment
        seg_hits, gdf = self._probe_terms(segs, terms_set)
        gid = {t: i for i, t in enumerate(sorted(gdf))}
        idf = self._idf(gdf, n_docs)
        hot_df = _hot_df_threshold(MAX_BLOCKS_PER_TERM)
        hot_qids = {
            qid for qid, _, t, _ in qterms if gdf.get(t, 0) > hot_df
        }
        # (query_id, k, gid, qtf, idf) for cold queries' known terms
        gated_rows = [
            (qid, k, gid[t], qtf, idf[t])
            for qid, k, t, qtf in qterms
            if t in gid and qid not in hot_qids
        ]
        cand, gated = None, None
        if gated_rows:
            gated = F.broadcast(self.spark.createDataFrame(
                gated_rows, "query_id long, k int, term_id long, qtf long, idf double"
            ))
            live_gids = {g for _, _, g, _, _ in gated_rows}
            for s, hits in zip(segs, seg_hits):
                tid2gid = [(r["term_id"], gid[r["term"]]) for r in hits
                           if gid[r["term"]] in live_gids]
                if not tid2gid:
                    continue
                remap = F.broadcast(self.spark.createDataFrame(
                    tid2gid, "term_id long, gid long"
                ))
                scale = max(1.0, avgdl_g / s.avgdl) if s.avgdl else 1.0
                stids = [t for t, _ in tid2gid]
                # per-segment file manifest (written at seal time) replaces
                # the directory-listing scan (VERDICT r03 #5)
                mscan = s._manifest_scan()
                c = (
                    (mscan(stids) if mscan else _pruned_scan(s.postings, stids, s.n_buckets))
                    .drop("poss")
                    .join(remap, "term_id")
                    .select(
                        F.col("gid").alias("term_id"),
                        "first_doc", "last_doc",
                        (F.col("block_max_tfn") * F.lit(scale)).alias("block_max_tfn"),
                        "doc_ids", "tfs", "dls",
                    )
                )
                cand = c if cand is None else cand.unionByName(c)
        out = (
            cand.join(gated, "term_id")
            .groupBy("query_id")
            .applyInPandas(_pruned_kernel(avgdl_g), schema=TOPK_SCHEMA)
            if cand is not None
            else self.spark.createDataFrame([], TOPK_SCHEMA)
        )
        if hot_qids:
            hot = self.topk(
                queries.filter(F.col("query_id").isin(list(hot_qids))), segs=segs
            )
            out = out.unionByName(hot)
        return out


def start_incremental_indexer(
    spark: SparkSession,
    stream_dir: str,
    index_root: str,
    corpus_schema: str,
    id_col: str | None = None,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    n_buckets: int = 16,
    max_files_per_trigger: int | None = None,
    compact_threshold: int | None = None,
    positional: bool = False,
):
    """readStream over ``stream_dir`` -> one index segment per micro-batch.

    ``positional=True`` builds phrase-capable segments (position streams in
    every segment, VERDICT r03 #4) — query them with
    :meth:`SegmentedIndex.phrase_indexed`; compaction preserves the
    positional property (``merge_segments`` self-detects it).

    ``compact_threshold``: auto-compaction pressure — after each micro-batch,
    if more than this many live segments exist they are merged into one
    (:func:`compact_segments`), keeping the query-time union bounded.

    Returns the StreamingQuery; drive it with trigger(availableNow) +
    ``awaitTermination`` in tests, or leave running for continuous ingest.
    """
    os.makedirs(index_root, exist_ok=True)

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        seg_dir = os.path.join(index_root, f"seg_{epoch_id:05d}")
        segs = SegmentedIndex(spark, index_root).segments()
        doc_base = sum(s.n_docs for s in segs)
        if id_col is None:
            # offset new docs past all existing segments
            from ..operators.docids import assign_doc_ids

            ranked = assign_doc_ids(batch, list(key_cols))
            docs = ranked.withColumn("doc_id", F.col("doc_id") + F.lit(doc_base))
            try:
                build_index(
                    spark, docs, seg_dir, n_buckets=n_buckets,
                    id_col="doc_id", content_col=content_col, positional=positional,
                )
            finally:
                # withColumn dropped the rank table's cache handle: release
                # it here, or every micro-batch leaves one persisted RDD
                _unpersist(ranked)
        else:
            build_index(
                spark, batch, seg_dir, n_buckets=n_buckets,
                id_col=id_col, content_col=content_col, positional=positional,
            )
        from ..plans.snapshots import commit_snapshot

        # new segment joins the pre-batch live set (it isn't in the previous
        # snapshot yet — that's the point: the commit makes it visible)
        seg_set = sorted({os.path.basename(s.root) for s in segs}
                         | {os.path.basename(seg_dir)})
        commit_snapshot(index_root, seg_set, op=f"append:{os.path.basename(seg_dir)}")
        if compact_threshold:
            compact_segments(spark, index_root, compact_threshold, n_buckets)

    rs = spark.readStream.schema(corpus_schema)
    if max_files_per_trigger:
        rs = rs.option("maxFilesPerTrigger", max_files_per_trigger)
    reader = rs.parquet(stream_dir)
    return (
        reader.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", os.path.join(index_root, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def compact_segments(
    spark: SparkSession, index_root: str, max_segments: int, n_buckets: int = 16
) -> bool:
    """LSM auto-compaction policy: when the live segment count exceeds
    ``max_segments``, merge ALL live segments into one (the query-side plan
    unions per-segment scans — a driver loop that degenerates at thousands
    of segments without compaction pressure, VERDICT r01 #4).

    Crash-safe ordering: (1) merge into ``_compact_tmp``; (2) write
    ``merged_from.json`` inside it; (3) atomic rename to a fresh ``seg_*``
    name — from this instant :meth:`SegmentedIndex.segments` ignores the
    consumed dirs; (4) garbage-collect them. A crash before (3) leaves the
    old segments authoritative; after (3), the merged one.
    Returns True if a compaction ran.
    """
    import json
    import shutil

    gc_orphan_segments(index_root)
    seg = SegmentedIndex(spark, index_root)
    live = seg.segments()
    if len(live) <= max_segments or len(live) < 2:
        return False
    names = [os.path.basename(s.root) for s in live]
    tmp = os.path.join(index_root, "_compact_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    merge_segments(spark, index_root, tmp, n_buckets=n_buckets)
    with open(os.path.join(tmp, "merged_from.json"), "w") as f:
        json.dump(names, f)
    # name sorts after its inputs and can't collide with future epoch names
    final = os.path.join(
        index_root,
        f"seg_{names[0].removeprefix('seg_')}-{names[-1].removeprefix('seg_')}m",
    )
    if os.path.exists(final):
        # leftover from a compaction that crashed between rename and snapshot
        # commit: it is unreferenced (live segments came from the snapshot /
        # subsumption view and did not include it), so replace it
        shutil.rmtree(final)
    os.rename(tmp, final)
    from ..plans.snapshots import commit_snapshot

    commit_snapshot(index_root, [os.path.basename(final)], op="compact")
    for n in names:  # GC of subsumed segments (safe: already ignored)
        shutil.rmtree(os.path.join(index_root, n), ignore_errors=True)
    return True


def gc_orphan_segments(index_root: str) -> list[str]:
    """Heal GC leaks from a compaction that crashed after its snapshot
    commit but before deleting its inputs (ADVICE r02): remove any seg_*
    dir that is BOTH subsumed by an existing merged segment's
    ``merged_from.json`` AND absent from the latest snapshot. Returns the
    removed dir names. No snapshot log -> no-op (can't prove orphan-ness).
    """
    import json
    import shutil

    from ..plans.snapshots import resolve_segments

    latest = resolve_segments(index_root)
    if latest is None:
        return []
    present = [
        d for d in sorted(os.listdir(index_root)) if d.startswith("seg_")
    ]
    consumed: set[str] = set()
    for d in present:
        mf = os.path.join(index_root, d, "merged_from.json")
        if os.path.exists(mf):
            with open(mf) as f:
                consumed.update(json.load(f))
    orphans = [d for d in present if d in consumed and d not in set(latest)]
    for d in orphans:
        shutil.rmtree(os.path.join(index_root, d), ignore_errors=True)
    return orphans


# link() failures a byte copy gets round: another filesystem, a filesystem
# without hard links, or an inode at its link-count limit
_COPY_ERRNOS = frozenset(
    getattr(errno, n)
    for n in ("EXDEV", "EPERM", "EOPNOTSUPP", "ENOTSUP", "EMLINK")
    if hasattr(errno, n)
)


def _link_parts(src_dirs: list[str], dst: str) -> tuple[int, int]:
    """Hard-link every part file of ``src_dirs`` into the new dir ``dst`` as
    ``part-<n>-graft.snappy.parquet`` (n counts across all sources, so the
    names stay unique however often a segment is merged again). A link the
    filesystem refuses (:data:`_COPY_ERRNOS`) becomes a copy; any other
    error, ``FileExistsError`` included, propagates. Returns (linked,
    copied)."""
    import shutil

    os.makedirs(dst)
    linked = copied = 0
    for f in (f for d in src_dirs for f in _part_files(d)):
        target = os.path.join(dst, f"part-{linked + copied:05d}-graft.snappy.parquet")
        try:
            os.link(f, target)
            linked += 1
        except OSError as e:
            if e.errno not in _COPY_ERRNOS:
                raise
            shutil.copyfile(f, target)
            copied += 1
    return linked, copied


def _doc_id_bounds(docstats_dir: str) -> tuple[int, int] | None:
    """(min, max) doc_id of a docstats dir from its row-group statistics (no
    Spark job); None for a dir without rows. A row group without min/max
    statistics widens the bounds to the whole long range, so it overlaps
    every other segment and sends the merge to the exact check."""
    import pyarrow.parquet as pq

    lo = hi = None
    for f in _part_files(docstats_dir):
        md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = next(
                (rg.column(c).statistics for c in range(rg.num_columns)
                 if rg.column(c).path_in_schema == "doc_id"),
                None,
            )
            if st is None or not st.has_min_max:
                return (-(2**63), 2**63 - 1)
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def _check_disjoint_doc_ids(segs: list[InvertedIndex]) -> None:
    """Raise if a doc_id is in more than one segment: the merged index would
    count that doc twice. Streaming segments hold contiguous ``doc_base``
    ranges, which the footer statistics prove disjoint without a Spark job;
    overlapping ranges (interleaved ids can still be disjoint sets) take one
    exact Spark check."""
    bounds = sorted(
        b for b in (_doc_id_bounds(os.path.join(s.root, "docstats")) for s in segs)
        if b is not None
    )
    if all(a[1] < b[0] for a, b in zip(bounds, bounds[1:])):
        return
    ids = reduce(DataFrame.unionAll, [s.docstats.select("doc_id") for s in segs])
    dup = ids.groupBy("doc_id").count().filter("count > 1").limit(1).collect()
    if dup:
        raise ValueError(
            f"merge_segments: doc_id {dup[0]['doc_id']} is in more than one "
            "segment; the merged index would count that doc twice"
        )


def merge_segments(spark: SparkSession, index_root: str, out_dir: str, n_buckets: int = 16) -> InvertedIndex:
    """LSM compaction: the live segments under ``index_root`` -> one merged
    segment at ``out_dir`` (which must not hold an index yet).

    Merges what the segments already wrote instead of rewriting it:

    - tf and docstats: when every segment's table has the same columns
      (first part file's Arrow schema), and for tf the tf kernel's columns,
      its part files are hard-linked into ``out_dir`` (copied where the
      filesystem refuses a link) — O(files), no rows read. Otherwise the
      table takes a Spark ``unionByName`` rewrite; a tf rewrite keeps the
      kernel's columns and rows only, so the build resumes the merged tf.
    - dictionary: every segment's ``terms`` files are linked into
      ``out_dir/tf/_termstats``, the (term, df, cf) partials source of the
      build's terms stage, which sums them per term — no group-by over tf
      rows. df and cf are per-segment sums either way, so the dictionary
      equals a group-by of the unioned tf. The partials are removed once
      the build returns.

    ``build_index`` then builds terms, postings, meta and lineage from the
    linked checkpoints: the same index a from-scratch build of the segments'
    docs and ids would give. A doc_id in more than one segment raises.
    Appends a ``merge`` row to ``metrics.jsonl``: part files linked plus
    copied, the wall of the link phase, and status ``linked``, ``copied``
    (some file was copied) or ``rewritten`` (some table took the rewrite).
    """
    import json
    import shutil
    import time

    t0 = time.time()
    held = [s for s in (*STAGES, "lineage", "metrics") if os.path.exists(os.path.join(out_dir, s))]
    if held:
        # build_index would resume those stages and serve the old merge
        raise ValueError(
            f"merge_segments: {out_dir} already holds an index ({', '.join(held)}); "
            "merge into a fresh dir"
        )
    segs = SegmentedIndex(spark, index_root).segments()
    if not segs:
        raise ValueError(f"merge_segments: no segments under {index_root}")
    # positional and plain segments must not silently mix: NULL-filled
    # position lists would crash deep inside the encode kernel; fail with a
    # clear error at compaction time instead (meta.json records the kind:
    # its ``positional`` key shipped together with the position streams)
    pos_kinds = {s.positional for s in segs}
    if len(pos_kinds) > 1:
        raise ValueError(
            "merge_segments: cannot compact a mix of positional and "
            "non-positional segments — rebuild the plain segments with "
            "positional=True (or vice versa) first"
        )
    positional = pos_kinds.pop()
    _check_disjoint_doc_ids(segs)

    os.makedirs(out_dir, exist_ok=True)
    linked = copied = 0
    rewritten = False
    tf_cols = tf_schema(positional).names
    for table in ("docstats", "tf"):
        srcs = [os.path.join(s.root, table) for s in segs]
        dst = os.path.join(out_dir, table)
        cols = [footer_columns(d) for d in srcs]
        if (
            cols[0] and all(c == cols[0] for c in cols)
            and (table == "docstats" or [n for n, _ in cols[0]] == tf_cols)
        ):
            n_link, n_copy = _link_parts(srcs, dst)
            linked, copied = linked + n_link, copied + n_copy
            open(os.path.join(dst, "_SUCCESS"), "w").close()
        else:
            # a tf of an older layout (a sha256 sidecar column, term-NULL
            # rows for zero-token docs) is cut to the kernel's columns and
            # rows, or the build would find a stale tf and wipe the merge
            dfs = [read_index_dir(spark, d) for d in srcs]
            if table == "tf":
                dfs = [df.filter(F.col("term").isNotNull()).select(*tf_cols) for df in dfs]
            reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
            ).write.parquet(dst)
            rewritten = True
    n_link, n_copy = _link_parts(
        [os.path.join(s.root, "terms") for s in segs],
        os.path.join(out_dir, "tf", "_termstats"),
    )
    linked, copied = linked + n_link, copied + n_copy
    wall_ms = int((time.time() - t0) * 1000)

    # the build reads tf and docstats as finished stages and the terms
    # stage takes the linked dictionaries as its partials; positional
    # carries through: the position streams ride the tf files, and meta.json
    # must record the property so the merged segment keeps serving phrases
    # spark.range, not createDataFrame([]): a local-data relation runs a
    # parallelize job and starts a second Python worker pool
    dummy = spark.range(0).select(
        F.col("id").alias("doc_id"), F.lit(None).cast("string").alias("content")
    )
    merged = build_index(
        spark, dummy, out_dir, n_buckets=n_buckets, id_col="doc_id",
        positional=positional,
    )
    shutil.rmtree(os.path.join(out_dir, "tf", "_termstats"))
    status = "rewritten" if rewritten else "copied" if copied else "linked"
    with open(os.path.join(out_dir, "metrics", "metrics.jsonl"), "a") as f:
        f.write(json.dumps({"stage": "merge", "rows_out": linked + copied,
                            "wall_ms": wall_ms, "status": status}) + "\n")
    return merged
