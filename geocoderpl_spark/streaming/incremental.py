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
from ..plans.engine import QueryEngine
from ..plans.manifest import _part_files, footer_columns, read_index_dir


class SegmentedIndex(QueryEngine):
    """A queryable set of index segments under ``root`` (seg_00000, ...):
    every query mode comes from :class:`~..plans.engine.QueryEngine`, over
    the live segments or the ones a :meth:`serve` pin holds.

    ``snapshot_id`` pins the view to a committed snapshot (time travel,
    ``plans/snapshots.py``); default = latest snapshot, falling back to a
    directory listing for indexes that predate the snapshot log.
    """

    def __init__(self, spark: SparkSession, root: str, snapshot_id: int | None = None):
        self.spark = spark
        self.root = root
        self.snapshot_id = snapshot_id

    @property
    def _segments_fixed(self) -> bool:
        return self.snapshot_id is not None

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
    :meth:`SegmentedIndex.phrase`; compaction preserves the
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
