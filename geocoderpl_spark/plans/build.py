"""Index-build plan: corpus -> docstats + tf + terms + meta + postings,
with per-stage checkpointing, per-partition lineage, and a metrics table.
The stages run one after the other, on one thread: the tf kernel's job,
the driver-side dictionary and meta (no job while the dictionary fits the
driver), then the postings job.

Reference parity:
- build-once / resume guard: ``__main__.py:17`` (``has_table`` check) ->
  per-stage ``_SUCCESS`` markers; completed stages are *read back*, not
  recomputed (SURVEY.md §4 O15).
- timing log: ``geo_utilities.py:57-86`` (``time_decorator``) -> ``metrics``
  parquet table, one row per stage.
- lineage: per-bucket posting/row counts -> ``lineage`` parquet table
  (north_rule: "resumable from checkpoint with per-partition lineage +
  metrics tables").

Layout under ``out_dir``::

    docstats/   doc_id, repo, path, commit, lang, doclen, sha256
    tf/         term, doc_id, doclen, tf[, positions]  (staging checkpoint;
                one scan of the tf kernel writes it and docstats)
    terms/      term, df, cf, term_id  (P contiguous term-sorted files)
    postings/   bucket=*/part-*  (compressed blocks, POSTINGS_SCHEMA; one
                file per encode task and bucket, written by the kernel)
    meta/       meta.json: n_docs, avgdl, n_buckets, partitions, corpus_fp,
                positional (read from the docstats footers and the terms
                files, no Spark job)
    lineage/    bucket, n_blocks, n_postings, n_terms
    metrics/    metrics.jsonl: stage, rows_out, wall_ms, status (tf
                rows_out is the number of (term, doc) rows; -1 for a
                resumed stage); the built terms row adds rank (driver or
                spark)
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import docids
from ..operators import postings as _postings
from ..operators.docids import assign_doc_ids
from ..operators.postings import (
    N_BUCKETS,
    build_postings,
    build_terms,
    ensure_postings_files,
    ensure_tf_files,
    tf_schema,
    write_terms_local,
)
from .engine import QueryEngine
from .manifest import (
    _part_files,
    footer_columns,
    footer_rows,
    read_index_dir,
    read_part_files,
)

STAGES = ("docstats", "tf", "terms", "postings", "meta")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _unpersist(df: DataFrame) -> None:
    for attr in ("_dense_ids_cache", "_stats_cache"):
        cache = getattr(df, attr, None)
        if cache is not None:
            cache.unpersist()


@dataclass
class InvertedIndex(QueryEngine):
    """Handle over a built index directory. Every query mode comes from
    :class:`~.engine.QueryEngine`, over the one-segment list ``[self]``."""

    root: str
    spark: SparkSession
    n_docs: int
    avgdl: float
    n_buckets: int
    positional: bool = False

    @property
    def postings(self) -> DataFrame:
        return read_index_dir(self.spark, os.path.join(self.root, "postings"))

    @property
    def terms(self) -> DataFrame:
        return read_index_dir(self.spark, os.path.join(self.root, "terms"))

    @property
    def docstats(self) -> DataFrame:
        return read_index_dir(self.spark, os.path.join(self.root, "docstats"))

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "InvertedIndex":
        import json

        with open(os.path.join(root, "meta", "meta.json")) as f:
            meta = json.load(f)
        return cls(
            root=root,
            spark=spark,
            n_docs=int(meta["n_docs"]),
            avgdl=float(meta["avgdl"]),
            n_buckets=int(meta["n_buckets"]),
            positional=bool(meta.get("positional", False)),
        )

    def segments(self) -> list["InvertedIndex"]:
        """A built index is the one-segment list the query engine runs over."""
        return [self]

    def fetch(self, topk: DataFrame, cols: list[str] | None = None) -> DataFrame:
        """Row-fetch phase (reference J9/J10: rowid point-lookup after the
        index scan, ``geo_gui.py:190-202``): join top-k hits to docstats for
        display metadata. k rows vs the docstats table — broadcast the hits."""
        stats = self.docstats
        cols = cols or [c for c in stats.columns if c not in ("doc_id",)]
        return F.broadcast(topk).join(stats, "doc_id").select(
            "query_id", "rank", "doc_id", "score", *cols
        )

    _manifest_entries: list | None = None
    _manifest_sig: tuple | None = None

    def _manifest_scan(self):
        """term_ids -> DataFrame via the file-level stats manifest
        (plans/manifest.py): files are enumerated from recorded per-file
        term_id ranges, not directory listings. None when the index
        predates the manifest."""
        from .manifest import _manifest_path, load_postings_manifest

        # cache keyed on the manifest file's stat signature: a postings
        # rebuild under the same root rewrites the manifest (atomic rename),
        # which must invalidate entries pointing at the old file UUIDs
        try:
            st = os.stat(_manifest_path(self.root))
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig != self._manifest_sig:
            self._manifest_entries = (
                load_postings_manifest(self.root) or [] if sig else []
            )
            self._manifest_sig = sig
        if not self._manifest_entries:
            return None
        from .manifest import manifest_scan

        entries = list(self._manifest_entries)
        return lambda tids: manifest_scan(
            self.spark, self.root, entries, tids, self.n_buckets
        )

    def scan_postings(self, term_ids: list[int]) -> DataFrame:
        """The posting blocks of ``term_ids``: files picked by the manifest
        (:meth:`_manifest_scan`), or on an index that predates it the
        directory scan with literal ``bucket`` / ``term_id`` filters
        (``operators.topk._pruned_scan``)."""
        from ..operators.topk import _pruned_scan

        scan = self._manifest_scan()
        return scan(term_ids) if scan else _pruned_scan(self.postings, term_ids, self.n_buckets)


def _build_postings_stage(
    tf: DataFrame,
    terms: DataFrame,
    avgdl: float,
    n_buckets: int,
    partitions: int,
    n_docs: int,
    out: str,
    groups: int,
    positional: bool,
    doc_id_range: tuple[int, int] | None = None,
    n_terms: int | None = None,
) -> tuple[list[dict], list[int]]:
    """Postings stage: the encode kernel writes ``out/bucket=*/part-*``
    itself (``operators.postings.build_postings``). Returns the files the
    kernel reported and the bucket groups it built.

    ``groups`` > 1 runs one job per bucket group with per-group resume.
    Every bucket dir belongs to exactly one group (bucket % groups), so a
    group's output is a disjoint set of ``bucket=*`` dirs: incomplete
    groups are wiped and rebuilt, complete ones (``_group_g_SUCCESS``
    present) are untouched — their files stay byte-identical across
    resumes. The stage's ``_SUCCESS`` marker is written last, by the caller.
    """
    import shutil

    def marker(g: int) -> str:
        return os.path.join(out, f"_group_{g}_SUCCESS")

    if groups <= 1:
        shutil.rmtree(out, ignore_errors=True)
        pending = [0]
    else:
        pending = [g for g in range(groups) if not os.path.exists(marker(g))]
        if os.path.isdir(out):  # wipe partial output of unfinished groups
            for d in os.listdir(out):
                if d.startswith("bucket=") and int(d.split("=")[1]) % groups in pending:
                    shutil.rmtree(os.path.join(out, d), ignore_errors=True)
            if os.path.exists(os.path.join(out, "_SUCCESS")):
                os.remove(os.path.join(out, "_SUCCESS"))
    os.makedirs(out, exist_ok=True)
    files: list[dict] = []
    for g in pending:
        files += build_postings(
            tf, terms, avgdl, out, n_buckets, partitions, n_docs=n_docs,
            bucket_mod=(g, groups) if groups > 1 else None,
            doc_id_range=doc_id_range, n_terms=n_terms,
        )
        if groups > 1:
            open(marker(g), "w").close()
    ensure_postings_files(out, positional)
    return files, pending


def _check_posting_files(
    entries: list[dict], files: list[dict], groups: int, built: list[int]
) -> None:
    """The manifest (read from the files on disk) must list, for the bucket
    groups built in this run, exactly the files the encode kernel reported —
    a stray file or a lost one raises instead of serving a wrong index."""
    def key(e: dict) -> tuple:
        return (e["file"], int(e["bucket"]), int(e["n_blocks"]),
                int(e["tid_min"]), int(e["tid_max"]))

    on_disk = {key(e) for e in entries if int(e["bucket"]) % groups in built}
    reported = {key(f) for f in files}
    if on_disk != reported:
        raise RuntimeError(
            "posting files on disk differ from the files the encode kernel "
            f"wrote: unexpected {sorted(on_disk - reported)[:5]}, "
            f"missing {sorted(reported - on_disk)[:5]}"
        )


def _metric(stage: str, rows: int, wall_ms: int, status: str) -> dict:
    """One ``metrics.jsonl`` row; the built terms row adds ``rank``, the
    path that ranked the dictionary (``driver`` or ``spark``)."""
    return {"stage": stage, "rows_out": rows, "wall_ms": wall_ms, "status": status}


def _bucket_term_counts(
    terms_dir: str, n_buckets: int
) -> tuple[dict[int, tuple[int, int]], int]:
    """Per term bucket (n_postings, n_terms) of the dictionary, and its
    total cf, without a Spark job: the term_id/df/cf columns are streamed
    from the part files one pyarrow record batch at a time (driver memory
    stays at one batch at any vocabulary size) and bucketed with the
    vectorized xxhash64 twin of the build's ``pmod(xxhash64(term_id),
    n_buckets)``."""
    import numpy as np
    import pyarrow.parquet as pq

    from ..functions.xxhash import xxhash64_long_np

    n_terms = np.zeros(n_buckets, dtype=np.int64)
    n_postings = np.zeros(n_buckets, dtype=np.int64)
    cf_total = 0
    for f in _part_files(terms_dir):
        with pq.ParquetFile(f) as pf:
            for batch in pf.iter_batches(columns=["term_id", "df", "cf"]):
                tid, df, cf = (c.to_numpy() for c in batch.columns)
                # numpy %: sign of the divisor, like pmod
                b = xxhash64_long_np(tid) % n_buckets
                n_terms += np.bincount(b, minlength=n_buckets)
                # float64 weights sum integers exactly below 2^53 postings
                n_postings += np.bincount(
                    b, weights=df, minlength=n_buckets
                ).astype(np.int64)
                cf_total += int(cf.sum())
    per_bucket = {
        int(b): (int(n_postings[b]), int(n_terms[b])) for b in np.flatnonzero(n_terms)
    }
    return per_bucket, cf_total


def _docstats_footer_meta(docstats_dir: str) -> tuple[int, tuple[int, int] | None]:
    """``(n_docs, (min doc_id, max doc_id))`` of the docstats table from its
    part files' footers, without a Spark job or a data read: the row counts
    and the ``doc_id`` column statistics of every row group. The range is
    None when no row has a doc_id. A row group whose ``doc_id`` has no
    min/max statistics (and is not all NULL) raises: the range would be a
    guess, and the postings stage narrows doc ids on it."""
    import pyarrow.parquet as pq

    n_docs, lo, hi = 0, None, None
    for f in _part_files(docstats_dir):
        md = pq.read_metadata(f)
        n_docs += md.num_rows
        paths = [md.schema.column(i).path for i in range(md.num_columns)]
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(paths.index("doc_id")).statistics if "doc_id" in paths else None
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            elif rg.num_rows and not (st is not None and st.null_count == rg.num_rows):
                raise RuntimeError(
                    f"docstats file {f} row group {g} has no doc_id min/max "
                    "statistics: the index's doc-id range cannot be read "
                    "from the footers"
                )
    return n_docs, (None if lo is None else (int(lo), int(hi)))


def _lineage_rows(
    per_bucket: dict[int, tuple[int, int]], entries: list[dict]
) -> list[tuple[int, int, int, int]]:
    """Per-bucket (bucket, n_blocks, n_postings, n_terms), derived from the
    terms dictionary + the manifest instead of a full postings scan (r6,
    guide §2.4 — don't recompute what a smaller relation already knows):
    every dictionary term has df >= 1 posting, and ALL of a term's blocks
    land in its hash bucket (the build's partition key is derived from
    term_id), so per bucket
      n_terms    = count of dictionary terms hashing there,
      n_postings = sum of those terms' df (block n's partition a term's
                   df exactly — blocks are disjoint doc-slices),
      n_blocks   = sum of the manifest's per-file block counts.
    A full outer join on bucket: a bucket with terms but no blocks, or with
    blocks but no terms, raises (it would otherwise drop out silently)."""
    n_blocks: dict[int, int] = {}
    for e in entries:
        n_blocks[int(e["bucket"])] = n_blocks.get(int(e["bucket"]), 0) + int(e["n_blocks"])
    if set(n_blocks) != set(per_bucket):
        raise RuntimeError(
            "lineage: buckets with terms but no posting blocks "
            f"{sorted(set(per_bucket) - set(n_blocks))}, buckets with blocks "
            f"but no terms {sorted(set(n_blocks) - set(per_bucket))}"
        )
    return [(b, n_blocks[b], *per_bucket[b]) for b in sorted(n_blocks)]


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_buckets: int = N_BUCKETS,
    partitions: int | None = None,
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    id_col: str | None = None,
    content_col: str = "content",
    corpus_fp: str | None = None,
    postings_groups: int = 1,
    positional: bool = False,
) -> InvertedIndex:
    """Build (or resume building) the index for ``corpus`` at ``out_dir``.

    ``corpus_fp`` is an optional caller-supplied corpus fingerprint (e.g.
    source file names+sizes+mtimes): when it differs from the one recorded in
    ``meta.json``, all stage checkpoints are invalidated and the index is
    rebuilt — a resume must never serve an index built from different data.

    ``postings_groups`` > 1 turns on sub-stage resume for the (largest)
    postings stage: buckets are written in that many groups (group g =
    buckets with ``bucket % G == g``), each its own job + ``_group_g_SUCCESS``
    marker, so a killed build resumes from the first unfinished *group*
    instead of redoing the whole stage — per-partition lineage-diff resume
    (SCALE.md). Costs one tf-checkpoint scan per group; leave at 1 for small
    builds.

    The *logical* index (doc_ids, term_ids, decoded postings, scores) is
    deterministic given the corpus — independent of partition count
    (SURVEY.md §7.4 #5). Physical block boundaries are deterministic given
    (corpus, partitions): postings are hash-partitioned on (bucket,
    doc-range slice), no sampled range boundaries anywhere, so a resumed or
    repeated build reproduces identical segments.
    """
    partitions = partitions or spark.sparkContext.defaultParallelism
    p = {s: os.path.join(out_dir, s) for s in (*STAGES, "lineage", "metrics")}
    metrics: list[dict] = []

    # corpus-fingerprint guard: stale checkpoints from a different corpus are
    # poison — wipe every stage, don't resume
    import json as _json
    import shutil

    meta_file = os.path.join(p["meta"], "meta.json")
    stale = False
    if os.path.exists(meta_file):
        with open(meta_file) as f:
            old_fp = _json.load(f).get("corpus_fp")
        if corpus_fp is None:
            corpus_fp = old_fp  # fp-less resume keeps the stored fingerprint
        else:
            stale = old_fp != corpus_fp
    # a tf checkpoint resumes only in the tf kernel's layout and together
    # with the docstats the same scan wrote; any other tf (an older layout,
    # or a tf whose docstats is gone) is stale, and so is every stage built
    # from it
    if _done(p["tf"]):
        cols = [name for name, _ in footer_columns(p["tf"]) or []]
        stale = stale or not (
            _done(p["docstats"]) and cols == tf_schema(positional).names
        )
    if stale:
        for s in (*STAGES, "lineage", "manifest"):
            shutil.rmtree(os.path.join(out_dir, s) if s == "manifest" else p[s],
                          ignore_errors=True)

    def timed(stage: str, fn):
        t0 = time.time()
        rows = fn()
        metrics.append(_metric(stage, int(rows), int((time.time() - t0) * 1000), "built"))

    # metadata columns carried into docstats (everything except payload)
    meta_cols = [
        c for c in corpus.columns
        if c not in (content_col, "sha256", "doc_id", "tokens", "doclen")
    ]

    # stage 1: the tf kernel (operators.postings.tf_docstats_direct) writes
    # the tf checkpoint itself and returns the docstats rows: one corpus
    # scan, one tokenize and one action make both checkpoints. Tokenization
    # runs inside Arrow kernels (north_star: "tokenize -> term-docID pairs
    # inside vectorized pandas/Arrow UDFs"): no JVM token objects, no
    # shuffle (per-doc local counting).
    _stage_out: dict = {}
    if not _done(p["tf"]):
        def s1():
            # wipe any partial task files from an interrupted attempt
            shutil.rmtree(p["tf"], ignore_errors=True)
            os.makedirs(p["tf"], exist_ok=True)
            mcols = [c for c in meta_cols if c != id_col]
            # the corpus pruned to what the kernel reads: a narrower scan is
            # a narrower parquet read
            docs = corpus.select(*dict.fromkeys(
                [*((id_col,) if id_col else key_cols), content_col, *mcols]
            ))
            if id_col:
                docs = docs.withColumn("doc_id", F.col(id_col).cast("long"))
            else:
                # deterministic: doc_id = global rank of key_cols, independent
                # of partitioning. The rank table is KEYS-ONLY (r4): payload
                # columns never ride the range sampler/exchange/persist. The
                # key-uniqueness guard (ADVICE r04) is built into the ranking
                # (adjacency flag in the same window pass + the counts
                # collect — zero extra jobs); a duplicate natural key raises
                # there before any payload join can fan out
                _stage_out["ids"] = assign_doc_ids(
                    corpus.select(*key_cols), list(key_cols), partitions
                )
                docs = docs.join(_stage_out["ids"], list(key_cols))
            # looked up at call time, so a wrapper installed on the module
            # sees the call
            stats = _postings.tf_docstats_direct(
                docs, mcols, p["tf"], content_col, positional=positional
            )
            stats.write.mode("overwrite").parquet(p["docstats"])
            ensure_tf_files(p["tf"], positional)
            open(os.path.join(p["tf"], "_SUCCESS"), "w").close()
            return footer_rows(p["tf"])

        timed("tf", s1)
        metrics.append(_metric("docstats", -1, 0, "fused-direct"))
    else:
        metrics.append(_metric("tf", -1, 0, "resumed"))
        metrics.append(_metric("docstats", -1, 0, "resumed"))
    tf = read_index_dir(spark, p["tf"])

    # stage 3: term dictionary. Up to docids.BROADCAST_IDS_MAX_ROWS partial
    # rows (the bound under which the postings stage broadcasts the whole
    # dictionary, so the driver holds it anyway) it is ranked and written
    # on the driver with no Spark job; above it build_terms ranks it in one
    # range exchange. The tf kernel's _termstats sidecar (per-batch term
    # partials) spares either path a tf rescan. Finalized task files only
    # (a killed attempt's _tmp-* leftover must not count), read by name: a
    # Spark read of the _-prefixed dir logs "All paths were ignored"
    if not _done(p["terms"]):
        pdir = os.path.join(p["tf"], "_termstats")
        tfiles = _part_files(pdir)
        # no partials and no tf rows: an empty dictionary. tf rows without
        # partials (a tf written without them) take Spark's groupBy over tf
        on_driver = bool(tfiles or footer_rows(p["tf"]) == 0) and (
            footer_rows(pdir) <= docids.BROADCAST_IDS_MAX_ROWS
        )

        def s3():
            if on_driver:
                n = write_terms_local(
                    tfiles, p["terms"], spark.sparkContext.defaultParallelism
                )
                open(os.path.join(p["terms"], "_SUCCESS"), "w").close()
                return n
            t = build_terms(tf, partials=read_part_files(spark, tfiles) if tfiles else None)
            # build_terms' partitions are its range partitions in term
            # order, each sorted by term, so the files are globally sorted
            # as written — every parquet file gets a tight term min/max,
            # making prefix-range predicates (autocomplete) row-group-
            # skippable instead of full-dict scans
            t.write.mode("overwrite").parquet(p["terms"])
            _unpersist(t)
            return t._rank_total

        timed("terms", s3)
        metrics[-1]["rank"] = "driver" if on_driver else "spark"
    else:
        metrics.append(_metric("terms", -1, 0, "resumed"))

    terms = read_index_dir(spark, p["terms"])

    # stage 4: meta (needed by postings for block-max), from files, with no
    # Spark job: n_docs and the doc-id range from the docstats footers (the
    # min/max PROVE or refute that the id space fits int32, which lets the
    # postings stage narrow doc_id before its exchange, VERDICT r04 #1a),
    # and avgdl = Σcf / n_docs from the lineage's streaming pass over the
    # terms files: every token is one unit of some term's cf, so Σcf =
    # Σdoclen. Both sums are integers, so the one division equals Spark's
    # avg(doclen) bit for bit. The dictionary size falls out of the same pass.
    t0 = time.time()
    per_bucket, cf_total = _bucket_term_counts(p["terms"], n_buckets)
    n_docs, doc_id_range = _docstats_footer_meta(p["docstats"])
    avgdl = cf_total / n_docs if n_docs else 0.0
    n_terms = sum(n for _, n in per_bucket.values())
    metrics.append(_metric("meta", 1, int((time.time() - t0) * 1000), "built"))
    for m in metrics:  # the docstats stage wrote one row per doc
        if m["stage"] == "docstats" and m["status"] != "resumed":
            m["rows_out"] = n_docs

    # stage 5: postings ------------------------------------------------------
    if not _done(p["postings"]):
        # rebuilding postings invalidates any previous file manifest
        shutil.rmtree(os.path.join(out_dir, "manifest"), ignore_errors=True)

        def s5():
            files, built = _build_postings_stage(
                tf, terms, avgdl, n_buckets, partitions, n_docs, p["postings"],
                postings_groups, positional,
                doc_id_range=doc_id_range, n_terms=n_terms,
            )
            _stage_out["posting_files"] = (files, built)
            open(os.path.join(p["postings"], "_SUCCESS"), "w").close()
            return sum(int(f["n_blocks"]) for f in files)

        timed("postings", s5)
    else:
        metrics.append(_metric("postings", -1, 0, "resumed"))

    # file-level stats manifest (Iceberg-style): per posting file (bucket,
    # term_id min/max) so term-scoped queries enumerate files without
    # listing directories. Skipped when already present (postings resumed).
    from .manifest import _manifest_path, load_postings_manifest, write_postings_manifest

    if n_docs > 0 and not os.path.exists(_manifest_path(out_dir)):
        write_postings_manifest(spark, out_dir)
    entries = load_postings_manifest(out_dir) or []
    if n_terms and not entries:
        raise RuntimeError(
            f"postings manifest missing or empty for {n_terms} dictionary "
            f"terms under {out_dir}: the posting files are gone or unreadable"
        )
    if "posting_files" in _stage_out:
        files, built = _stage_out["posting_files"]
        _check_posting_files(entries, files, max(postings_groups, 1), built)

    # meta + metrics are driver-side JSON: one-row tables don't warrant a
    # Spark job each (every sequential job adds fixed latency to the build)
    import json

    # ALWAYS rewritten from the freshly computed stats: a stale meta.json
    # (e.g. out_dir reused after merge_segments grew the corpus) would skew
    # idf/tfnorm for every subsequent query
    os.makedirs(p["meta"], exist_ok=True)
    with open(os.path.join(p["meta"], "meta.json"), "w") as f:
        json.dump(
            {"n_docs": n_docs, "avgdl": avgdl, "n_buckets": n_buckets,
             "partitions": partitions, "corpus_fp": corpus_fp,
             "positional": positional},
            f,
        )

    # lineage: per-bucket block/posting/term counts (see _lineage_rows) —
    # at most n_buckets rows, written driver-side (a Spark write of a local
    # relation is a job and its commit protocol for a few hundred bytes)
    import pyarrow as pa
    import pyarrow.parquet as pq

    lineage = _lineage_rows(per_bucket, entries) if n_terms else []
    schema = pa.schema([("bucket", pa.int32()), ("n_blocks", pa.int64()),
                        ("n_postings", pa.int64()), ("n_terms", pa.int64())])
    shutil.rmtree(p["lineage"], ignore_errors=True)
    os.makedirs(p["lineage"])
    pq.write_table(
        pa.Table.from_pylist([dict(zip(schema.names, r)) for r in lineage], schema=schema),
        os.path.join(p["lineage"], "part-00000-graft.snappy.parquet"),
    )
    os.makedirs(p["metrics"], exist_ok=True)
    with open(os.path.join(p["metrics"], "metrics.jsonl"), "a") as f:
        for m in metrics:
            f.write(json.dumps(m) + "\n")

    # release the id-rank persist (the tf stage has materialized)
    if "ids" in _stage_out:
        _unpersist(_stage_out["ids"])

    return InvertedIndex(
        root=out_dir, spark=spark, n_docs=n_docs, avgdl=avgdl,
        n_buckets=n_buckets, positional=positional,
    )
