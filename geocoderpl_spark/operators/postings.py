"""Inverted-index build: tokenize -> tf pairs -> term dictionary -> blocked,
compressed posting segments.

Reference analog (SURVEY.md §2.4 A8, §2.1 K2/K3): the reference appends
phrases into a 200x200 in-memory sector-string matrix (``xml_parsers.py:351``,
``geo_utilities.py:626``) and a single global vocabulary string
(``xml_parsers.py:433-435``) — both are unbounded shared mutable state. Here
both become pure dataflow outputs:

- ``terms``    = per-term (df, cf) + dense term_id (the vocabulary), ranked
  on the driver when it fits there, else by one range exchange and one
  Arrow rank kernel
- ``postings`` = blocked posting lists, delta+varint compressed, with
  per-block max-score metadata (Block-Max WAND, SURVEY.md §4 O5)

Skew story (north_rule): hot terms are NOT gathered onto a single reducer.
``tf`` rows are **hash-partitioned on (bucket, doc-range slice)**, so a hot
term's postings split across many tasks at doc_id boundaries; each task
encodes complete blocks for its slices and writes them to its own files
(block_id = first doc_id in block, which is globally unique and ordered
per term because ranges are disjoint). No
row ever holds a full posting list — a collect_list-per-term design would
OOM at 10^12 docs; this one is bounded by BLOCK_SIZE everywhere.

The groupBy aggregations (tf counts, df/cf) are skew-safe by construction:
map-side partial aggregation compresses hot keys before the shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bm25 import B as BM25_B
from ..functions.bm25 import K1 as BM25_K1
from ..functions.codec import BLOCK_SIZE
from ..functions.tokenize import tokenize, tokenize_arrow
from . import docids

# doclens are stored inline per posting (varint, like tfs): scoring then
# never joins the 10^12-row docstats table — tfnorm = f(tf, dl, avgdl) is
# computable from the block alone. Costs ~1 byte/posting, removes the
# biggest query-time shuffle.
POSTINGS_SCHEMA = (
    "bucket int, term_id long, block_id long, n int, "
    "first_doc long, last_doc long, max_tf int, block_max_tfn float, "
    "doc_ids binary, tfs binary, dls binary"
)
# positional variant: + per-block varint stream of token positions
# (per posting: first absolute, then gaps; position count per posting = tf)
POSTINGS_POS_SCHEMA = POSTINGS_SCHEMA + ", poss binary"

N_BUCKETS = 64  # term-hash buckets for query-time partition pruning


def tokenized_docs(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """Add ``tokens`` (array<string>) and ``doclen`` (long)."""
    return docs.withColumn("tokens", tokenize(content_col)).withColumn(
        "doclen", F.size("tokens").cast("long")
    )


def term_frequencies(tok_docs: DataFrame) -> DataFrame:
    """(term, doc_id, doclen, tf). doclen rides in the groupBy key (it is
    functionally dependent on doc_id) so no docstats join is needed later."""
    pairs = tok_docs.select("doc_id", "doclen", F.explode("tokens").alias("term"))
    return pairs.groupBy("term", "doc_id", "doclen").agg(F.count(F.lit(1)).alias("tf"))


def _string_offsets(content, np):
    """The ``len + 1`` value offsets of a pyarrow string array (int32, or
    int64 for ``large_string``) as a zero-copy numpy view."""
    import pyarrow as pa

    odt = np.int64 if pa.types.is_large_string(content.type) else np.int32
    offs = np.frombuffer(
        content.buffers()[1], dtype=odt, count=content.offset + len(content) + 1
    )
    return offs[content.offset :]


def _sha256_hex(content, n: int) -> list[str]:
    """Zero-copy sha256 of each string in an Arrow array: hash utf8 bytes
    straight out of the value buffer (hashlib accepts memoryviews — the
    content is never decoded into a Python str)."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    carr = content.combine_chunks() if isinstance(content, pa.ChunkedArray) else content
    offs = _string_offsets(carr, np)
    data = carr.buffers()[2]
    data = memoryview(data) if data is not None else memoryview(b"")
    return [hashlib.sha256(data[offs[i] : offs[i + 1]]).hexdigest() for i in range(n)]


# Content bytes per tokenize-and-count slice of a tf kernel batch: the
# kernel's transient token arrays scale with the slice, not with the batch
# (counting a 20k-doc, 48 MB batch at once added ~720 MB to a worker's
# peak). A doc larger than this is a slice by itself.
_TF_SLICE_BYTES = 2 << 20
# tf rows per parquet row group (pyarrow's default row-group size): the
# kernel buffers its slices' rows up to this, since a row group per slice
# grows the index (+4.2 % bytes per input byte on bulk_build).
_TF_ROW_GROUP_ROWS = 1 << 20


def _content_slices(content, slice_bytes: int, np) -> list[tuple[int, int]]:
    """Row bounds ``[a, b)`` of consecutive slices of a string array, each
    holding at most ``slice_bytes`` content bytes (a longer row is a slice
    by itself), cut from the string offsets alone."""
    offs = _string_offsets(content, np)
    n = len(content)
    bounds, a = [], 0
    while a < n:
        b = int(np.searchsorted(offs, offs[a] + slice_bytes, side="right")) - 1
        b = max(b, a + 1)
        bounds.append((a, b))
        a = b
    return bounds


def _tf_slices(content, doc_ids, positional: bool, slice_bytes: int):
    """The tf kernel's counting core over one batch: yield ``(tf, partial,
    doclen)`` per content slice (:func:`_content_slices`).

    Each slice is tokenized (:func:`tokenize_arrow`), its terms
    dictionary-encoded, and every token keyed by the int64 ``parent << 32 |
    code``; one sort of the keys counts the (doc, term) pairs, no hash table
    on strings. ``tf`` holds the slice's :func:`tf_schema` rows (doc order,
    then term code order), ``partial`` its ``(term, df, cf)`` rows, one per
    distinct term; both are None for a slice without tokens. In a
    positional build the sort is stable, so each key's 1-based positions
    come out ascending. ``doclen`` is the token count per row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = tf_schema(positional)
    for a, b in _content_slices(content, slice_bytes, np):
        terms, parent, doclen = tokenize_arrow(content.slice(a, b - a))
        if not len(terms):
            yield None, None, doclen
            continue
        enc = pc.dictionary_encode(terms)
        key = (parent << 32) | enc.indices.to_numpy().astype(np.int64)
        if positional:
            order = np.argsort(key, kind="stable")
            key = key[order]
        else:
            key.sort()
        starts = np.flatnonzero(np.concatenate(([True], key[1:] != key[:-1])))
        bounds = np.append(starts, key.size)
        tf = np.diff(bounds)
        key = key[starts]
        doc, code = key >> 32, key & 0xFFFFFFFF
        dictionary = enc.dictionary.cast(pa.string())
        cols = [
            dictionary.take(pa.array(code)),
            pa.array(doc_ids[a:b][doc], pa.int64()),
            pa.array(doclen[doc], pa.int64()),
            pa.array(tf, pa.int64()),
        ]
        if positional:
            # 1-based position of each token within its doc
            first = np.cumsum(doclen) - doclen
            pos = np.arange(parent.size, dtype=np.int64) - first[parent] + 1
            cols.append(pa.ListArray.from_arrays(
                pa.array(bounds.astype(np.int32)),
                pa.array(pos[order].astype(np.int32)),
            ))
        n_terms = len(dictionary)
        partial = pa.table({
            "term": dictionary,
            "df": pa.array(np.bincount(code, minlength=n_terms), pa.int64()),
            "cf": pa.array(
                np.bincount(code, weights=tf, minlength=n_terms).astype(np.int64)
            ),
        })
        yield pa.Table.from_arrays(cols, schema=schema), partial, doclen


def tf_docstats_direct(
    docs: DataFrame,
    meta_cols: list[str],
    out_dir: str,
    content_col: str = "content",
    positional: bool = False,
) -> DataFrame:
    """The build's tf kernel: one scan of ``docs`` writes the tf relation
    as parquet and returns the docstats relation.

    Each task cuts its batches into slices of at most ``_TF_SLICE_BYTES``
    content bytes and counts each slice's (term, doc) pairs by sorting
    packed int64 ``(doc, term code)`` keys (:func:`_tf_slices`; positional
    builds take the 1-based token positions from the same stable sort), so
    a worker's memory follows the slice, not the batch. The rows
    :func:`tf_schema` names stream into ONE parquet file under ``out_dir``
    via pyarrow's C++ writer, buffered into row groups of
    ``_TF_ROW_GROUP_ROWS`` rows. Only the per-doc stats row (doc_id, *meta
    passthrough, doclen, sha256) crosses back to the JVM — ~1/150th of the
    tf rows, no UnsafeRow conversion, no JVM parquet encode. Zero-token docs
    get a stats row (doclen 0) and no tf row.

    Per batch, the (term, df, cf) partials of its tf rows go to the
    underscore-hidden ``_termstats`` sidecar: a materialized map-side
    combine, so the terms stage aggregates vocabulary-sized partials instead
    of rescanning tf. The slices' partials are summed per batch; partial
    rows may still repeat a term (per batch, per task) and the terms stage's
    sum makes them exact.

    Commit protocol: tasks write ``_tmp-<pid>-<attempt>`` then atomically
    rename to ``part-<pid>``; a retried task recomputes the same partition
    deterministically and the rename makes it idempotent. The caller owns
    the stage ``_SUCCESS`` marker (written only after the driving action
    returns). On a cluster ``out_dir`` is shared storage — the same
    contract as any committer-less distributed sink; speculative attempts
    are refused (:func:`refuse_speculation`).
    """
    refuse_speculation(docs.sparkSession)
    # read here, on the driver, so the task closure carries the value
    slice_bytes = _TF_SLICE_BYTES

    def fn(batches):
        import os as _os2

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        att = ctx.attemptNumber() if ctx is not None else 0
        tmp = _os2.path.join(out_dir, f"_tmp-{pid:05d}-{att}.parquet")
        final = _os2.path.join(out_dir, f"part-{pid:05d}-graft.snappy.parquet")
        writer = None
        pdir = _os2.path.join(out_dir, "_termstats")
        ptmp = _os2.path.join(pdir, f"_tmp-{pid:05d}-{att}.parquet")
        pfinal = _os2.path.join(pdir, f"part-{pid:05d}-graft.snappy.parquet")
        pwriter = None
        buf, buffered = [], 0

        def write_row_group(k):
            # the first k buffered tf rows become one row group
            nonlocal writer, buf, buffered
            if writer is None:
                writer = pq.ParquetWriter(tmp, tf_schema(positional))
            rows = pa.concat_tables(buf)
            writer.write_table(rows.slice(0, k), row_group_size=k)
            buf, buffered = [rows.slice(k)], buffered - k

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            content = pc.fill_null(rb.column(names.index(content_col)), "")
            doc_ids = rb.column(names.index("doc_id")).to_numpy()
            doclens, partials = [], []
            for tf, partial, doclen in _tf_slices(content, doc_ids, positional, slice_bytes):
                doclens.append(doclen)
                if tf is None:
                    continue
                partials.append(partial)
                buf.append(tf)
                buffered += tf.num_rows
                while buffered >= _TF_ROW_GROUP_ROWS:
                    write_row_group(_TF_ROW_GROUP_ROWS)
            if partials:
                partial = partials[0]
                if len(partials) > 1:
                    partial = (
                        pa.concat_tables(partials)
                        .group_by("term")
                        .aggregate([("df", "sum"), ("cf", "sum")])
                        .select(["term", "df_sum", "cf_sum"])
                        .rename_columns(["term", "df", "cf"])
                    )
                if pwriter is None:
                    _os2.makedirs(pdir, exist_ok=True)
                    pwriter = pq.ParquetWriter(ptmp, partial.schema)
                pwriter.write_table(partial)
            stats = {"doc_id": rb.column(names.index("doc_id"))}
            for c in fn.meta_cols:
                stats[c] = rb.column(names.index(c))
            stats["doclen"] = pa.array(np.concatenate(doclens), pa.int64())
            stats["sha256"] = pa.array(_sha256_hex(content, n), pa.string())
            yield pa.RecordBatch.from_pydict(stats)
        if buffered:
            write_row_group(buffered)
        if writer is not None:
            writer.close()
            _os2.replace(tmp, final)
        if pwriter is not None:
            pwriter.close()
            _os2.replace(ptmp, pfinal)

    fn.meta_cols = list(meta_cols)
    dtypes = {f.name: f.dataType.simpleString() for f in docs.schema}
    meta_schema = ", ".join(f"{c} {dtypes[c]}" for c in meta_cols)
    schema = (
        "doc_id long"
        + (", " + meta_schema if meta_schema else "")
        + ", doclen long, sha256 string"
    )
    return docs.select("doc_id", content_col, *meta_cols).mapInArrow(fn, schema=schema)


def write_empty_parquet(out_dir: str, schema) -> None:
    """Land one empty ``part-00000`` file carrying ``schema`` (pyarrow) in
    ``out_dir``: a stage whose tasks wrote no file (zero docs, zero terms)
    stays a readable, typed table."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        schema.empty_table(), os.path.join(out_dir, "part-00000-graft.snappy.parquet")
    )


def tf_schema(positional: bool = False):
    """The pyarrow schema of the tf files :func:`tf_docstats_direct` writes:
    ``term, doc_id, doclen, tf[, positions]``."""
    import pyarrow as pa

    fields = [
        pa.field("term", pa.string()),
        pa.field("doc_id", pa.int64()),
        pa.field("doclen", pa.int64()),
        pa.field("tf", pa.int64()),
    ]
    if positional:
        fields.append(pa.field("positions", pa.list_(pa.int32())))
    return pa.schema(fields)


def ensure_tf_files(out_dir: str, positional: bool = False) -> None:
    """Zero-doc guard for the kernel-direct tf write: an empty corpus
    produces no task files, which would make the checkpoint unreadable —
    land one empty file carrying :func:`tf_schema`."""
    import glob as _glob
    import os

    # finalized task files only — a crashed attempt's _tmp-* leftover (hidden
    # from Spark's listing) must not suppress the schema-carrying empty file
    if not _glob.glob(os.path.join(out_dir, "part-*.parquet")):
        write_empty_parquet(out_dir, tf_schema(positional))


def ensure_postings_files(out_dir: str, positional: bool = False) -> None:
    """Zero-posting guard for the kernel-direct postings write: with no
    ``bucket=*`` file (zero docs, or only zero-token docs) land one flat
    empty file with the block schema, bucket column included."""
    import glob as _glob
    import os

    if _glob.glob(os.path.join(out_dir, "bucket=*", "part-*.parquet")):
        return
    write_empty_parquet(
        out_dir, _arrow_schema(POSTINGS_POS_SCHEMA if positional else POSTINGS_SCHEMA)
    )


def build_terms(tf: DataFrame | None, partials: DataFrame | None = None) -> DataFrame:
    """Term dictionary: (term, df, cf, term_id), ranked by Spark.

    Replaces the reference's single-row vocabulary string (K3,
    ``db_classes.py:181-208``) — the #1 anti-pattern SURVEY.md flags.
    term_id is the dense 0-based rank of the term string (deterministic,
    independent of the partition count).

    The build takes this path only when the dictionary is too big for the
    driver: up to ``docids.BROADCAST_IDS_MAX_ROWS`` partial rows it ranks
    them on the driver instead (:func:`write_terms_local`), with the same
    rank helper (:func:`_rank_terms`) and the same output.

    One range exchange on ``term`` feeds one Arrow kernel
    (:func:`_rank_partition`) that aggregates, sorts and numbers its range
    partition in a single pass; the per-partition row counts (one collect
    of each partition's last row from the persisted kernel output) give
    each partition's id offset. With the tf kernel's ``_termstats``
    partials (per-batch (term, df, cf) rows, a materialized map-side
    combine; a merge links its segments' dictionaries there) the exchange
    moves those partial rows; without them a ``groupBy(term)`` over the tf
    rows makes the source. Values are identical either way: per-term df /
    cf are the sums of the partial counts / tf sums.

    The result carries ``_rank_total`` (the dictionary size) and
    ``_stats_cache`` (the persisted kernel output, released by the caller
    once the dictionary is written). Its partitions are the range
    partitions in term order, each sorted by term, so writing it as is
    yields globally term-sorted files.
    """
    if partials is not None:
        src = partials.select("term", "df", "cf")
    else:
        # a NULL term is not a term
        src = tf.filter(F.col("term").isNotNull()).groupBy("term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
        )
    n_parts = src.sparkSession.sparkContext.defaultParallelism
    # PERSISTED: repartitionByRange samples its boundaries per job, so the
    # counts collect and the caller's write must read one materialization
    # (the zipWithIndex technique: one count job over a pinned partitioning)
    ranked = (
        src.repartitionByRange(n_parts, "term")
        .mapInArrow(
            _rank_partition,
            "term string, df long, cf long, _rank long, _pid int, _last boolean",
        )
        .persist()
    )
    # counts: each partition's flagged last row, a filter with no exchange.
    # Arrow sorts a NULL term last, so it shows here too and is raised
    counts = ranked.filter("_last").select(
        "_pid", "_rank", F.col("term").isNull().alias("null")
    ).collect()
    if any(r["null"] for r in counts):
        ranked.unpersist()
        raise ValueError(_NULL_TERM)
    offsets, total = docids.partition_offsets(
        ((r["_pid"], r["_rank"] + 1) for r in counts), n_parts
    )
    out = ranked.select(
        "term", "df", "cf", (offsets[F.col("_pid")] + F.col("_rank")).alias("term_id")
    )
    out._stats_cache = ranked
    out._rank_total = total
    return out


_NULL_TERM = (
    "build_terms: a term partial row has a NULL term; a NULL term has no "
    "rank in the dictionary"
)


def _rank_terms(partials):
    """The one ranking step of both dictionary paths: sum df / cf per term
    of Arrow ``(term, df, cf)`` rows and sort by term (Arrow's byte order,
    which is Spark's ``UTF8String`` order; a NULL term sorts last). Returns
    ``term, df, cf, _rank`` with ``_rank = 0..n-1``."""
    import numpy as np
    import pyarrow as pa

    agg = (
        partials.group_by("term")
        .aggregate([("df", "sum"), ("cf", "sum")])
        .sort_by("term")
    )
    return pa.table({
        "term": agg["term"],
        "df": agg["df_sum"],
        "cf": agg["cf_sum"],
        "_rank": pa.array(np.arange(agg.num_rows, dtype=np.int64)),
    })


def _rank_partition(batches):
    """Rank kernel of :func:`build_terms` over one range partition of
    (term, df, cf) rows: :func:`_rank_terms` of the partition (the range
    partitions stay globally ordered), plus the partition id ``_pid`` and
    ``_last`` set on the last row. Memory is one range partition's rows."""
    import numpy as np
    import pyarrow as pa
    from pyspark import TaskContext

    batches = list(batches)
    if not batches:
        return
    ranked = _rank_terms(pa.Table.from_batches(batches))
    n = ranked.num_rows
    if n == 0:
        return
    last = np.zeros(n, dtype=bool)
    last[-1] = True
    yield from (
        ranked.append_column(
            "_pid", pa.array(np.full(n, TaskContext.get().partitionId(), dtype=np.int32))
        )
        .append_column("_last", pa.array(last))
        .to_batches()
    )


def terms_schema():
    """The pyarrow schema of the terms files: ``term, df, cf, term_id``."""
    import pyarrow as pa

    return pa.schema([("term", pa.string()), ("df", pa.int64()),
                      ("cf", pa.int64()), ("term_id", pa.int64())])


def rank_terms_local(partials):
    """The driver's dictionary: :func:`_rank_terms` of Arrow ``(term, df,
    cf)`` partial rows, numbered ``term_id = 0..n-1`` in term order, as
    :func:`terms_schema`. A NULL term raises ``ValueError``, as in
    :func:`build_terms`."""
    ranked = _rank_terms(partials.select(["term", "df", "cf"]))
    if ranked["term"].null_count:
        raise ValueError(_NULL_TERM)
    return ranked.rename_columns(terms_schema().names)


def write_terms_local(partial_files: list[str], out_dir: str, n_parts: int) -> int:
    """Rank the dictionary on the driver, with no Spark job, and write it to
    ``out_dir``; returns the dictionary size. The caller takes this path
    while the partial rows fit the driver (``docids.BROADCAST_IDS_MAX_ROWS``,
    the bound under which the postings stage broadcasts the dictionary
    anyway) and :func:`build_terms` above it.

    The files match what :func:`build_terms` and a Spark write gave:
    ``n_parts`` contiguous term-sorted ``part-*`` files, each one row group,
    so every file carries a tight term min/max. Only ``df`` / ``cf`` are
    dictionary-encoded: terms and term_ids are unique, and pyarrow's
    defaults make the files a third bigger than Spark's (718 against 543 KB
    for 50k terms; these settings give 543 KB). ``_SUCCESS`` is the
    caller's."""
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ["term", "df", "cf"]
    src_schema = terms_schema().remove(3)
    terms = rank_terms_local(pa.concat_tables([
        src_schema.empty_table(),
        *(pq.read_table(f, columns=cols).select(cols).cast(src_schema)
          for f in partial_files),
    ]))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    n = terms.num_rows
    if n == 0:
        write_empty_parquet(out_dir, terms_schema())
        return 0
    bounds = np.linspace(0, n, min(n_parts, n) + 1).astype(np.int64)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(
            terms.slice(int(a), int(b - a)),
            os.path.join(out_dir, f"part-{i:05d}-graft.snappy.parquet"),
            row_group_size=int(b - a), use_dictionary=["df", "cf"],
            store_schema=False,
        )
    return n


def _run_starts(terms, docs, slice_docs: int):
    """Row indices where a posting run starts, in rows ordered by term_id
    and then doc_id: row 0 and every change of term_id OR of doc slice
    (``doc_id // slice_docs``). Blocks are cut from runs, so no block
    crosses a slice: when two non-adjacent slices of one term reach the
    same task, their blocks stay apart and every term's block doc-ranges
    stay disjoint (J7). Both encoders, the frame chunker and the batch-tail
    cut all take their boundaries from here."""
    import numpy as np

    slices = np.asarray(docs) // slice_docs
    change = (np.diff(terms) != 0) | (np.diff(slices) != 0)
    return np.concatenate([[0], change.nonzero()[0] + 1])


def _block_bounds(run_starts, n_rows: int):
    """(starts, ends) of the blocks: each run splits into BLOCK_SIZE-row
    blocks counted from its own start, the last one short."""
    import numpy as np

    run_ends = np.concatenate([run_starts[1:], [n_rows]])
    blocks_per_run = (run_ends - run_starts + BLOCK_SIZE - 1) // BLOCK_SIZE
    k_within = np.arange(int(blocks_per_run.sum())) - np.repeat(
        np.cumsum(blocks_per_run) - blocks_per_run, blocks_per_run
    )
    bstarts = np.repeat(run_starts, blocks_per_run) + k_within * BLOCK_SIZE
    bends = np.minimum(bstarts + BLOCK_SIZE, np.repeat(run_ends, blocks_per_run))
    return bstarts, bends


def _encode_partition(avgdl: float, n_buckets: int, slice_docs: int) -> callable:
    """mapInPandas reference encoder: one task's rows, sorted by
    (bucket, term_id, doc_id) -> compressed blocks. Kept as the plain
    reference the direct writer (:func:`_write_partition_arrow`) is tested
    byte-identical against; the build does not run it."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # A run may span Arrow batches within the partition; carry a tail.
        tail: pd.DataFrame | None = None
        for pdf in batches:
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            split = int(_run_starts(
                pdf["term_id"].to_numpy(), pdf["doc_id"].to_numpy(), slice_docs
            )[-1])
            tail = pdf.iloc[split:].copy()
            if split:
                yield from _encode_frame(pdf.iloc[:split], avgdl, np, n_buckets, slice_docs)
        if tail is not None and len(tail):
            yield from _encode_frame(tail, avgdl, np, n_buckets, slice_docs)

    return fn


def _encode_frame(
    pdf: pd.DataFrame, avgdl: float, np, n_buckets: int, slice_docs: int
) -> Iterator[pd.DataFrame]:
    """Encode one frame of (term_id, doc_id, doclen, tf[, positions]) rows
    into compressed blocks, one Python ``bytes`` per block and column.

    Vectorized: ONE varint pass per column for the whole frame, per-block
    bytes sliced out of that buffer by offset."""
    from ..functions.bm25 import tfnorm_np
    from ..functions.codec import varint_encode_with_lengths

    n_rows = len(pdf)
    if n_rows == 0:
        return
    terms = pdf["term_id"].to_numpy(dtype=np.int64)
    docs = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["doclen"].to_numpy(dtype=np.int64)
    bstarts, bends = _block_bounds(_run_starts(terms, docs, slice_docs), n_rows)

    # delta-gaps over the whole frame, reset to absolute doc_id at block heads
    gaps = np.empty(n_rows, dtype=np.uint64)
    gaps[1:] = np.diff(docs).astype(np.uint64)
    gaps[bstarts] = docs[bstarts].astype(np.uint64)

    tfn = tfnorm_np(tfs.astype(np.float64), dls.astype(np.float64), avgdl)

    def encode_column(vals):
        buf, lens = varint_encode_with_lengths(vals)
        ends = np.cumsum(lens)
        starts = ends - lens
        lo = starts[bstarts]
        hi = ends[bends - 1]
        return [buf[a:b].tobytes() for a, b in zip(lo, hi)]

    cols = {
        "bucket": _buckets_np(terms[bstarts], n_buckets, np),
        "term_id": terms[bstarts],
        "block_id": docs[bstarts],
        "n": (bends - bstarts).astype(np.int32),
        "first_doc": docs[bstarts],
        "last_doc": docs[bends - 1],
        "max_tf": np.maximum.reduceat(tfs, bstarts).astype(np.int32),
        # rounded UP one float32 ulp: the MaxScore kernel treats this as
        # a true upper bound, and a plain float32 cast can round below
        # the float64 max (~6e-8 rel), which could prune a top-k doc
        "block_max_tfn": np.nextafter(
            np.maximum.reduceat(tfn, bstarts).astype(np.float32),
            np.float32(np.inf),
        ),
        "doc_ids": encode_column(gaps),
        "tfs": encode_column(tfs.astype(np.uint64)),
        "dls": encode_column(dls.astype(np.uint64)),
    }
    if "positions" in pdf.columns:
        # flatten per-posting position lists; sort within each posting;
        # delta-encode with an absolute reset at every posting head
        flat_pos = np.concatenate([np.asarray(p, dtype=np.int64) for p in pdf["positions"]])
        flat_row = np.repeat(np.arange(n_rows, dtype=np.int64), tfs)
        order = np.lexsort((flat_pos, flat_row))
        flat_pos = flat_pos[order]
        pcum = np.concatenate([[0], np.cumsum(tfs)])
        pgaps = np.empty(flat_pos.size, dtype=np.uint64)
        pgaps[1:] = (flat_pos[1:] - flat_pos[:-1]).astype(np.uint64)
        heads = pcum[:-1]  # first position index of each posting
        pgaps[heads] = flat_pos[heads].astype(np.uint64)
        pbuf, plens = varint_encode_with_lengths(pgaps)
        pends = np.cumsum(plens)
        pstarts = pends - plens
        lo = pstarts[pcum[bstarts]]
        hi = pends[pcum[bends] - 1]
        cols["poss"] = [pbuf[a:b].tobytes() for a, b in zip(lo, hi)]
    yield pd.DataFrame(cols)


def _buckets_np(term_ids, n_buckets: int, np):
    """Per-block bucket = pmod(xxhash64(term_id), n_buckets), recomputed in
    the kernel (Spark-parity vectorized XXH64) so the bucket column never
    rides the posting exchange/sort/IPC."""
    from ..functions.xxhash import xxhash64_long_np

    return (xxhash64_long_np(np.asarray(term_ids, dtype=np.int64))
            % np.int64(n_buckets)).astype(np.int32)


# one row per posting file the encode kernel wrote: a manifest entry
POSTING_FILES_SCHEMA = (
    "bucket int, file string, n_blocks long, tid_min long, tid_max long"
)


def _arrow_schema(ddl: str):
    """The pyarrow schema of a Spark DDL string (driver side: parsing uses
    the active SparkContext)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(ddl))


class _PostingFiles:
    """One task's posting files: a parquet file per bucket,
    ``<out_dir>/bucket=<b>/part-<pid>-graft.snappy.parquet``, fed encoded
    blocks in non-decreasing bucket order.

    Each file is written as ``_tmp-<pid>-<attempt>.parquet`` and renamed
    when its bucket ends, so a retried task replaces its own files and a
    failed attempt leaves only an underscore-hidden ``_tmp-`` file, which
    neither Spark nor the manifest lists. Blocks are buffered into row
    groups of up to ``ROW_GROUP_BLOCKS``, so a small file is one row group
    (as Spark's 128 MB row groups made it), not one per Arrow batch."""

    ROW_GROUP_BLOCKS = 1 << 18
    # Spark's parquet writer drops dictionary encoding for a column chunk
    # where it does not pay, which for the doc-gap, doclen and position
    # blobs (near-unique per block) it never does; pyarrow does not adapt,
    # so those columns are written plain. No reader uses min/max of a
    # binary blob, so only the scalar columns carry statistics.
    PLAIN_COLUMNS = ("doc_ids", "dls", "poss")

    def __init__(self, out_dir: str, pid: int, attempt: int):
        self.out_dir, self.pid, self.attempt = out_dir, pid, attempt
        self.bucket: int | None = None
        self.writer = None
        self.pending: list = []
        self.n_pending = self.n_blocks = 0
        self.tid_min = self.tid_max = 0
        self.files: list[dict] = []

    def _path(self, name: str) -> str:
        import os

        return os.path.join(self.out_dir, f"bucket={self.bucket}", name)

    def _tmp(self) -> str:
        return self._path(f"_tmp-{self.pid:05d}-{self.attempt}.parquet")

    def write(self, blocks) -> None:
        """Append an encoded block batch (bucket first, as the encoder
        emits it); the bucket column itself lives in the directory name."""
        import numpy as np
        import pyarrow as pa

        bk = blocks.column(0).to_numpy()
        body = pa.RecordBatch.from_arrays(blocks.columns[1:], blocks.schema.names[1:])
        tids = body.column(0).to_numpy()
        cuts = np.concatenate([[0], np.flatnonzero(np.diff(bk)) + 1, [bk.size]])
        for a, b in zip(cuts[:-1].tolist(), cuts[1:].tolist()):
            bucket = int(bk[a])
            if bucket != self.bucket:
                if self.bucket is not None and bucket < self.bucket:
                    raise RuntimeError(
                        f"posting blocks reached bucket {bucket} after bucket "
                        f"{self.bucket}: the task's rows are not bucket-major"
                    )
                self._finish()
                self.bucket = bucket
                self.tid_min, self.tid_max = int(tids[a]), int(tids[a])
            self.pending.append(body.slice(a, b - a))
            self.n_pending += b - a
            self.n_blocks += b - a
            self.tid_min = min(self.tid_min, int(tids[a:b].min()))
            self.tid_max = max(self.tid_max, int(tids[a:b].max()))
            if self.n_pending >= self.ROW_GROUP_BLOCKS:
                self._flush()

    def _flush(self) -> None:
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        if not self.pending:
            return
        table = pa.Table.from_batches(self.pending)
        if self.writer is None:
            os.makedirs(self._path(""), exist_ok=True)
            self.writer = pq.ParquetWriter(
                self._tmp(), table.schema, store_schema=False,
                use_dictionary=[c for c in table.column_names
                                if c not in self.PLAIN_COLUMNS],
                write_statistics=[f.name for f in table.schema
                                  if not pa.types.is_binary(f.type)],
            )
        self.writer.write_table(table)
        self.pending, self.n_pending = [], 0

    def _finish(self) -> None:
        import os

        if self.bucket is None:
            return
        self._flush()
        self.writer.close()
        self.writer = None
        name = f"part-{self.pid:05d}-graft.snappy.parquet"
        os.replace(self._tmp(), self._path(name))
        self.files.append({
            "bucket": self.bucket, "file": f"bucket={self.bucket}/{name}",
            "n_blocks": self.n_blocks, "tid_min": self.tid_min, "tid_max": self.tid_max,
        })
        self.n_blocks = 0

    def close(self) -> list[dict]:
        """Finish the last file; the rows of every file written."""
        self._finish()
        self.bucket = None
        return self.files

    def discard(self) -> None:
        """Close an unfinished file without publishing it."""
        if self.writer is not None:
            self.writer.close()
            self.writer = None


def _write_partition_arrow(
    avgdl: float, n_buckets: int, slice_docs: int, out_dir: str
) -> callable:
    """mapInArrow kernel: one task's rows, sorted by (bucket, term_id,
    doc_id) -> compressed blocks written straight into the task's posting
    files (:class:`_PostingFiles`); returns one row per file
    (:data:`POSTING_FILES_SCHEMA`), not the blocks.

    The blocks never cross back into the JVM: no Arrow return, no UnsafeRow
    conversion, no block re-sort, no Spark parquet encode. The binary
    posting columns are Arrow BinaryArrays built directly over the varint
    buffers (:func:`_encode_np`), so no per-block Python object exists
    either. Byte-identical to the pandas reference :func:`_encode_partition`
    over the same rows (tests/test_codec.py)."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        ctx = TaskContext.get()
        files = _PostingFiles(
            out_dir,
            ctx.partitionId() if ctx is not None else 0,
            ctx.attemptNumber() if ctx is not None else 0,
        )

        def encode(frame):
            for chunk in _frame_chunks(frame, np, slice_docs):
                files.write(_encode_np(chunk, avgdl, np, pa, n_buckets, slice_docs))

        try:
            tail: dict | None = None
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                names = rb.schema.names
                cols = {c: rb.column(i).to_numpy(zero_copy_only=False)
                        for i, c in enumerate(names) if c != "positions"}
                if "positions" in names:
                    parr = rb.column(names.index("positions"))
                    cols["pos_flat"] = pc.list_flatten(parr).to_numpy(zero_copy_only=False)
                    cols["pos_len"] = pc.list_value_length(parr).to_numpy().astype(np.int64)
                if tail is not None:
                    cols = {k: np.concatenate([tail[k], cols[k]]) for k in cols}
                # the last run may continue in the next batch: carry it
                split = int(_run_starts(cols["term_id"], cols["doc_id"], slice_docs)[-1])
                if split:
                    encode(_slice_cols(cols, 0, split, np))
                    tail = _slice_cols(cols, split, cols["term_id"].size, np)
                else:
                    tail = cols
            if tail is not None:
                encode(tail)
            rows = files.close()
        except BaseException:
            files.discard()
            raise
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    out_schema = _arrow_schema(POSTING_FILES_SCHEMA)
    return fn


# rows per encode frame: bounds every varint buffer (≤ ~30 B/row for the
# doc/tf/dl streams) far below the int32 BinaryArray offset limit
_ENCODE_CHUNK_ROWS = 4_000_000


# positions per chunk: bounds the positional varint buffer (≤ ~5 B/gap)
# under the int32 BinaryArray offset limit with wide margin
_ENCODE_CHUNK_POS = 100_000_000


def _frame_chunks(cols: dict, np, slice_docs: int, cap_rows: int = _ENCODE_CHUNK_ROWS,
                  cap_pos: int = _ENCODE_CHUNK_POS):
    """Split an encode frame into chunks of ≤cap_rows rows AND (for
    positional frames) ≤~cap_pos flattened positions — the positions stream
    scales with total tf, not rows, so a row cap alone cannot bound its
    varint buffer. Every cut is a block start of the unchunked encode
    (:func:`_run_starts`, :func:`_block_bounds`), so chunked output is
    byte-identical: each chunk's first row is a true block head, with the
    same absolute-doc_id gap reset and the same per-block byte ranges. A
    cap smaller than one block still advances one block per chunk."""
    n = cols["term_id"].size
    pcum = None
    if "pos_len" in cols:
        pcum = np.concatenate([[0], np.cumsum(cols["pos_len"])])
    if n <= cap_rows and (pcum is None or pcum[-1] <= cap_pos):
        yield cols
        return
    bstarts, _ = _block_bounds(
        _run_starts(cols["term_id"], cols["doc_id"], slice_docs), n
    )
    cuts = np.append(bstarts, n)
    start = 0
    while start < n:
        target = min(start + cap_rows, n)
        if pcum is not None:
            # furthest row keeping the chunk's positions within cap_pos
            target = min(target, int(np.searchsorted(pcum, pcum[start] + cap_pos, "right") - 1))
        cut = int(cuts[np.searchsorted(cuts, target, "right") - 1])
        if cut <= start:
            cut = int(cuts[np.searchsorted(cuts, start, "right")])
        yield _slice_cols(cols, start, cut, np)
        start = cut


def _slice_cols(cols: dict, a: int, b: int, np) -> dict:
    out = {}
    if "pos_len" in cols:
        pcum = np.concatenate([[0], np.cumsum(cols["pos_len"])])
        out["pos_flat"] = cols["pos_flat"][pcum[a]:pcum[b]]
    for k, v in cols.items():
        if k != "pos_flat":
            out[k] = v[a:b]
    return out


def _encode_np(cols: dict, avgdl: float, np, pa, n_buckets: int, slice_docs: int):
    """One frame of partition-sorted rows -> an Arrow RecordBatch of blocks
    (same math as :func:`_encode_frame`, Arrow-native output). Blocks tile
    each varint buffer exactly (every row's bytes belong to exactly one
    block, in order), so a binary column's offsets are just the block
    starts plus the total length."""
    from ..functions.bm25 import tfnorm_np
    from ..functions.codec import varint_encode_with_lengths

    terms = cols["term_id"].astype(np.int64)
    n_rows = terms.size
    docs = cols["doc_id"].astype(np.int64)
    tfs = cols["tf"].astype(np.int64)
    dls = cols["doclen"].astype(np.int64)
    bstarts, bends = _block_bounds(_run_starts(terms, docs, slice_docs), n_rows)
    n_blocks = bstarts.size

    gaps = np.empty(n_rows, dtype=np.uint64)
    gaps[1:] = np.diff(docs).astype(np.uint64)
    gaps[bstarts] = docs[bstarts].astype(np.uint64)
    tfn = tfnorm_np(tfs.astype(np.float64), dls.astype(np.float64), avgdl)

    def bin_col(buf, lens, row_starts):
        ends = np.cumsum(lens)
        offs = np.empty(n_blocks + 1, dtype=np.int32)
        offs[:-1] = (ends - lens)[row_starts]
        offs[-1] = ends[-1] if ends.size else 0
        return pa.BinaryArray.from_buffers(
            pa.binary(), n_blocks, [None, pa.py_buffer(offs), pa.py_buffer(buf)]
        )

    arrays = [
        pa.array(_buckets_np(terms[bstarts], n_buckets, np), pa.int32()),
        pa.array(terms[bstarts], pa.int64()),
        pa.array(docs[bstarts], pa.int64()),
        pa.array((bends - bstarts).astype(np.int32), pa.int32()),
        pa.array(docs[bstarts], pa.int64()),
        pa.array(docs[bends - 1], pa.int64()),
        pa.array(np.maximum.reduceat(tfs, bstarts).astype(np.int32), pa.int32()),
        pa.array(
            np.nextafter(
                np.maximum.reduceat(tfn, bstarts).astype(np.float32),
                np.float32(np.inf),
            ),
            pa.float32(),
        ),
        bin_col(*varint_encode_with_lengths(gaps), bstarts),
        bin_col(*varint_encode_with_lengths(tfs.astype(np.uint64)), bstarts),
        bin_col(*varint_encode_with_lengths(dls.astype(np.uint64)), bstarts),
    ]
    names = ["bucket", "term_id", "block_id", "n", "first_doc", "last_doc",
             "max_tf", "block_max_tfn", "doc_ids", "tfs", "dls"]
    if "pos_len" in cols:
        lens = cols["pos_len"]
        flat_pos = cols["pos_flat"].astype(np.int64)
        flat_row = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
        order = np.lexsort((flat_pos, flat_row))
        flat_pos = flat_pos[order]
        pcum = np.concatenate([[0], np.cumsum(lens)])
        pgaps = np.empty(flat_pos.size, dtype=np.uint64)
        pgaps[1:] = (flat_pos[1:] - flat_pos[:-1]).astype(np.uint64)
        heads = pcum[:-1]
        pgaps[heads] = flat_pos[heads].astype(np.uint64)
        arrays.append(bin_col(*varint_encode_with_lengths(pgaps), pcum[bstarts]))
        names.append("poss")
    return pa.RecordBatch.from_arrays(arrays, names)


def refuse_speculation(spark) -> None:
    """The direct writers (:func:`tf_docstats_direct`,
    :func:`build_postings`) publish their files by rename, outside Spark's
    output committer, so nothing arbitrates between two live attempts of
    one task. Refuse to run them under ``spark.speculation``. Reads the one
    key through the session conf (``sparkContext.getConf()`` would copy the
    whole SparkConf through py4j)."""
    on = spark.conf.get("spark.speculation", "false")
    if str(on).strip().lower() == "true":
        raise RuntimeError(
            "spark.speculation=true: the index build writes its tf and "
            "postings files directly, outside Spark's output committer, and "
            "cannot arbitrate between speculative task attempts; run the "
            "build with spark.speculation=false"
        )


def slice_docs_for(n_docs: int | None, partitions: int) -> int:
    """Docs per doc-range slice of the posting shuffle: ~4 slices per
    partition's worth of docs, never below one block, so a term's postings
    split into doc-contiguous slices (1 << 20 when the doc count is
    unknown)."""
    if n_docs:
        return max(BLOCK_SIZE, n_docs // (partitions * 4) + 1)
    return 1 << 20


def postings_input(
    tf: DataFrame,
    terms: DataFrame,
    n_buckets: int = N_BUCKETS,
    partitions: int | None = None,
    n_docs: int | None = None,
    bucket_mod: tuple[int, int] | None = None,
    doc_id_range: tuple[int, int] | None = None,
    n_terms: int | None = None,
) -> tuple[DataFrame, int]:
    """The encoder's input rows and their slice width: (term_id, doc_id,
    doclen, tf[, positions]) hash-partitioned on (bucket, doc-range slice)
    and sorted (bucket, term_id, doc_id) within each partition.

    ``bucket_mod=(g, G)`` restricts the rows to buckets with
    ``bucket % G == g`` (the per-bucket-group resume path in
    ``plans/build.py``). Because partition assignment is
    ``hash(bucket, slice)`` and the sort is total, a group's blocks are
    byte-identical to the same buckets' blocks from a full build.

    Partitioning: HASH on (bucket, doc-range slice), then sort within
    partitions. Versus repartitionByRange this (a) skips the range-sampler's
    extra full pass over tf, (b) makes partition assignment — and therefore
    block boundaries — fully deterministic (resume => byte-identical
    segments), and (c) still splits hot terms across tasks: a term's
    postings spread over ``ceil(n_docs / slice)`` doc-contiguous slices, so
    block doc-ranges stay disjoint per term (the WAND pruning invariant).
    """
    spark = tf.sparkSession
    partitions = partitions or spark.sparkContext.defaultParallelism
    slice_docs = slice_docs_for(n_docs, partitions)
    # the dictionary ships as a broadcast only while its size is known and
    # within the doc-id join-back's cap; otherwise (a ~1e8-term vocabulary
    # would be GBs) the planner chooses the join
    term_ids = terms.select("term", "term_id")
    if n_terms is not None and n_terms <= docids.BROADCAST_IDS_MAX_ROWS:
        term_ids = F.broadcast(term_ids)
    keyed = tf.join(term_ids, "term")
    # bucket stays an EXPRESSION end to end (r6): it is derivable from
    # term_id (pmod(xxhash64, B)), so materializing it as a column only
    # added 8 bytes/row to the build's biggest exchange, the partition
    # sort, and the JVM->Python Arrow IPC — the encode kernel recomputes
    # it per BLOCK with the Spark-parity vectorized XXH64 (_buckets_np).
    # The cast to long before hashing keeps the hashed VALUE identical
    # after the int32 narrowing below, so partition assignment — and with
    # it resume byte-identity — is unchanged.
    # The expression and the id columns are built once and reused: each
    # Column costs py4j round trips (~10 ms for the bucket expression).
    term_id, doc_id = F.col("term_id"), F.col("doc_id")
    bucket = F.pmod(F.xxhash64(term_id.cast("long")), F.lit(n_buckets)).cast("int")

    if bucket_mod is not None:
        g, n_groups = bucket_mod
        keyed = keyed.filter(F.pmod(bucket, F.lit(n_groups)) == g)
    pos_cols = ["positions"] if "positions" in tf.columns else []
    # int32 tf/doclen BEFORE the exchange, and the slice key as an
    # EXPRESSION rather than a materialized column: the posting shuffle is
    # the build's biggest data movement (~40 B/row at 10^8+ rows), and it is
    # DRAM-bandwidth-bound — the r4 1M-doc scaling study measured the
    # postings stage at 0.45 efficiency 2->8 while the compute stages ran
    # 0.68-0.73. Narrowing the shuffled row (no slice column, int32 tf/dl)
    # cuts exchange bytes ~40%, which is the lever that actually moves a
    # bandwidth-bound stage. (The same int32 cast also measured -16% on the
    # JVM->Python Arrow IPC. Safe: doclen < 2^31 tokens by the 2 GB string
    # limit; tf <= doclen; the kernel upcasts to int64 before arithmetic.)
    # r5 (VERDICT r04 #1a): when the caller can PROVE the id spaces fit
    # int32 — doc_id via the docstats footers' min/max statistics (no
    # job), term_id via the dictionary size (term_id is
    # the rank of term, so max = n_terms-1) — both ids narrow before the
    # exchange too, cutting another ~8 B/row off the in-memory row and
    # (via the zero-byte-heavy padding) the lz4-compressed shuffle stream.
    # The encoder upcasts to int64, so block BYTES are unchanged, and hash
    # partitioning is over the same VALUES, so partition assignment — and
    # resume byte-identity — is unchanged. None = no proof = stay wide.
    doc_expr = doc_id
    if doc_id_range is not None and (
        -(1 << 31) <= doc_id_range[0] and doc_id_range[1] < (1 << 31)
    ):
        doc_expr = doc_id.cast("int")
    term_expr = term_id
    if n_terms is not None and n_terms <= (1 << 31):
        term_expr = term_id.cast("int")
    slice_col = (doc_id / F.lit(slice_docs)).cast("long")
    # bucket-major sort: each task's rows arrive grouped by bucket, so the
    # writer streams one file per (task, bucket), and term_id-sorted within
    # it, so every file's row groups carry tight term_id min/max stats. The
    # slice is NOT a key: a term's non-adjacent slices that hash to the same
    # task interleave in doc order, and the encoder splits runs on a slice
    # change (_run_starts), which keeps blocks within one slice (J7).
    sort_keys = [bucket, term_id, doc_id]
    # when the caller PROVES the id spaces are non-negative and narrow
    # (same proofs as the int32 narrowing), the 3-key sort collapses into
    # ONE packed non-negative long key with the same lexicographic order —
    # a single LongType ordering is exactly what lets Spark's Tungsten sort
    # take the 8-byte-prefix RADIX path instead of the 3-comparator
    # interpreted path. Order is identical (disjoint bit fields, all
    # non-negative), so block boundaries and bytes are unchanged.
    if (
        doc_id_range is not None
        and doc_id_range[0] >= 0
        and n_terms is not None
        and n_terms >= 1
    ):
        b_d = max(int(doc_id_range[1]).bit_length(), 1)
        b_t = max(int(n_terms - 1).bit_length(), 1)
        b_b = max(int(n_buckets - 1).bit_length(), 1)
        if b_b + b_t + b_d <= 62:
            sort_keys = [
                bucket.cast("long") * F.lit(1 << (b_t + b_d))
                + term_id.cast("long") * F.lit(1 << b_d)
                + doc_id.cast("long")
            ]
    rows = (
        keyed.select(
            term_expr.alias("term_id"),
            doc_expr.alias("doc_id"),
            F.col("doclen").cast("int").alias("doclen"),
            F.col("tf").cast("int").alias("tf"),
            *pos_cols,
        )
        .repartition(partitions, bucket, slice_col)
        .sortWithinPartitions(*sort_keys)
    )
    return rows, slice_docs


def build_postings(
    tf: DataFrame,
    terms: DataFrame,
    avgdl: float,
    out_dir: str,
    n_buckets: int = N_BUCKETS,
    partitions: int | None = None,
    n_docs: int | None = None,
    bucket_mod: tuple[int, int] | None = None,
    doc_id_range: tuple[int, int] | None = None,
    n_terms: int | None = None,
) -> list[dict]:
    """tf (term, doc_id, doclen, tf) -> compressed posting blocks, written
    by the encode kernel itself as ``<out_dir>/bucket=<b>/part-<pid>-...``
    (one parquet file per task and bucket). Runs one Spark job; returns one
    dict per file written, with the keys of a manifest entry (bucket, file,
    n_blocks, tid_min, tid_max). See :func:`postings_input` for the
    partitioning and ``bucket_mod``."""
    refuse_speculation(tf.sparkSession)
    rows, slice_docs = postings_input(
        tf, terms, n_buckets, partitions, n_docs=n_docs, bucket_mod=bucket_mod,
        doc_id_range=doc_id_range, n_terms=n_terms,
    )
    files = rows.mapInArrow(
        _write_partition_arrow(avgdl, n_buckets, slice_docs, out_dir),
        schema=POSTING_FILES_SCHEMA,
    )
    return [r.asDict() for r in files.collect()]


def decode_postings_positional(blocks: DataFrame) -> DataFrame:
    """Positional blocks -> (term_id, doc_id, tf, doclen, positions). The
    per-posting position count IS tf, so the positions stream splits with no
    extra metadata."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions.codec import decode_doc_gaps, decode_positions, decode_tfs

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = [decode_doc_gaps(b) for b in pdf["doc_ids"]]
            tfs = [decode_tfs(b) for b in pdf["tfs"]]
            dls = [decode_tfs(b) for b in pdf["dls"]]
            poss = []
            for braw, btf in zip(pdf["poss"], tfs):
                vals = decode_positions(braw, btf).astype(np.int32)
                poss.extend(vals[e - t:e] for t, e in zip(btf, np.cumsum(btf)))
            reps = np.array([len(x) for x in ids])
            yield pd.DataFrame(
                {
                    "term_id": np.repeat(pdf["term_id"].to_numpy(), reps),
                    "doc_id": np.concatenate(ids),
                    "tf": np.concatenate(tfs),
                    "doclen": np.concatenate(dls),
                    "positions": poss,
                }
            )

    return blocks.mapInPandas(
        fn,
        schema="term_id long, doc_id long, tf long, doclen long, positions array<int>",
    )


def decode_postings(blocks: DataFrame) -> DataFrame:
    """Compressed blocks -> (term_id, doc_id, tf, tfn) rows; distributed,
    no grouping. Used by the exact query path and by index-verification."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions.codec import decode_doc_gaps, decode_tfs

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = [decode_doc_gaps(b) for b in pdf["doc_ids"]]
            tfs = [decode_tfs(b) for b in pdf["tfs"]]
            dls = [decode_tfs(b) for b in pdf["dls"]]
            reps = np.array([len(x) for x in ids])
            yield pd.DataFrame(
                {
                    "term_id": np.repeat(pdf["term_id"].to_numpy(), reps),
                    "doc_id": np.concatenate(ids) if ids else np.empty(0, np.int64),
                    "tf": np.concatenate(tfs) if tfs else np.empty(0, np.int64),
                    "doclen": np.concatenate(dls) if dls else np.empty(0, np.int64),
                }
            )

    return blocks.mapInPandas(fn, schema="term_id long, doc_id long, tf long, doclen long")
