"""Round-4 serving-tier + segmented-feature tests (VERDICT r03 #2,#3,#4,#6,#7):

- persisted-IVF probe fetch is pruned (id-sorted sidecar, executed-file
  evidence) and accepts caller-supplied probe vectors
- driver-side topk serving (manifest + direct parquet + same kernel) is
  rank-identical to the Spark paths and runs zero Spark jobs
- serve-mode autocomplete expands driver-side (no dictionary scan at all)
- segmented filtered/boolean/phrase queries equal the single index's
- every served mode equals the unserved Spark plan of a fresh handle
- positional streaming segments serve phrase search, through compaction
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from geocoderpl_spark.plans.build import InvertedIndex, build_index
from geocoderpl_spark.sources.corpus import synth_corpus

N_DOCS = 500


@pytest.fixture(scope="module")
def sidx(spark, tmp_path_factory):
    """Positional single index over an explicit-doc_id corpus + the same
    corpus as a DataFrame (doc_id, content)."""
    out = str(tmp_path_factory.mktemp("sidx"))
    docs = (
        synth_corpus(spark, N_DOCS)
        .withColumn("doc_id", F.xxhash64("path"))  # arbitrary unique ids
        .select("doc_id", "content")
        .cache()
    )
    idx = build_index(spark, docs, out, n_buckets=8, partitions=8,
                      id_col="doc_id", positional=True)
    return idx, docs


@pytest.fixture(scope="module")
def segidx(spark, sidx, tmp_path_factory):
    """The SAME corpus split into 3 positional segments (doc_id mod 3) —
    doc spaces align with the single index, so results are comparable."""
    from geocoderpl_spark.streaming.incremental import SegmentedIndex

    _, docs = sidx
    root = str(tmp_path_factory.mktemp("segidx"))
    for i in range(3):
        part = docs.filter(F.pmod("doc_id", F.lit(3)) == i)
        build_index(spark, part, os.path.join(root, f"seg_{i:05d}"),
                    n_buckets=8, partitions=8, id_col="doc_id", positional=True)
    return SegmentedIndex(spark, root)


QUERIES = [
    (0, "term_0001 term_0002", 10),
    (1, "the_hot_term term_0500", 10),
    (2, "camelCaseFoo", 5),
    (3, "totally_unknown_term", 10),
    (4, "term_4999 term_0003", 10),
]


def _qdf(spark):
    return spark.createDataFrame(QUERIES, "query_id long, query_text string, k int")


# ---------------------------------------------------------------------------
# IVF probe-fetch pruning
# ---------------------------------------------------------------------------


def test_ivf_probe_fetch_pruned(spark, tmp_path):
    from geocoderpl_spark.plans.ann_index import build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = build_ivf_index(spark, emb, str(tmp_path / "ivf"), dim=64)
    ids = idx.ids
    assert ids is not None, "id-sorted sidecar missing"

    probes = [0, 1, 2, 3, 4]
    # executed-file evidence (inputFiles() ignores pushdown): the probe
    # fetch reads ONLY sidecar files, and only the ones whose sorted id
    # range covers the probes — never the list_id partition dirs
    scan = ids.filter(F.col("vec_id").isin(probes))
    opened = {r[0] for r in scan.select(F.input_file_name()).distinct().collect()}
    assert opened and all("/ids/" in f for f in opened)
    assert not any("list_id=" in f for f in opened)
    all_files = {r[0] for r in ids.select(F.input_file_name()).distinct().collect()}
    if len(all_files) > 1:  # sorted layout -> low ids live in few files
        assert len(opened) < len(all_files)

    # _fetch_probes goes through the sidecar and returns the right vectors
    got = idx._fetch_probes(probes)
    want = {r["vec_id"]: list(r["embedding"]) for r in
            emb.filter(F.col("vec_id").isin(probes)).collect()}
    assert got == want

    # caller-supplied probe vectors skip the fetch and match the fetch path
    a = sorted(tuple(r) for r in idx.topk(probes, k=5).collect())
    b = sorted(tuple(r) for r in idx.topk(probes, k=5, probe_vecs=want).collect())
    assert a == b and len(a) == 25


def test_ivf_append_and_rebuild_policy(spark, tmp_path):
    """IVF maintenance (VERDICT r03 missing #4): frozen-quantizer append is
    equivalent to a from-scratch build over the union when the appended ids
    don't disturb the centroid sample; uncommitted appends are invisible;
    the re-quantization gauge and rebuild work."""
    import os as _os

    from geocoderpl_spark.plans.ann_index import IvfIndex, build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)
    root = str(tmp_path / "ivf_base")
    idx = build_ivf_index(spark, base, root, dim=64)
    idx2 = idx.append_vectors(extra)
    assert len(idx2._appends) == 1

    # centroid sample = 16 smallest ids (< 400 on both sides) -> a fresh
    # build over the union has the SAME quantizer -> identical results,
    # including probes that live in the appended segment
    full = build_ivf_index(spark, emb, str(tmp_path / "ivf_full"), dim=64)
    probes = [0, 1, 450, 499]
    a = sorted(tuple(r) for r in idx2.topk(probes, k=5).collect())
    b = sorted(tuple(r) for r in full.topk(probes, k=5).collect())
    assert a == b and len(a) == 20

    # probe fetch resolves appended ids through the append sidecars
    got = idx2._fetch_probes([450])
    assert list(got) == [450]

    # crash-safety: a dir without _COMMIT is invisible to readers
    _os.makedirs(_os.path.join(root, "appends", "app_90000", "vectors"))
    assert len(IvfIndex.load(spark, root)._appends) == 1

    # re-quantization pressure gauge + major compaction
    frac = idx2.appended_fraction()
    assert frac > 0
    assert idx2.needs_rebuild(threshold=frac / 2)
    assert not idx2.needs_rebuild(threshold=frac * 2)
    rb = idx2.rebuild(str(tmp_path / "ivf_rb"))
    c = sorted(tuple(r) for r in rb.topk(probes, k=5).collect())
    assert c == b  # fresh quantizer over the union == the from-scratch build


# ---------------------------------------------------------------------------
# driver-side serving tier
# ---------------------------------------------------------------------------


def test_topk_local_rank_identical_and_jobless(spark, sidx):
    from geocoderpl_spark.operators.topk import MAX_BLOCKS_PER_TERM, _hot_df_threshold
    from geocoderpl_spark.plans.serving import topk_local_multi

    idx, _ = sidx
    idx.serve()
    assert idx._sources and idx._sources[0].reader.entries, "manifest-backed local reader missing"

    exact = (
        idx.topk(_qdf(spark), mode="exact")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    served = (
        idx.topk(_qdf(spark), mode="pruned")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert served.equals(exact)

    # the local computation itself runs ZERO Spark jobs
    qrows = _qdf(spark).collect()
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    res, spark_qids = topk_local_multi(
        idx._sources, qrows, idx.n_docs, idx.avgdl,
        _hot_df_threshold(MAX_BLOCKS_PER_TERM),
    )
    after = tracker.getJobIdsForGroup(None)
    assert list(before) == list(after), "local serving ran a Spark job"
    assert spark_qids == []  # nothing hot in this corpus at the default cap
    got = res.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(exact.doc_id)
    assert list(got.score) == list(exact.score)


def test_topk_local_tiny_cache_degrades_not_crashes(spark, sidx):
    """A block cache smaller than one query's working set must degrade to
    read-through (results unchanged), never evict mid-query and KeyError."""
    from geocoderpl_spark.operators.topk import MAX_BLOCKS_PER_TERM, _hot_df_threshold
    from geocoderpl_spark.plans.serving import (
        LocalBlockReader,
        ServingSource,
        topk_local_multi,
    )

    idx, _ = sidx
    idx.serve()
    (src,) = idx._sources
    tiny = LocalBlockReader(
        idx.root, idx.n_buckets, src.reader.entries, max_cached_blocks=1
    )
    res, spark_qids = topk_local_multi(
        [ServingSource(tiny, src.term_lookup)], _qdf(spark).collect(),
        idx.n_docs, idx.avgdl, _hot_df_threshold(MAX_BLOCKS_PER_TERM),
    )
    assert spark_qids == []
    exact = (
        idx.topk(_qdf(spark), mode="exact")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    got = res.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(exact.doc_id)


def test_topk_local_hot_routes_to_spark(spark, sidx):
    """A term whose df exceeds the serving cap must route its query to the
    distributed path — and the end-to-end result stays rank-identical."""
    idx, _ = sidx
    idx.serve()
    exact = (
        idx.topk(_qdf(spark), mode="exact")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    from geocoderpl_spark.plans.serving import topk_local_multi

    res, spark_qids = topk_local_multi(
        idx._sources, _qdf(spark).collect(),
        idx.n_docs, idx.avgdl, hot_df=10,  # absurdly low cap: everything hot
    )
    assert len(res) == 0
    assert set(spark_qids) == {0, 1, 2, 4}  # qid 3 is all-unknown -> empty

    served = (
        idx.topk(_qdf(spark), mode="pruned")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert served.equals(exact)


def test_autocomplete_serve_mode_no_dictionary_scan(spark, sidx):
    """Serve-mode autocomplete never touches the terms table: the prefix
    expansion is a bisect over the pinned vocabulary and the expanded batch
    answers in-process, so a call over a local query relation runs no Spark
    job at all, and its results equal the pushed-range expansion of an
    unserved handle."""
    from geocoderpl_spark.session import local_frame

    idx, _ = sidx
    idx.serve()
    q = local_frame(
        spark,
        [(0, "term_00", 10), (1, "term_0001 camelCase", 10),
         (2, "term_0001 ", 10), (3, "zzz_nothing", 5)],
        "query_id long, query_text string, k int",
    )
    dist = InvertedIndex.load(spark, idx.root).autocomplete(
        q, max_expansions=5,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    api = _no_jobs(spark, lambda: idx.autocomplete(q, max_expansions=5))
    assert idx._sorted_terms is not None
    assert _sorted_pdf(api).equals(dist) and len(dist) > 0


# ---------------------------------------------------------------------------
# segmented feature parity
# ---------------------------------------------------------------------------


def test_segments_have_manifests(segidx):
    for s in segidx.segments():
        assert s._manifest_scan() is not None, f"segment {s.root} lacks a manifest"


def test_segment_manifest_scan_prunes_files(spark, segidx):
    """The per-segment manifest scan opens ONLY manifest-selected files
    (VERDICT r03 #5): executed-file evidence on one segment, one term."""
    from geocoderpl_spark.plans.manifest import load_postings_manifest, select_files

    s = segidx.segments()[0]
    tid = s.terms.filter(F.col("term") == "term_0001").collect()[0]["term_id"]
    entries = load_postings_manifest(s.root)
    assert entries
    want = {f for f in select_files(entries, [tid], s.n_buckets)}
    scan = s._manifest_scan()([tid])
    opened = {r[0].split("/postings/")[1] for r in
              scan.select(F.input_file_name()).distinct().collect()}
    assert opened and opened <= want
    all_files = {e["file"] for e in entries}
    assert len(want) < len(all_files)  # the manifest cut is a real cut


def test_segmented_topk_filtered_matches_single(spark, sidx, segidx):
    idx, docs = sidx
    # facet: doc_id odd (a metadata predicate over the doc space)
    allowed = docs.select("doc_id").filter(F.pmod("doc_id", F.lit(2)) == 1)
    single = idx.topk_filtered(_qdf(spark), allowed).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    seg = segidx.topk_filtered(_qdf(spark), allowed).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert seg.equals(single)
    assert len(single) > 0


BOOL_QUERIES = [
    (0, "term_0001 term_0002", "the_hot_term", 10),
    (1, "the_hot_term", "", 10),
    (2, "term_0001 zz_unknown", "", 10),   # unknown must -> unsatisfiable
    (3, "", "term_0001", 5),               # empty must -> 0 rows
    (4, "camelCaseFoo term_0003", "term_4999 zz_unknown", 10),
]


def test_segmented_boolean_matches_single(spark, sidx, segidx):
    idx, _ = sidx
    q = spark.createDataFrame(
        BOOL_QUERIES, "query_id long, must string, must_not string, k int"
    )
    single = idx.topk_boolean(q).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    seg = segidx.topk_boolean(q).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert seg.equals(single)
    assert len(single) > 0
    assert not set(single.query_id) & {2, 3}  # unsatisfiable/empty musts


def test_segmented_phrase_matches_single(spark, sidx, segidx):
    idx, _ = sidx
    p = spark.createDataFrame(
        [(0, "term_0001 term_0002"), (1, "the_hot_term the_hot_term"),
         (2, "camelCaseFoo"), (3, "term_0001 zz_unknown")],
        "query_id long, phrase_text string",
    )
    single = InvertedIndex.load(spark, idx.root).phrase(p, k=10).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    seg = segidx.phrase(p, k=10).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert seg.equals(single)
    assert len(single) > 0


def test_segmented_autocomplete_matches_single(spark, sidx, segidx):
    """LSM autocomplete parity: global-df expansion over the segments'
    dictionaries equals the merged single-index expansion exactly."""
    idx, _ = sidx
    q = spark.createDataFrame(
        [(0, "term_00", 10), (1, "term_0001 camelCase", 10),
         (2, "term_0001 ", 10), (3, "zzz_nothing", 5)],
        "query_id long, query_text string, k int",
    )
    single = InvertedIndex.load(spark, idx.root).autocomplete(
        q, max_expansions=5,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    seg = segidx.autocomplete(q, max_expansions=5).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert seg.equals(single)
    assert len(single) > 0


def test_segmented_batch_fallback_matches_driver_path(spark, segidx, monkeypatch):
    """Query batches past MAX_DRIVER_QUERIES take the fully-distributed
    union-decode plan — results identical to the driver-gated plan."""
    driver = segidx.topk(_qdf(spark)).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    monkeypatch.setattr(type(segidx), "MAX_DRIVER_QUERIES", 2)
    dist = segidx.topk(_qdf(spark)).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert dist.equals(driver)
    assert len(driver) > 0


# ---------------------------------------------------------------------------
# positional streaming segments (build -> phrase -> compaction)
# ---------------------------------------------------------------------------


def test_positional_streaming_segments(spark, tmp_path):
    from geocoderpl_spark.operators.textstats import phrase_match
    from geocoderpl_spark.streaming.incremental import (
        SegmentedIndex,
        compact_segments,
        start_incremental_indexer,
    )

    schema = ("repo string, path string, commit string, lang string, "
              "content string, sha256 string")
    stream_dir, index_root = str(tmp_path / "in"), str(tmp_path / "idx")
    os.makedirs(stream_dir)
    corpus = synth_corpus(spark, 200).cache()
    import glob
    import shutil

    for i in range(2):
        part = corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == i)
        part.coalesce(1).write.mode("overwrite").parquet(f"{stream_dir}/d{i}.tmp")
        f = glob.glob(f"{stream_dir}/d{i}.tmp/*.parquet")[0]
        shutil.move(f, f"{stream_dir}/drop_{i}.parquet")
        shutil.rmtree(f"{stream_dir}/d{i}.tmp")
    q = start_incremental_indexer(
        spark, stream_dir, index_root, schema, content_col="content",
        max_files_per_trigger=1, positional=True,
    )
    q.awaitTermination(300)

    seg = SegmentedIndex(spark, index_root)
    segs = seg.segments()
    assert len(segs) == 2 and all(s.positional for s in segs)

    p = spark.createDataFrame(
        [(0, "term_0001 term_0002"), (1, "the_hot_term the_hot_term")],
        "query_id long, phrase_text string",
    )
    want = phrase_match(
        corpus.withColumn("doc_id", F.xxhash64("path")), p, k=10,
        text_col="content", id_col="doc_id",
    )
    # corpus-scan oracle needs the SAME doc ids the indexer assigned: join
    # occurrence counts by content instead — simpler: compare n_matches
    # multisets per query (doc ids differ between scan and stream builds)
    got = seg.phrase(p, k=10).toPandas()
    scan = want.toPandas()
    for qid in (0, 1):
        g = sorted(got[got.query_id == qid].n_matches)
        s = sorted(scan[scan.query_id == qid].n_matches)
        assert g == s, qid
    assert len(got) > 0

    # compaction preserves the positional property and the results
    assert compact_segments(spark, index_root, max_segments=1, n_buckets=16)
    seg2 = SegmentedIndex(spark, index_root)
    merged = seg2.segments()
    assert len(merged) == 1 and merged[0].positional
    got2 = seg2.phrase(p, k=10).toPandas()
    assert sorted(map(tuple, got2.values.tolist())) == sorted(
        map(tuple, got.values.tolist())
    )


# ---------------------------------------------------------------------------
# round-5 serve-mode surface (VERDICT r04 #4/#5/#6)
# ---------------------------------------------------------------------------


def _no_jobs(spark, fn):
    """Assert fn() launches ZERO Spark jobs; returns its result."""
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = fn()
    after = tracker.getJobIdsForGroup(None)
    assert list(before) == list(after), "serve path ran a Spark job"
    return out


def _sorted_pdf(df, cols=("query_id", "rank")):
    return df.toPandas().sort_values(list(cols)).reset_index(drop=True)


def test_boolean_serve_matches_distributed_and_jobless(spark, sidx):
    from geocoderpl_spark.operators.topk import (
        MAX_BLOCKS_PER_TERM,
        _hot_df_threshold,
    )
    from geocoderpl_spark.plans.serving import boolean_local

    idx, _ = sidx
    idx.serve()
    q = spark.createDataFrame(
        BOOL_QUERIES, "query_id long, must string, must_not string, k int"
    )
    dist = _sorted_pdf(InvertedIndex.load(spark, idx.root).topk_boolean(q))
    served = _sorted_pdf(idx.topk_boolean(q))
    assert served.equals(dist) and len(dist) > 0
    qrows = q.collect()
    res, spark_qids = _no_jobs(spark, lambda: boolean_local(
        idx._sources, qrows, idx.n_docs, idx.avgdl,
        _hot_df_threshold(MAX_BLOCKS_PER_TERM),
    ))
    assert spark_qids == []
    got = res.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(dist.doc_id)
    assert list(got.score) == list(dist.score)


def test_filtered_serve_matches_distributed_and_jobless(spark, sidx):
    import numpy as np

    from geocoderpl_spark.operators.topk import (
        MAX_BLOCKS_PER_TERM,
        _hot_df_threshold,
    )
    from geocoderpl_spark.plans.serving import filtered_topk_local

    idx, docs = sidx
    idx.serve()
    allowed = docs.select("doc_id").filter(F.pmod("doc_id", F.lit(2)) == 0)
    dist = _sorted_pdf(
        InvertedIndex.load(spark, idx.root).topk_filtered(_qdf(spark), allowed)
    )
    served = _sorted_pdf(idx.topk_filtered(_qdf(spark), allowed))
    assert served.equals(dist) and len(dist) > 0
    qrows = _qdf(spark).collect()
    aids = np.array([r["doc_id"] for r in allowed.collect()], dtype=np.int64)
    res, spark_qids = _no_jobs(spark, lambda: filtered_topk_local(
        idx._sources, qrows, idx.n_docs, idx.avgdl,
        _hot_df_threshold(MAX_BLOCKS_PER_TERM), aids,
    ))
    assert spark_qids == []
    got = res.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(dist.doc_id)
    assert list(got.score) == list(dist.score)


PHRASES = [
    (0, "term_0001 term_0002"),
    (1, "the_hot_term the_hot_term"),
    (2, "camelCaseFoo"),
    (3, "term_0001 zz_unknown"),
]


def test_phrase_serve_matches_distributed_and_jobless(spark, sidx):
    from geocoderpl_spark.plans.serving import phrase_local

    idx, _ = sidx
    idx.serve()
    p = spark.createDataFrame(PHRASES, "query_id long, phrase_text string")
    dist = _sorted_pdf(InvertedIndex.load(spark, idx.root).phrase(p, k=10))
    served = _sorted_pdf(idx.phrase(p, k=10))
    assert served.equals(dist) and len(dist) > 0
    prows = p.collect()
    res, spark_qids = _no_jobs(spark, lambda: phrase_local(
        idx._sources, prows, k=10
    ))
    assert spark_qids == []
    got = res.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(dist.doc_id)
    assert list(got.n_matches) == list(dist.n_matches)


def test_snippets_serve_matches_distributed(spark, sidx, tmp_path_factory):
    from geocoderpl_spark.operators.textstats import snippets as snippets_op

    idx, docs = sidx
    docs_path = str(tmp_path_factory.mktemp("snipdocs") / "docs.parquet")
    docs.write.mode("overwrite").parquet(docs_path)
    idx.serve(docs_source=docs_path, docs_text_col="content")
    q = _qdf(spark)
    dist = _sorted_pdf(
        snippets_op(docs, q, idx.topk(q, mode="pruned"), width=5,
                    text_col="content"),
        cols=("query_id", "rank", "doc_id"),
    )
    served = _sorted_pdf(idx.snippets(q, width=5),
                         cols=("query_id", "rank", "doc_id"))
    assert list(served.doc_id) == list(dist.doc_id)
    assert list(served.first_pos) == list(dist.first_pos)
    assert list(served.snippet) == list(dist.snippet)
    assert len(dist) > 0


def test_served_batch_guard_routes_distributed(spark, sidx, monkeypatch):
    """A served index must route a batch-scale query set to the distributed
    pruned plan, never a driver loop (ADVICE r04)."""
    idx, _ = sidx
    idx.serve()
    exact = _sorted_pdf(idx.topk(_qdf(spark), mode="exact"))
    monkeypatch.setattr(InvertedIndex, "MAX_DRIVER_QUERIES", 2)
    routed = _sorted_pdf(idx.topk(_qdf(spark), mode="pruned"))
    assert routed.equals(exact)


def test_segmented_serve_rank_identical_and_jobless(spark, sidx, segidx):
    from geocoderpl_spark.operators.topk import (
        MAX_BLOCKS_PER_TERM,
        _hot_df_threshold,
    )
    from geocoderpl_spark.plans.serving import topk_local_multi

    idx, _ = sidx
    exact = _sorted_pdf(idx.topk(_qdf(spark), mode="exact"))
    segidx.serve()
    assert segidx._sources is not None and len(segidx._sources) == 3
    served = _sorted_pdf(segidx.topk(_qdf(spark), mode="pruned"))
    assert served.equals(exact) and len(exact) > 0
    qrows = _qdf(spark).collect()
    n_docs, avgdl = segidx._serve_stats
    res, spark_qids = _no_jobs(spark, lambda: topk_local_multi(
        segidx._sources, qrows, n_docs, avgdl,
        _hot_df_threshold(MAX_BLOCKS_PER_TERM),
    ))
    assert spark_qids == []
    got = res.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(exact.doc_id)
    assert list(got.score) == list(exact.score)


def test_ivf_serve_matches_spark_and_jobless(spark, tmp_path):
    from geocoderpl_spark.plans.ann_index import build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = build_ivf_index(spark, emb, str(tmp_path / "ivf_serve"), dim=64)
    probes = [0, 1, 2, 3, 4]
    spark_res = sorted(tuple(r) for r in idx.topk(probes, k=5).collect())
    idx.serve()
    from geocoderpl_spark.operators.similarity import IVF_NPROBE

    local = _no_jobs(spark, lambda: idx._topk_local(probes, 5, IVF_NPROBE, None))
    assert local is not None
    got = sorted(
        (int(a), int(b), int(c), float(d))
        for a, b, c, d in zip(local["probe_id"], local["rank"],
                              local["vec_id"], local["cos"])
    )
    assert got == spark_res and len(got) == 25
    # end-to-end served call returns the same frame
    e2e = sorted(tuple(r) for r in idx.topk(probes, k=5).collect())
    assert e2e == spark_res


# ---------------------------------------------------------------------------
# round-5 serve-mode edge cases (self-review hardening)
# ---------------------------------------------------------------------------


def test_boolean_serve_must_intersect_must_not(spark, sidx):
    """A token in BOTH must and must_not is an unsatisfiable conjunction —
    served and distributed paths must both return 0 rows for it while the
    healthy query in the same batch still answers."""
    from geocoderpl_spark.operators.topk import (
        MAX_BLOCKS_PER_TERM,
        _hot_df_threshold,
    )
    from geocoderpl_spark.plans.serving import boolean_local

    idx, _ = sidx
    idx.serve()
    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", "term_0001", 10),
         (1, "term_0002", "", 10)],
        "query_id long, must string, must_not string, k int",
    )
    dist = _sorted_pdf(InvertedIndex.load(spark, idx.root).topk_boolean(q))
    assert set(dist.query_id) == {1}
    qrows = q.collect()
    res, spark_qids = _no_jobs(spark, lambda: boolean_local(
        idx._sources, qrows, idx.n_docs, idx.avgdl,
        _hot_df_threshold(MAX_BLOCKS_PER_TERM),
    ))
    assert spark_qids == []
    got = res.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(dist.doc_id)
    assert list(got.score) == list(dist.score)


def test_filtered_serve_empty_allowed(spark, sidx):
    """An empty allowed set filters everything: 0 rows, no error, and the
    serve path still routes nothing to Spark."""
    import numpy as np

    from geocoderpl_spark.operators.topk import (
        MAX_BLOCKS_PER_TERM,
        _hot_df_threshold,
    )
    from geocoderpl_spark.plans.serving import filtered_topk_local

    idx, _ = sidx
    idx.serve()
    qrows = _qdf(spark).collect()
    res, spark_qids = _no_jobs(spark, lambda: filtered_topk_local(
        idx._sources, qrows, idx.n_docs, idx.avgdl,
        _hot_df_threshold(MAX_BLOCKS_PER_TERM),
        np.empty(0, dtype=np.int64),
    ))
    assert spark_qids == [] and len(res) == 0


def test_phrase_serve_nontrivial_repeat(spark, sidx):
    """Repeated-token phrases with a gap ('a b a') exercise the ordinal
    multiplicity counting: the same token's positions participate at two
    different shifts. Served must equal the distributed positional plan."""
    from geocoderpl_spark.plans.serving import phrase_local

    idx, _ = sidx
    idx.serve()
    p = spark.createDataFrame(
        [(0, "term_0001 term_0002 term_0001"),
         (1, "term_0002 term_0002")],
        "query_id long, phrase_text string",
    )
    dist = _sorted_pdf(InvertedIndex.load(spark, idx.root).phrase(p, k=10))
    prows = p.collect()
    res, spark_qids = _no_jobs(spark, lambda: phrase_local(
        idx._sources, prows, k=10,
    ))
    assert spark_qids == []
    got = res.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got.doc_id) == list(dist.doc_id)
    assert list(got.n_matches) == list(dist.n_matches)


# ---------------------------------------------------------------------------
# index metadata through pyarrow footers: no Spark job
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_read_index_dir_matches_inferred_read_jobless(spark, sidx, tmp_path):
    """The footer-schema read gives the inferred read's schema and rows for
    every table dir a build writes (kernel-written tf, its _termstats
    partials, Spark-written docstats and terms, the lineage table, the
    bucket-partitioned postings) — and runs no Spark job."""
    import shutil

    from geocoderpl_spark.plans.manifest import read_index_dir

    idx, _ = sidx
    for sub in ("tf", "tf/_termstats", "docstats", "terms", "lineage", "postings"):
        d = os.path.join(idx.root, sub)
        got = _no_jobs(spark, lambda d=d: read_index_dir(spark, d))
        want = spark.read.parquet(d)
        assert got.schema == want.schema, sub
        assert _rows(got) == _rows(want), sub
    assert "bucket" in read_index_dir(spark, os.path.join(idx.root, "postings")).columns

    # a Spark-written tf (a compaction's rewrite) reads with its own footer
    # columns, which the build's stale-checkpoint check compares to the
    # kernel's
    old = str(tmp_path / "oldtf")
    read_index_dir(spark, os.path.join(idx.root, "tf")).filter(
        F.col("term").isNotNull()
    ).select("term", "doc_id", "doclen", "tf").write.parquet(old)
    got = _no_jobs(spark, lambda: read_index_dir(spark, old))
    assert "sha256" not in got.columns
    assert got.schema == spark.read.parquet(old).schema
    shutil.rmtree(old)


def test_segmented_serve_pins_dictionaries_jobless(spark, segidx, tmp_path):
    """SegmentedIndex.serve() over two segments pins their dictionaries
    without a Spark job; the lookups equal the Spark collect, and the cap
    on the summed vocabulary keeps its meaning: 0 and a cap between the
    first segment's size and the total leave the index unpinned, a cap of
    the total pins it."""
    import shutil

    from geocoderpl_spark.plans.manifest import load_term_lookup
    from geocoderpl_spark.streaming.incremental import SegmentedIndex

    root = str(tmp_path / "two")
    for name in ("seg_00000", "seg_00001"):
        shutil.copytree(os.path.join(segidx.root, name), os.path.join(root, name))
    seg = SegmentedIndex(spark, root)
    segs = seg.segments()
    want = [
        {r["term"]: (r["term_id"], r["df"]) for r in s.terms.collect()} for s in segs
    ]
    sizes = [len(w) for w in want]
    assert len(sizes) == 2 and min(sizes) > 1

    _no_jobs(spark, seg.serve)
    assert [src.term_lookup for src in seg._sources] == want
    assert _no_jobs(spark, lambda: load_term_lookup(segs[0].root, sizes[0])) == want[0]
    assert load_term_lookup(segs[0].root, sizes[0] - 1) is None

    for cap, pinned in ((0, False), (sizes[0] + 1, False), (sum(sizes), True)):
        s = SegmentedIndex(spark, root)
        _no_jobs(spark, lambda s=s, cap=cap: s.serve(max_driver_terms=cap))
        assert (s._sources is not None) == pinned, cap


# ---------------------------------------------------------------------------
# one query engine: every mode over a segment list
# ---------------------------------------------------------------------------


def test_served_segments_answer_every_mode_jobless(spark, sidx, segidx, tmp_path):
    """serve() runs no Spark job for one segment or three, and a served
    SegmentedIndex answers filtered, boolean (with and without a facet),
    phrase and snippets queries in-process: zero Spark jobs over local
    query relations, and the single index's unserved Spark results."""
    from geocoderpl_spark.operators.textstats import snippets as snippets_op
    from geocoderpl_spark.session import local_frame
    from geocoderpl_spark.streaming.incremental import SegmentedIndex

    idx, docs = sidx
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    _no_jobs(spark, idx.serve)  # one segment
    seg = SegmentedIndex(spark, segidx.root)
    _no_jobs(spark, lambda: seg.serve(docs_source=docs_path, docs_text_col="content"))
    assert seg._sources is not None and len(seg._sources) == 3
    q = local_frame(spark, QUERIES, "query_id long, query_text string, k int")
    bq = local_frame(spark, BOOL_QUERIES, "query_id long, must string, must_not string, k int")
    p = local_frame(spark, PHRASES, "query_id long, phrase_text string")
    odd = sorted(r["doc_id"] for r in docs.select("doc_id").collect() if r["doc_id"] % 2)
    allowed = local_frame(spark, [(d,) for d in odd], "doc_id long")
    single = InvertedIndex.load(spark, idx.root)  # unserved: the Spark plans

    got = _no_jobs(spark, lambda: seg.topk_filtered(q, allowed))
    want = single.topk_filtered(q, allowed)
    assert _sorted_pdf(got).equals(_sorted_pdf(want)) and got.count() > 0

    for facet in (None, allowed):
        got = _no_jobs(spark, lambda facet=facet: seg.topk_boolean(bq, allowed_docs=facet))
        want = single.topk_boolean(bq, allowed_docs=facet)
        assert _sorted_pdf(got).equals(_sorted_pdf(want)) and got.count() > 0

    got = _no_jobs(spark, lambda: seg.phrase(p, k=10))
    want = single.phrase(p, k=10)
    assert _sorted_pdf(got).equals(_sorted_pdf(want)) and got.count() > 0

    cols = ("query_id", "rank", "doc_id")
    got = _sorted_pdf(_no_jobs(spark, lambda: seg.snippets(q, width=5)), cols=cols)
    want = _sorted_pdf(snippets_op(docs, q, idx.topk(q, mode="pruned"), width=5,
                                   text_col="content"), cols=cols)
    assert list(got.doc_id) == list(want.doc_id) and len(want) > 0
    assert list(got.first_pos) == list(want.first_pos)
    assert list(got.snippet) == list(want.snippet)


def test_batch_past_cap_stages_nothing_on_driver(spark, sidx, segidx, monkeypatch):
    """Past MAX_DRIVER_QUERIES every segment count takes the distributed
    plan: an unserved pruned, filtered or boolean batch is not tokenized on
    the driver, every segment's posting scan still carries the literal
    term_id prune, and its results equal the driver-staged plan's."""
    import re

    import geocoderpl_spark.functions.tokenize as tokmod
    from geocoderpl_spark.plans.engine import QueryEngine
    from geocoderpl_spark.streaming.incremental import SegmentedIndex

    idx, docs = sidx
    views = [InvertedIndex.load(spark, idx.root), SegmentedIndex(spark, segidx.root)]
    q = spark.createDataFrame(QUERIES[:3], "query_id long, query_text string, k int")
    bq = spark.createDataFrame(BOOL_QUERIES, "query_id long, must string, must_not string, k int")
    allowed = docs.filter(F.pmod("doc_id", F.lit(2)) == 0).select("doc_id")

    def modes(v):
        return v.topk(q, mode="pruned"), v.topk_filtered(q, allowed), v.topk_boolean(bq)

    want = [[_sorted_pdf(df) for df in modes(v)] for v in views]
    calls = []
    real = tokmod.tokenize_py
    monkeypatch.setattr(tokmod, "tokenize_py", lambda text: calls.append(text) or real(text))
    monkeypatch.setattr(QueryEngine, "MAX_DRIVER_QUERIES", 2)
    for v, v_want in zip(views, want):
        for df, w in zip(modes(v), v_want):
            plan = df._jdf.queryExecution().executedPlan().toString()  # before it runs
            scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "doc_ids" in ln]
            assert len(scans) == len(v.segments()), plan
            assert all(re.search(r"term_id#\d+L IN \(", ln) for ln in scans), scans
            assert _sorted_pdf(df).equals(w) and len(w)
    assert calls == []
