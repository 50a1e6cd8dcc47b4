"""End-to-end index build + query correctness vs the brute-force oracle
(FIXTURES.md §§2-3, 5): rank identity, sha256 invariant, boundary cases,
resume, determinism across parallelism."""

from __future__ import annotations

import os
import shutil

import pytest

from geocoderpl_spark.plans.build import InvertedIndex, build_index
from geocoderpl_spark.sources.corpus import synth_corpus
from tests.oracle import bm25_topk_py

N_DOCS = 1000


@pytest.fixture(scope="module")
def corpus_pdf(spark):
    return synth_corpus(spark, N_DOCS).toPandas()


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    corpus = synth_corpus(spark, N_DOCS)
    return build_index(spark, corpus, out, n_buckets=8, partitions=8)


def _docs_dict(spark, index, corpus_pdf):
    # doc_id assignment = rank by (repo, path, commit); replicate in pandas
    pdf = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    pdf["doc_id"] = pdf.index
    return dict(zip(pdf["doc_id"], pdf["content"]))


QUERIES = [
    (0, "term_0001", 10),
    (1, "term_0001 term_0002", 10),
    (2, "the_hot_term", 10),  # hot/skewed term
    (3, "camelCaseFoo snake_case_bar", 10),
    (4, "term_4999", 10),  # rare term
    (5, "totally_unknown_term", 10),  # vocabulary gate -> empty
    (6, "term_0003 totally_unknown_term", 10),  # partial-known
    (7, "term_0001", 1),  # k=1
    (8, "term_0001 the_hot_term term_0500 getUserById", 10000),  # k > corpus
]


@pytest.mark.parametrize("mode", ["exact", "pruned"])
def test_topk_rank_identical_to_oracle(spark, index, corpus_pdf, mode):
    docs = _docs_dict(spark, index, corpus_pdf)
    q = spark.createDataFrame(QUERIES, "query_id long, query_text string, k int")
    got = index.topk(q, mode).toPandas()
    for qid, qtext, k in QUERIES:
        expected = bm25_topk_py(docs, qtext, k)
        sub = got[got.query_id == qid].sort_values("rank")
        assert list(sub.doc_id) == [d for d, _ in expected], (qid, qtext, mode)
        for s_got, (_, s_exp) in zip(sub.score, expected):
            assert abs(s_got - s_exp) <= 1e-6, (qid, qtext, mode)


def test_docstats_sha256_invariant(spark, index, corpus_pdf):
    """input_hint: per-row sha256(content) equality engine vs source."""
    import hashlib

    stats = index.docstats.toPandas().set_index(["repo", "path", "commit"])
    src = corpus_pdf.set_index(["repo", "path", "commit"])
    assert len(stats) == len(src)
    joined = stats.join(src, how="inner", lsuffix="_e")
    assert len(joined) == len(src)
    calc = joined["content"].map(lambda c: hashlib.sha256(c.encode()).hexdigest())
    assert (joined["sha256"] == calc).all()
    assert (joined["sha256"] == joined["sha256_e"]).all() if "sha256_e" in joined else True


def test_doclen_matches_oracle(spark, index, corpus_pdf):
    from tests.oracle import tokenize_py

    docs = _docs_dict(spark, index, corpus_pdf)
    stats = index.docstats.toPandas().set_index("doc_id")
    for d, content in list(docs.items())[:50]:
        assert stats.loc[d, "doclen"] == len(tokenize_py(content))


def test_terms_df_cf_match_oracle(spark, index, corpus_pdf):
    from collections import Counter

    from tests.oracle import tokenize_py

    docs = _docs_dict(spark, index, corpus_pdf)
    dfreq: Counter = Counter()
    cfreq: Counter = Counter()
    for c in docs.values():
        toks = tokenize_py(c)
        cfreq.update(toks)
        dfreq.update(set(toks))
    terms = index.terms.toPandas().set_index("term")
    assert len(terms) == len(dfreq)
    for t in list(dfreq)[:200]:
        assert terms.loc[t, "df"] == dfreq[t]
        assert terms.loc[t, "cf"] == cfreq[t]
    # term_id = dense rank of term string
    srt = terms.sort_values("term_id")
    assert list(srt.index) == sorted(dfreq)


def test_postings_blocks_sorted_and_complete(spark, index):
    from geocoderpl_spark.operators.postings import decode_postings

    rows = decode_postings(index.postings).toPandas()
    terms = index.terms.toPandas()
    # per-term posting count == df
    got_df = rows.groupby("term_id").size()
    exp_df = terms.set_index("term_id")["df"]
    assert got_df.sort_index().equals(exp_df.sort_index().astype(got_df.dtype))
    # doc_ids unique within each term (blocks arrive in arbitrary read order)
    for tid, g in rows.groupby("term_id"):
        d = g["doc_id"].sort_values().to_numpy()
        assert (d[1:] > d[:-1]).all()
    # block ranges per term are disjoint and ordered by block_id
    blocks = index.postings.toPandas().sort_values(["term_id", "block_id"])
    for tid, g in blocks.groupby("term_id"):
        assert (g["first_doc"].to_numpy() == g["block_id"].to_numpy()).all()
        assert (g["first_doc"].to_numpy()[1:] > g["last_doc"].to_numpy()[:-1]).all()


def test_resume_rebuilds_identical_postings(spark, index, tmp_path, monkeypatch):
    """Kill-and-resume (FIXTURES.md §5): wipe the postings stage, rebuild,
    assert identical decoded index; earlier stages are resumed not rebuilt.
    The resumed terms stage's size comes from the footers: no count job."""
    from pyspark.sql import DataFrame

    from geocoderpl_spark.operators.postings import decode_postings
    from geocoderpl_spark.plans.manifest import footer_rows
    from tests.test_serving import _no_jobs

    before = (
        decode_postings(index.postings)
        .toPandas()
        .sort_values(["term_id", "doc_id"])
        .reset_index(drop=True)
    )
    shutil.rmtree(os.path.join(index.root, "postings"))
    corpus = synth_corpus(spark, N_DOCS)
    counted = []
    real_count = DataFrame.count
    monkeypatch.setattr(
        DataFrame, "count", lambda df: counted.append(df) or real_count(df)
    )
    idx2 = build_index(spark, corpus, index.root, n_buckets=8, partitions=8)
    monkeypatch.undo()
    assert counted == []
    terms_dir = os.path.join(index.root, "terms")
    assert _no_jobs(spark, lambda: footer_rows(terms_dir)) == idx2.terms.count() > 0
    after = (
        decode_postings(idx2.postings)
        .toPandas()
        .sort_values(["term_id", "doc_id"])
        .reset_index(drop=True)
    )
    assert before.equals(after)
    import json

    with open(os.path.join(index.root, "metrics", "metrics.jsonl")) as f:
        m = [json.loads(line) for line in f]
    resumed = {r["stage"] for r in m if r["status"] == "resumed"}
    assert {"docstats", "tf", "terms"} <= resumed


def test_build_deterministic_across_parallelism(spark, tmp_path):
    """Same corpus at different partition counts -> same logical index
    (doc_ids, postings). Blocks may split differently; decoded rows equal."""
    from geocoderpl_spark.operators.postings import decode_postings

    a = build_index(spark, synth_corpus(spark, 300), str(tmp_path / "a"), 4, 2)
    b = build_index(spark, synth_corpus(spark, 300), str(tmp_path / "b"), 4, 7)
    ra = decode_postings(a.postings).toPandas().sort_values(["term_id", "doc_id"]).reset_index(drop=True)
    rb = decode_postings(b.postings).toPandas().sort_values(["term_id", "doc_id"]).reset_index(drop=True)
    assert ra.equals(rb)


def test_serve_mode_rank_identical(spark, index):
    """serve() (driver-side dictionary gate + pinned postings) must produce
    the same results as the distributed paths."""
    q = spark.createDataFrame(
        [(0, "term_0001 the_hot_term", 10), (1, "zzz_unknown", 5)],
        "query_id long, query_text string, k int",
    )
    exact = index.topk(q, "exact").toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    index.serve()
    served = index.topk(q, "pruned").toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert served.equals(exact)


def test_serve_big_vocab_skips_driver_collect(spark, index):
    """Above the vocabulary cutover, serve() must NOT collect terms to the
    driver — queries gate through the distributed broadcast join instead,
    with identical results."""
    import geocoderpl_spark.plans.build as build_mod

    fresh = build_mod.InvertedIndex.load(spark, index.root)
    fresh.serve(max_driver_terms=0)  # force the big-vocab path
    assert fresh._sources is None, "big-vocab serve collected the dictionary"
    q = spark.createDataFrame(
        [(0, "term_0001 the_hot_term", 10)], "query_id long, query_text string, k int"
    )
    exact = index.topk(q, "exact").toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    served = fresh.topk(q, "pruned").toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert served.equals(exact)


def test_double_build_byte_identical(spark, tmp_path):
    """Same corpus + same partitions => byte-identical postings (hash
    partitioning, no sampled boundaries anywhere) — FIXTURES.md §5's
    determinism requirement, stronger than decoded-equality."""
    a = build_index(spark, synth_corpus(spark, 400), str(tmp_path / "a"), 8, 4)
    b = build_index(spark, synth_corpus(spark, 400), str(tmp_path / "b"), 8, 4)
    pa = a.postings.toPandas().sort_values(["term_id", "block_id"]).reset_index(drop=True)
    pb = b.postings.toPandas().sort_values(["term_id", "block_id"]).reset_index(drop=True)
    assert pa.equals(pb)  # includes the compressed binary columns


def test_lineage_counts(spark, index):
    lin = spark.read.parquet(os.path.join(index.root, "lineage")).toPandas()
    post = index.postings.toPandas()
    assert int(lin.n_blocks.sum()) == len(post)
    assert int(lin.n_postings.sum()) == int(post.n.sum())


def test_lineage_matches_direct_postings_aggregation(spark, index):
    """r6: lineage is derived from the terms dictionary + manifest footers
    (no postings rescan). It must equal, bucket for bucket, the direct
    aggregation over the written postings it used to be computed from."""
    lin = (
        spark.read.parquet(os.path.join(index.root, "lineage"))
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    from pyspark.sql import functions as F

    direct = (
        index.postings.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("n").alias("n_postings"),
            F.countDistinct("term_id").alias("n_terms"),
        )
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert list(lin.bucket) == list(direct.bucket)
    assert list(lin.n_blocks) == list(direct.n_blocks)
    assert list(lin.n_postings) == list(direct.n_postings)
    assert list(lin.n_terms) == list(direct.n_terms)


def test_query_cache_serves_repeats_without_spark(spark, index):
    """Single-query serving cache (reference res_coords analog): the second
    identical query must come from the cache, not a new Spark job."""
    got1 = index.query("term_0001 term_0002", k=5)
    assert len(got1) == 5 and got1[0][0] == 1
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    got2 = index.query("term_0001 term_0002", k=5)
    after = tracker.getJobIdsForGroup(None)
    assert got2 == got1
    assert before == after, "cache hit ran a Spark job"


def test_autocomplete_prefix_semantics(spark, index, corpus_pdf):
    """Prefix search: (a) '_' in a prefix is literal (startswith, never a
    LIKE wildcard), (b) expansion is capped impact-ordered, (c) trailing
    separator means all-exact, (d) results equal a hand-expanded OR query.
    A fresh handle: the fixture may be served by then, and the unserved
    expansion is the pushed-range dictionary scan."""
    fresh = InvertedIndex.load(spark, index.root)
    terms_pdf = index.terms.toPandas()
    # (a)+(b): 'term_00' must expand ONLY to terms starting 'term_00'
    q = spark.createDataFrame(
        [(0, "term_00", 10)], "query_id long, query_text string, k int"
    )
    got = (
        fresh.autocomplete(q, max_expansions=5)
        .toPandas().sort_values("rank").reset_index(drop=True)
    )
    exp_terms = (
        terms_pdf[terms_pdf.term.str.startswith("term_00")]
        .sort_values(["df", "term"], ascending=[False, True]).head(5)
    )
    # hand-build the equivalent OR query through the exact path
    or_text = " ".join(exp_terms.term) + " "   # trailing sep -> all exact
    q2 = spark.createDataFrame(
        [(0, or_text, 10)], "query_id long, query_text string, k int"
    )
    exp = index.topk(q2, "exact").toPandas().sort_values("rank").reset_index(drop=True)
    assert got.equals(exp)

    # (c) trailing separator: 'term_0001 ' behaves exactly like the plain query
    q3 = spark.createDataFrame(
        [(0, "term_0001 ", 10)], "query_id long, query_text string, k int"
    )
    got3 = fresh.autocomplete(q3).toPandas().sort_values("rank").reset_index(drop=True)
    q4 = spark.createDataFrame(
        [(0, "term_0001", 10)], "query_id long, query_text string, k int"
    )
    exp3 = index.topk(q4, "exact").toPandas().sort_values("rank").reset_index(drop=True)
    assert got3.equals(exp3)


def test_build_identical_across_source_formats(spark, tmp_path):
    """The build is source-format-agnostic: the same corpus via parquet,
    JSONL, and CSV (quoted multiline content) produces byte-identical
    posting blocks."""
    from geocoderpl_spark.sources.readers import read_corpus, write_corpus

    corpus = synth_corpus(spark, 200)
    outs = {}
    for fmt in ("parquet", "jsonl", "csv"):
        src = str(tmp_path / f"src_{fmt}")
        write_corpus(corpus, src, fmt)
        loaded = read_corpus(spark, src, fmt)
        assert loaded.count() == 200
        idx = build_index(spark, loaded, str(tmp_path / f"idx_{fmt}"),
                          n_buckets=4, partitions=4)
        outs[fmt] = (
            idx.postings.toPandas()
            .sort_values(["term_id", "block_id"]).reset_index(drop=True)
        )
    assert outs["parquet"].equals(outs["jsonl"])
    assert outs["parquet"].equals(outs["csv"])  # incl. compressed binaries


def test_positional_index_phrase_equals_corpus_scan(spark, tmp_path):
    """positional=True index: decoded positions round-trip exactly, and the
    index-backed phrase search equals the corpus-scan phrase_match on every
    query (incl. repeated-token and 3-token phrases)."""
    from geocoderpl_spark.operators.postings import decode_postings_positional
    from geocoderpl_spark.operators.textstats import phrase_match
    from geocoderpl_spark.functions.tokenize import tokenize_py

    corpus = synth_corpus(spark, 300)
    idx = build_index(spark, corpus, str(tmp_path / "pidx"), n_buckets=4,
                      partitions=4, positional=True)
    assert idx.positional

    # positions round-trip: engine positions == recomputed token positions
    rows = decode_postings_positional(idx.postings)
    terms = {r.term_id: r.term for r in idx.terms.collect()}
    docs_pdf = corpus.toPandas().sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    sample = rows.limit(500).collect()
    toks_cache = {}
    for r in sample:
        if r.doc_id not in toks_cache:
            toks_cache[r.doc_id] = tokenize_py(docs_pdf.loc[r.doc_id, "content"])
        toks = toks_cache[r.doc_id]
        want = [i + 1 for i, t in enumerate(toks) if t == terms[r.term_id]]
        assert list(r.positions) == want
        assert r.tf == len(want)

    docs = corpus  # phrase ops
    phrases = spark.createDataFrame(
        [(0, "term_0001 term_0002"), (1, "the_hot_term the_hot_term"),
         (2, "camelCaseFoo"), (3, "zz_nope term_0001")],
        "query_id long, phrase_text string",
    )
    from pyspark.sql import functions as F

    # corpus scan needs the index's doc ids: join content through docstats
    scan = phrase_match(
        idx.docstats.select("doc_id", "repo", "path", "commit")
        .join(docs, ["repo", "path", "commit"])
        .select("doc_id", F.col("content").alias("text")),
        phrases,
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    indexed = InvertedIndex.load(spark, idx.root).phrase(phrases).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert indexed.equals(scan), (indexed, scan)


def test_filtered_topk_equals_rerank_of_exhaustive(spark, index):
    """Faceted search invariant: filtered top-k == the exhaustive exact
    ranking (k = everything) post-filtered to the allowed set and re-ranked.
    Global stats on both sides, so scores must be byte-equal."""
    from pyspark.sql import functions as F

    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", 5), (1, "the_hot_term", 7), (2, "zzznope", 5)],
        "query_id long, query_text string, k int",
    )
    allowed = index.docstats.filter(F.col("doc_id") % 3 == 0)
    got = sorted(tuple(r) for r in index.topk_filtered(q, allowed).collect())
    allow = {r["doc_id"] for r in allowed.select("doc_id").collect()}
    assert got and all(r[1] in allow for r in got)

    big = spark.createDataFrame(
        [(0, "term_0001 term_0002", 100000), (1, "the_hot_term", 100000)],
        "query_id long, query_text string, k int",
    )
    ks = {0: 5, 1: 7}
    byq: dict[int, list] = {}
    for r in sorted(
        index.topk(big, "exact").collect(), key=lambda r: (r["query_id"], r["rank"])
    ):
        if r["doc_id"] in allow:
            byq.setdefault(r["query_id"], []).append(r)
    want = sorted(
        (qid, r["doc_id"], r["score"], i + 1)
        for qid, rows in byq.items()
        for i, r in enumerate(rows[: ks[qid]])
    )
    assert got == want


def test_boolean_search_semantics(spark, index, corpus_pdf):
    """AND over must, NOT over must_not, membership verified against the
    raw corpus; unknown-must and empty-must queries return nothing."""
    from pyspark.sql import functions as F

    from geocoderpl_spark.functions.tokenize import tokenize_py

    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", "term_0003", 50),
         (1, "term_0001", "zzznope", 10),
         (2, "term_0001 zzznope", "", 10),
         (3, "", "term_0001", 10)],
        "query_id long, must string, must_not string, k int",
    )
    rows = index.topk_boolean(q).collect()
    byq: dict[int, list] = {}
    for r in rows:
        byq.setdefault(r["query_id"], []).append(r)
    assert 2 not in byq and 3 not in byq  # unsatisfiable / empty must

    docs = _docs_dict(spark, index, corpus_pdf)
    toks = {d: set(tokenize_py(c)) for d, c in docs.items()}
    want0 = {d for d, t in toks.items()
             if {"term_0001", "term_0002"} <= t and "term_0003" not in t}
    assert {r["doc_id"] for r in byq[0]} == want0  # k=50 > |matches|
    assert {r["doc_id"] for r in byq[1]} <= {d for d, t in toks.items() if "term_0001" in t}
    assert len(byq[1]) == 10

    # ranking: scores equal the free-text BM25 scores of the same must text
    ft = spark.createDataFrame(
        [(0, "term_0001 term_0002", 100000)], "query_id long, query_text string, k int"
    )
    free = {r["doc_id"]: r["score"] for r in index.topk(ft, "exact").collect()}
    for r in byq[0]:
        assert r["score"] == free[r["doc_id"]]
    ranks = [r["rank"] for r in sorted(byq[0], key=lambda r: r["rank"])]
    assert ranks == list(range(1, len(byq[0]) + 1))


def test_manifest_prunes_file_set_and_results_identical(spark, tmp_path):
    """VERDICT r02 #6: a term-scoped query must open ONLY the files whose
    manifest [tid_min, tid_max] range can contain the query's term_ids —
    no directory listing — and return exactly the directory-scan results."""
    from pyspark.sql import functions as F

    from geocoderpl_spark.operators.topk import _pruned_scan, tid_bucket
    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.plans.manifest import (
        load_postings_manifest,
        manifest_scan,
        select_files,
    )
    from geocoderpl_spark.sources.corpus import synth_corpus

    root = str(tmp_path / "midx")
    idx = build_index(spark, synth_corpus(spark, 600), root, n_buckets=8, partitions=8)
    entries = load_postings_manifest(root)
    assert entries, "build must write the manifest"
    all_files = {e["file"] for e in entries}
    assert len(all_files) > 4  # multiple files so pruning is observable

    tid = idx.terms.filter(F.col("term") == "term_0001").collect()[0]["term_id"]
    expected = set(select_files(entries, [tid], idx.n_buckets))
    assert expected and expected < all_files  # proper subset
    # expected files all live in the term's bucket
    b = tid_bucket(tid, idx.n_buckets)
    assert all(f.startswith(f"bucket={b}/") for f in expected)

    df = manifest_scan(spark, root, entries, [tid], idx.n_buckets)
    opened = {p.split("/postings/")[1] for p in df.inputFiles()}
    assert opened == expected  # exactly the manifest-selected set

    via_dir = _pruned_scan(idx.postings, [tid], idx.n_buckets)
    a = sorted(map(tuple, df.drop("bucket").collect()))
    bb = sorted(map(tuple, via_dir.drop("bucket").collect()))
    assert a == bb

    # end-to-end: topk consults the manifest and matches the exact path
    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", 10)], "query_id long, query_text string, k int"
    )
    assert idx._manifest_scan() is not None
    pruned = sorted(tuple(r) for r in idx.topk(q, "pruned").collect())
    exact = sorted(tuple(r) for r in idx.topk(q, "exact").collect())
    assert pruned == exact and len(pruned) == 10


def test_lineage_bucket_counts_match_spark_aggregate(spark, index):
    """The lineage's per-bucket dictionary counts (and the dictionary's
    total cf) are streamed from the terms files with pyarrow and the numpy
    xxhash64 twin, without a Spark job, and equal the Spark aggregate over
    the build's bucket expression."""
    from pyspark.sql import functions as F

    from geocoderpl_spark.plans import build as build_mod

    tracker = spark.sparkContext.statusTracker()
    before = list(tracker.getJobIdsForGroup(None))
    driver, cf_total = build_mod._bucket_term_counts(
        os.path.join(index.root, "terms"), index.n_buckets
    )
    assert list(tracker.getJobIdsForGroup(None)) == before
    assert cf_total == index.terms.agg(F.sum("cf")).collect()[0][0] > 0
    expected = {
        int(r["bucket"]): (int(r["n_postings"]), int(r["n_terms"]))
        for r in index.terms.groupBy(
            F.pmod(F.xxhash64(F.col("term_id").cast("long")), F.lit(index.n_buckets))
            .cast("int")
            .alias("bucket")
        )
        .agg(F.sum("df").alias("n_postings"), F.count(F.lit(1)).alias("n_terms"))
        .collect()
    }
    assert driver == expected and len(driver) > 1
