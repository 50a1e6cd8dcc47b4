"""Edge/boundary hardening: tokenizer 3-way fuzz, empty corpus, partial-write
resume (FIXTURES.md §4 boundary_cases + §5)."""

from __future__ import annotations

import os
import random
import string

import duckdb
import pytest

from geocoderpl_spark.functions.tokenize import duckdb_tokenize_sql, tokenize, tokenize_py


def _random_strings(n: int, seed: int = 42) -> list[str]:
    rng = random.Random(seed)
    alphabet = (
        string.ascii_letters + string.digits + "_ .,;:()[]{}<>/\\|@#$%^&*-+=~`'\"\t\n"
        + "éüñßÉÜÑ中文ابと🎉"
    )
    out = []
    for _ in range(n):
        ln = rng.randint(0, 60)
        out.append("".join(rng.choice(alphabet) for _ in range(ln)))
    return out


def test_tokenizer_three_way_fuzz(spark):
    """The python kernel, the Spark column expression, and the DuckDB oracle
    twin must tokenize identically on arbitrary (incl. unicode) input —
    oracle comparability depends on it."""
    cases = _random_strings(300)
    expected = [tokenize_py(c) for c in cases]

    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i int, t string")
    got_spark = {r["i"]: r["toks"] for r in df.select("i", tokenize("t").alias("toks")).collect()}
    for i, exp in enumerate(expected):
        assert got_spark[i] == exp, (i, cases[i])

    con = duckdb.connect()
    sql = "select " + duckdb_tokenize_sql("?") + " as toks"
    for i, c in enumerate(cases):
        assert con.sql(sql, params=[c]).fetchone()[0] == expected[i], (i, c)


def test_empty_corpus_build_and_query(spark, tmp_path):
    from geocoderpl_spark.plans.build import build_index

    corpus = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    idx = build_index(spark, corpus, str(tmp_path / "empty"), n_buckets=4, partitions=2)
    assert idx.n_docs == 0 and idx.avgdl == 0.0
    q = spark.createDataFrame([(0, "anything", 5)], "query_id long, query_text string, k int")
    assert idx.topk(q, "exact").count() == 0
    assert idx.topk(q, "pruned").count() == 0


def test_partial_write_resume(spark, tmp_path):
    """A stage dir without _SUCCESS (killed mid-write) must be rebuilt, not
    trusted (reference analog: build-once guard, __main__.py:17)."""
    from geocoderpl_spark.operators.postings import decode_postings
    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.sources.corpus import synth_corpus

    out = str(tmp_path / "idx")
    idx = build_index(spark, synth_corpus(spark, 200), out, n_buckets=4, partitions=4)
    good = (
        decode_postings(idx.postings).toPandas()
        .sort_values(["term_id", "doc_id"]).reset_index(drop=True)
    )
    # simulate kill mid-write: remove _SUCCESS, corrupt the dir
    os.remove(os.path.join(out, "postings", "_SUCCESS"))
    with open(os.path.join(out, "postings", "junk.tmp"), "w") as f:
        f.write("partial garbage")
    idx2 = build_index(spark, synth_corpus(spark, 200), out, n_buckets=4, partitions=4)
    redone = (
        decode_postings(idx2.postings).toPandas()
        .sort_values(["term_id", "doc_id"]).reset_index(drop=True)
    )
    assert redone.equals(good)
    assert not os.path.exists(os.path.join(out, "postings", "junk.tmp"))


def test_grouped_postings_resume_byte_identical(spark, tmp_path):
    """postings_groups=4: (a) a grouped build's postings are byte-identical
    to an ungrouped build; (b) killing after some groups (markers missing,
    partial bucket dirs on disk) and resuming rebuilds ONLY the unfinished
    groups and lands byte-identical to a clean build."""
    import shutil

    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.sources.corpus import synth_corpus

    def blocks_pdf(ix):
        return (
            ix.postings.toPandas()
            .sort_values(["term_id", "block_id"]).reset_index(drop=True)
        )

    plain = build_index(spark, synth_corpus(spark, 300), str(tmp_path / "plain"),
                        n_buckets=8, partitions=4)
    out = str(tmp_path / "grp")
    grouped = build_index(spark, synth_corpus(spark, 300), out,
                          n_buckets=8, partitions=4, postings_groups=4)
    assert blocks_pdf(grouped).equals(blocks_pdf(plain))  # incl. binary cols

    # simulate a kill after groups 0,1: groups 2,3 lose their markers, group
    # 3 additionally has a half-written bucket dir
    pdir = os.path.join(out, "postings")
    os.remove(os.path.join(pdir, "_SUCCESS"))
    os.remove(os.path.join(pdir, "_group_2_SUCCESS"))
    os.remove(os.path.join(pdir, "_group_3_SUCCESS"))
    victims = [d for d in os.listdir(pdir) if d.startswith("bucket=")
               and int(d.split("=")[1]) % 4 == 3]
    shutil.rmtree(os.path.join(pdir, victims[0]))
    os.makedirs(os.path.join(pdir, victims[0]))  # half-written dir w/ garbage
    with open(os.path.join(pdir, victims[0], "junk.tmp"), "w") as f:
        f.write("partial garbage")

    # record group-0/1 file inventory: resume must not touch them
    keep = {
        d: sorted(os.listdir(os.path.join(pdir, d)))
        for d in os.listdir(pdir)
        if d.startswith("bucket=") and int(d.split("=")[1]) % 4 in (0, 1)
    }
    resumed = build_index(spark, synth_corpus(spark, 300), out,
                          n_buckets=8, partitions=4, postings_groups=4)
    assert blocks_pdf(resumed).equals(blocks_pdf(plain))
    assert not os.path.exists(os.path.join(pdir, victims[0], "junk.tmp"))
    for d, files in keep.items():
        assert sorted(os.listdir(os.path.join(pdir, d))) == files


def rewrite_tf_r6(root: str) -> None:
    """Rewrite the plain tf checkpoint under ``root`` in the layout of the
    older fused kernel: a ``sha256`` column set on each doc's first row (the
    doc's docstats sha) and NULL elsewhere, plus one term-NULL sentinel row
    (a zero-token doc: doclen 0, tf 0)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geocoderpl_spark.plans.manifest import _part_files

    stats = pa.concat_tables(
        pq.read_table(f, columns=["doc_id", "sha256"])
        for f in _part_files(os.path.join(root, "docstats"))
    )
    sha_of = dict(zip(stats["doc_id"].to_pylist(), stats["sha256"].to_pylist()))
    for i, f in enumerate(_part_files(os.path.join(root, "tf"))):
        t = pq.read_table(f)
        t = t.drop([c for c in t.column_names if c == "sha256"])
        t = t.filter(t["term"].is_valid())
        _, first = np.unique(t["doc_id"].to_numpy(), return_index=True)
        sha = [None] * t.num_rows
        for r in first:
            sha[r] = sha_of[t["doc_id"][int(r)].as_py()]
        t = t.append_column("sha256", pa.array(sha, pa.string()))
        if i == 0:
            row = {"term": [None], "doc_id": [max(sha_of) + 1], "doclen": [0],
                   "tf": [0], "sha256": ["0" * 64]}
            t = pa.concat_tables([t, pa.table(row, schema=t.schema)])
        pq.write_table(t, f)


def _last_status(root: str, stage: str) -> str:
    import json

    with open(os.path.join(root, "metrics", "metrics.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    return [r for r in rows if r["stage"] == stage][-1]["status"]


def test_stale_tf_checkpoint_rebuilds(spark, tmp_path):
    """A tf checkpoint resumes only in the tf kernel's layout and with its
    docstats. An older layout (sha256 sidecar + term-NULL sentinel rows), a
    tf in the kernel's columns whose docstats is gone, or a plain tf under a
    positional build makes the build wipe every stage and rebuild: tf is
    ``built``, and the terms, decoded postings and docstats equal the fresh
    build's."""
    import shutil

    import pyarrow.parquet as pq

    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.plans.manifest import _part_files
    from geocoderpl_spark.sources.corpus import synth_corpus
    from tests.test_streaming import _index_rows

    root = str(tmp_path / "idx")

    def build(positional=False):
        return build_index(spark, synth_corpus(spark, 300), root, n_buckets=4,
                           partitions=4, positional=positional)

    fresh = _index_rows(build())

    def assert_rebuilt(idx):
        assert _last_status(root, "tf") == "built"
        for got, want in zip(_index_rows(idx), fresh):
            assert got.equals(want)

    rewrite_tf_r6(root)
    assert "sha256" in pq.read_schema(_part_files(os.path.join(root, "tf"))[0]).names
    assert_rebuilt(build())
    assert "sha256" not in pq.read_schema(_part_files(os.path.join(root, "tf"))[0]).names

    # a tf without the sidecar, in the kernel's columns, but no docstats
    for f in _part_files(os.path.join(root, "tf")):
        t = pq.read_table(f, columns=["term", "doc_id", "doclen", "tf"])
        pq.write_table(t.filter(t["term"].is_valid()), f)
    shutil.rmtree(os.path.join(root, "docstats"))
    assert_rebuilt(build())

    # a positional build over a plain index: the plain tf has no positions
    idx = build(positional=True)
    assert_rebuilt(idx)
    assert idx.positional and "poss" in idx.postings.columns
