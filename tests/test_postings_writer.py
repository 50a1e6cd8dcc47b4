"""The postings stage's direct writer: the encode kernel writes the
``bucket=*/part-*`` files itself, so the build checks what it wrote — block
slices, the file set, the manifest, lineage and the stage metrics."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from geocoderpl_spark.plans.build import build_index
from geocoderpl_spark.sources.corpus import HOT_TERM, synth_corpus


def test_blocks_stay_inside_one_slice(spark, tmp_path):
    """partitions=2 puts several non-adjacent doc slices of the hot term
    into the same encode task, where the bucket-major sort interleaves them
    in doc order: every block must still lie inside one slice, and each
    term's block doc-ranges must stay disjoint."""
    from pyspark.sql import functions as F

    from geocoderpl_spark.operators.postings import slice_docs_for

    n_docs, partitions = 2000, 2
    idx = build_index(spark, synth_corpus(spark, n_docs), str(tmp_path / "idx"),
                      n_buckets=4, partitions=partitions)
    slice_docs = slice_docs_for(n_docs, partitions)
    blocks = idx.postings.toPandas().sort_values(["term_id", "first_doc"])
    assert (blocks.first_doc // slice_docs == blocks.last_doc // slice_docs).all()
    hot_id = idx.terms.filter(F.col("term") == HOT_TERM).collect()[0]["term_id"]
    hot = blocks[blocks.term_id == hot_id]
    assert (hot.first_doc // slice_docs).nunique() >= 6
    for _, g in blocks.groupby("term_id"):
        assert (g.first_doc.to_numpy()[1:] > g.last_doc.to_numpy()[:-1]).all()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("direct") / "idx")
    return build_index(spark, synth_corpus(spark, 600), root, n_buckets=8, partitions=4)


def test_manifest_skips_tmp_leftovers(spark, built, tmp_path):
    """A failed task attempt leaves a ``_tmp-*`` file in a bucket dir;
    the manifest must list only the published ``part-*`` files."""
    from geocoderpl_spark.plans.manifest import load_postings_manifest, write_postings_manifest

    root = str(tmp_path / "idx")
    shutil.copytree(built.root, root)
    part = sorted(glob.glob(os.path.join(root, "postings", "bucket=*", "part-*.parquet")))[0]
    shutil.copy(part, os.path.join(os.path.dirname(part), "_tmp-00000-0.parquet"))
    before = load_postings_manifest(root)
    write_postings_manifest(spark, root)
    after = load_postings_manifest(root)
    assert after == before
    assert not any("_tmp-" in e["file"] for e in after)


def test_postings_metrics_count_blocks(spark, built):
    """The postings row in metrics.jsonl records the blocks written."""
    with open(os.path.join(built.root, "metrics", "metrics.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    (post,) = [r for r in rows if r["stage"] == "postings"]
    assert post["status"] == "built"
    assert post["rows_out"] == built.postings.count() > 0


def test_unreported_posting_file_raises(spark, tmp_path, monkeypatch):
    """The files on disk must equal the files the encode kernel reported:
    a kernel report that misses a file fails the build."""
    import geocoderpl_spark.plans.build as build_mod

    real = build_mod.build_postings
    monkeypatch.setattr(build_mod, "build_postings", lambda *a, **kw: real(*a, **kw)[1:])
    with pytest.raises(RuntimeError, match="posting files on disk differ"):
        build_index(spark, synth_corpus(spark, 300), str(tmp_path / "idx"),
                    n_buckets=4, partitions=2)


def test_missing_manifest_over_postings_raises(spark, built, tmp_path):
    """Postings marked done but with their files gone leave no manifest to
    derive lineage from: the build must raise, not write empty lineage."""
    root = str(tmp_path / "idx")
    shutil.copytree(built.root, root)
    shutil.rmtree(os.path.join(root, "manifest"))
    for d in glob.glob(os.path.join(root, "postings", "bucket=*")):
        shutil.rmtree(d)
    with pytest.raises(RuntimeError, match="manifest missing or empty"):
        build_index(spark, synth_corpus(spark, 600), root, n_buckets=8, partitions=4)


def test_lineage_bucket_without_blocks_raises(spark, built, tmp_path):
    """A bucket whose terms have no posting files must not drop out of the
    lineage join silently."""
    root = str(tmp_path / "idx")
    shutil.copytree(built.root, root)
    shutil.rmtree(os.path.join(root, "manifest"))
    shutil.rmtree(sorted(glob.glob(os.path.join(root, "postings", "bucket=*")))[0])
    with pytest.raises(RuntimeError, match="buckets with terms but no posting blocks"):
        build_index(spark, synth_corpus(spark, 600), root, n_buckets=8, partitions=4)


def test_metrics_record_terms_and_docs(spark, built):
    """The tf, terms and docstats rows of metrics.jsonl record the rows those
    stages wrote (the (term, doc) rows, the dictionary size and the document
    count), not -1."""
    with open(os.path.join(built.root, "metrics", "metrics.jsonl")) as f:
        rows = {r["stage"]: r for r in map(json.loads, f)}
    tf_rows = spark.read.parquet(os.path.join(built.root, "tf")).count()
    assert rows["tf"]["rows_out"] == tf_rows > 0
    assert rows["terms"]["rows_out"] == built.terms.count() > 0
    assert rows["docstats"]["rows_out"] == built.docstats.count() == 600
