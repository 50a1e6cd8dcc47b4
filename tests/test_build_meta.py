"""The build's driver-side steps between the tf job and the postings job:
the dictionary ranked on the driver, and meta read from files (n_docs and
the doc-id range from the docstats footers, avgdl = Σcf / n_docs from the
terms files). Each is checked against what a Spark job computes."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from geocoderpl_spark.operators import docids
from geocoderpl_spark.operators.docids import assign_doc_ids
from geocoderpl_spark.plans import build as build_mod
from geocoderpl_spark.plans.build import build_index
from geocoderpl_spark.session import local_frame
from geocoderpl_spark.sources.corpus import synth_corpus

DOCS = "doc_id long, content string"


def _spark_meta(idx):
    """The Spark aggregate the build's meta used to run over docstats."""
    r = idx.docstats.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl"),
        F.min("doc_id").alias("dmin"), F.max("doc_id").alias("dmax"),
    ).collect()[0]
    rng = None if r["dmin"] is None else (r["dmin"], r["dmax"])
    return r["n"], float(r["avgdl"] or 0.0), rng


def _file_meta(idx):
    with open(os.path.join(idx.root, "meta", "meta.json")) as f:
        meta = json.load(f)
    n, rng = build_mod._docstats_footer_meta(os.path.join(idx.root, "docstats"))
    assert n == meta["n_docs"] == idx.n_docs
    return meta["n_docs"], meta["avgdl"], rng


def _metrics(root):
    with open(os.path.join(root, "metrics", "metrics.jsonl")) as f:
        return [json.loads(line) for line in f]


def test_meta_from_files_equals_spark_aggregate(spark, tmp_path):
    """n_docs, avgdl (bit for bit) and the doc-id range read from files equal
    the Spark aggregate over docstats: with NULL-content and zero-token
    docs, on a compacted merged segment, after a resumed terms stage, and on
    an empty corpus (0 docs, avgdl 0.0, no range)."""
    from geocoderpl_spark.streaming.incremental import merge_segments

    rows = [(i, f"alpha beta term_{i % 7:04d} " * (i % 5)) for i in range(3, 90)]
    rows += [(1, None), (2, "!!! ... ---"), (200, "")]
    odd = build_index(spark, local_frame(spark, rows, DOCS), str(tmp_path / "odd"),
                      n_buckets=4, partitions=3, id_col="doc_id")
    assert _file_meta(odd) == _spark_meta(odd)
    assert _file_meta(odd)[2] == (1, 200)

    root = str(tmp_path / "segs")
    docs = assign_doc_ids(synth_corpus(spark, 200), ["repo", "path", "commit"])
    for i, cond in enumerate([F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1]):
        build_index(spark, docs.filter(cond), os.path.join(root, f"seg_{i:05d}"),
                    n_buckets=4, id_col="doc_id")
    merged = merge_segments(spark, root, str(tmp_path / "merged"), n_buckets=4)
    assert _file_meta(merged) == _spark_meta(merged)

    # a resumed terms stage: postings and meta are rebuilt over the terms
    # files as they stand
    shutil.rmtree(os.path.join(odd.root, "postings"))
    again = build_index(spark, local_frame(spark, rows, DOCS), odd.root,
                        n_buckets=4, partitions=3, id_col="doc_id")
    status = {m["stage"]: m["status"] for m in _metrics(odd.root)[-5:]}
    assert status["terms"] == "resumed" and status["postings"] == "built"
    assert _file_meta(again) == _spark_meta(again) == _spark_meta(odd)

    empty = build_index(spark, local_frame(spark, [], DOCS), str(tmp_path / "empty"),
                        n_buckets=4, id_col="doc_id")
    assert _file_meta(empty) == _spark_meta(empty) == (0, 0.0, None)


def test_docstats_footer_without_doc_id_statistics_raises(spark, tmp_path):
    """A docstats row group whose doc_id has no min/max statistics raises
    instead of guessing the doc-id range."""
    import pyarrow.parquet as pq

    idx = build_index(spark, synth_corpus(spark, 60), str(tmp_path / "idx"),
                      n_buckets=4, partitions=2)
    f = next(f for f in build_mod._part_files(os.path.join(idx.root, "docstats"))
             if pq.read_metadata(f).num_rows)
    pq.write_table(pq.read_table(f), f, write_statistics=["sha256"])
    with pytest.raises(RuntimeError, match="no doc_id min/max statistics"):
        build_mod._docstats_footer_meta(os.path.join(idx.root, "docstats"))


def test_no_job_between_tf_and_postings(spark, tmp_path, monkeypatch):
    """A small keyed build submits no Spark job between the tf job (whose
    write returns before ``ensure_tf_files``) and the postings job (inside
    ``build_postings``): the dictionary and meta are read and written on
    the driver."""
    tracker = spark.sparkContext.statusTracker()
    seen = {}

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    def mark(name, fn):
        def wrapper(*a, **kw):
            seen[name] = last_job()
            return fn(*a, **kw)
        return wrapper

    monkeypatch.setattr(build_mod, "ensure_tf_files", mark("tf", build_mod.ensure_tf_files))
    monkeypatch.setattr(build_mod, "build_postings", mark("postings", build_mod.build_postings))
    build_index(spark, synth_corpus(spark, 200), str(tmp_path / "idx"), n_buckets=4)
    assert seen["tf"] >= 0
    assert seen["postings"] == seen["tf"]


def test_metrics_rows_name_the_rank_path_and_time_meta(spark, tmp_path):
    """metrics.jsonl schema: every row has stage, rows_out, wall_ms and
    status; a built terms row adds rank (driver or spark); meta has its own
    row with its wall. Stages come in build order."""
    base = {"stage", "rows_out", "wall_ms", "status"}
    idx = build_index(spark, synth_corpus(spark, 120), str(tmp_path / "idx"),
                      n_buckets=4, partitions=2)
    rows = _metrics(idx.root)
    assert [r["stage"] for r in rows] == ["tf", "docstats", "terms", "meta", "postings"]
    for r in rows:
        assert set(r) == (base | {"rank"} if r["stage"] == "terms" else base)
        assert isinstance(r["wall_ms"], int) and r["wall_ms"] >= 0
    terms, meta = rows[2], rows[3]
    assert terms["rank"] == "driver" and terms["rows_out"] == idx.terms.count()
    assert meta == {**meta, "rows_out": 1, "status": "built"}

    shutil.rmtree(os.path.join(idx.root, "postings"))
    build_index(spark, synth_corpus(spark, 120), idx.root, n_buckets=4, partitions=2)
    again = _metrics(idx.root)[len(rows):]
    assert [(r["stage"], r["status"]) for r in again] == [
        ("tf", "resumed"), ("docstats", "resumed"), ("terms", "resumed"),
        ("meta", "built"), ("postings", "built"),
    ]
    assert all(set(r) == base for r in again)


def test_driver_and_spark_dictionary_build_the_same_index(spark, tmp_path, monkeypatch):
    """With ``docids.BROADCAST_IDS_MAX_ROWS`` at 0 the dictionary is ranked
    by Spark (``build_terms``): its terms rows and dtypes equal the driver
    rank's, and every posting file is byte-identical."""
    def build(name):
        idx = build_index(spark, synth_corpus(spark, 300), str(tmp_path / name),
                          n_buckets=4, partitions=4)
        (terms_row,) = [r for r in _metrics(idx.root) if r["stage"] == "terms"]
        post = os.path.join(idx.root, "postings")
        files = {
            os.path.relpath(f, post): open(f, "rb").read()
            for f in glob.glob(os.path.join(post, "bucket=*", "part-*.parquet"))
        }
        return idx, terms_row["rank"], files

    a, rank_a, files_a = build("driver")
    monkeypatch.setattr(docids, "BROADCAST_IDS_MAX_ROWS", 0)
    b, rank_b, files_b = build("spark")
    assert (rank_a, rank_b) == ("driver", "spark")
    assert a.terms.dtypes == b.terms.dtypes
    assert sorted(map(tuple, a.terms.collect())) == sorted(map(tuple, b.terms.collect()))
    assert len(files_a) > 1 and files_a == files_b
