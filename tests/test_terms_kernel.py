"""The term dictionary's two ranking paths, checked against a Spark reference
computed in the test (``groupBy(term).agg(sum)`` plus ``dense_rank() over
(order by term) - 1``): the driver rank (``rank_terms_local`` /
``write_terms_local``, pyarrow, no Spark job) and ``build_terms`` (one range
exchange on ``term`` and one Arrow kernel per range partition)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from geocoderpl_spark.operators.postings import (
    build_terms,
    rank_terms_local,
    terms_schema,
    write_terms_local,
)
from geocoderpl_spark.plans.build import build_index
from geocoderpl_spark.sources.corpus import synth_corpus

PARTIALS_DDL = "term string, df long, cf long"
NON_ASCII = ["é", "ß", "中", "\U0001f600", "zebra", "Zebra", "a", "é_b", "ab", "a中"]


def _reference(partials):
    return (
        partials.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .withColumn(
            "term_id", (F.dense_rank().over(Window.orderBy("term")) - 1).cast("long")
        )
    )


def _assert_same(got, want):
    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# the dictionary cases both paths run: few terms over more range partitions
# (defaultParallelism) than terms, and hundreds of non-ASCII and ASCII terms
# with one term repeated over many partial rows
FEW_ROWS = [(t, 1, 2) for t in ["é", "ß", "中", "\U0001f600", "abc"]] * 3
MANY_TERMS = [f"{p}{i:03d}" for p in NON_ASCII for i in range(40)]
MANY_ROWS = (
    [(t, i % 3 + 1, i % 7 + 1) for i, t in enumerate(MANY_TERMS)]
    + [("中", 2, 5)] * 250 + [("the_hot_term", 1, 1)] * 300
)
NULL_ROWS = [("a", 1, 1), (None, 1, 1), ("b", 2, 3)]


def test_few_terms_more_partitions_than_terms(spark):
    """Five distinct non-ASCII and ASCII terms over more range partitions
    (defaultParallelism) than terms: some partitions stay empty, ids stay
    dense."""
    assert spark.sparkContext.defaultParallelism > 5
    partials = spark.createDataFrame(FEW_ROWS, PARTIALS_DDL)
    t = build_terms(None, partials=partials)
    assert t._rank_total == 5
    _assert_same(t, _reference(partials))
    assert sorted(r["term_id"] for r in t.collect()) == list(range(5))
    t._stats_cache.unpersist()


def test_many_terms_non_ascii_and_repeated_partials(spark):
    """Hundreds of terms mixing non-ASCII and ASCII (byte order = Spark's
    UTF8String order), and one term repeated over many partial rows whose
    df / cf must sum exactly."""
    partials = spark.createDataFrame(MANY_ROWS, PARTIALS_DDL).repartition(6)
    t = build_terms(None, partials=partials)
    want = _reference(partials)
    assert t._rank_total == want.count() == len(MANY_TERMS) + 2
    _assert_same(t, want)
    hot = {r["term"]: r for r in t.filter(F.col("term").isin("中", "the_hot_term")).collect()}
    assert (hot["中"]["df"], hot["中"]["cf"]) == (500, 1250)
    assert (hot["the_hot_term"]["df"], hot["the_hot_term"]["cf"]) == (300, 300)
    t._stats_cache.unpersist()


@pytest.mark.parametrize("rows, n_terms", [(FEW_ROWS, 5), (MANY_ROWS, len(MANY_TERMS) + 2)],
                         ids=["few", "many"])
def test_driver_rank_matches_reference(spark, rows, n_terms):
    """The driver rank (``rank_terms_local``, pyarrow) over the cases above
    equals the Spark reference: same rows, same dtypes, ids 0..n-1."""
    from geocoderpl_spark.session import local_frame

    partials = spark.createDataFrame(rows, PARTIALS_DDL).repartition(6)
    got = rank_terms_local(partials.toArrow())
    assert got.schema == terms_schema()
    assert got["term_id"].to_pylist() == list(range(n_terms))
    _assert_same(
        local_frame(spark, got.to_pandas(), "term string, df long, cf long, term_id long"),
        _reference(partials),
    )


def test_tf_source_matches_partials_source(spark):
    """Without partials (an empty corpus) the source is a groupBy over tf
    rows; a term-NULL row is not a term. Same dictionary."""
    tf = spark.createDataFrame(
        [("é", 0, 3, 2), ("é", 1, 4, 1), ("中", 1, 4, 3), (None, 2, 0, 0), ("ab", 0, 3, 1)],
        "term string, doc_id long, doclen long, tf long",
    )
    partials = spark.createDataFrame(
        [("é", 1, 2), ("é", 1, 1), ("中", 1, 3), ("ab", 1, 1)], PARTIALS_DDL
    )
    t = build_terms(tf)
    _assert_same(t, _reference(partials))
    t._stats_cache.unpersist()


def test_null_term_partial_raises(spark):
    partials = spark.createDataFrame(NULL_ROWS, PARTIALS_DDL)
    with pytest.raises(ValueError, match="NULL term"):
        build_terms(None, partials=partials)
    with pytest.raises(ValueError, match="NULL term"):
        rank_terms_local(partials.toArrow())


def test_driver_writes_contiguous_sorted_files(spark, tmp_path):
    """The driver writes P contiguous term-sorted part files of one row
    group each, numbered 0..n-1 across them; fewer terms than P give one
    file per term, and no partials give one empty file in the dictionary
    schema. Only df / cf are dictionary-encoded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "partials.parquet")
    pq.write_table(pa.table({"term": MANY_TERMS[::-1] * 2, "df": [1] * 800, "cf": [2] * 800}), src)

    def written(n_parts):
        out = str(tmp_path / f"terms{n_parts}")
        n = write_terms_local([src] if n_parts else [], out, max(n_parts, 1))
        files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
        return n, files, pa.concat_tables([pq.read_table(f) for f in files])

    n, files, t = written(8)
    assert n == 400 and len(files) == 8
    assert t["term"].to_pylist() == sorted(MANY_TERMS)
    assert t["term_id"].to_pylist() == list(range(400))
    assert set(t["df"].to_pylist()) == {2} and set(t["cf"].to_pylist()) == {4}
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.num_row_groups == 1 and md.num_rows == 50
        enc = {md.schema.column(i).name: md.row_group(0).column(i).encodings
               for i in range(md.num_columns)}
        assert all(("RLE_DICTIONARY" in enc[c]) == (c in ("df", "cf")) for c in enc)
    assert len(written(1000)[1]) == 400
    n, files, t = written(0)
    assert n == 0 and len(files) == 1 and t.schema == terms_schema()


def test_written_terms_files_are_term_sorted(spark, tmp_path):
    """The build writes build_terms' range partitions as they are (no
    re-sort): the terms part files, read in file order, are sorted by term
    and numbered 0..n-1."""
    import pyarrow.parquet as pq

    idx = build_index(spark, synth_corpus(spark, 400), str(tmp_path / "idx"),
                      n_buckets=4, partitions=4)
    files = sorted(glob.glob(os.path.join(idx.root, "terms", "part-*.parquet")))
    assert len(files) > 1
    terms, ids = [], []
    for f in files:
        t = pq.read_table(f, columns=["term", "term_id"])
        terms += t["term"].to_pylist()
        ids += t["term_id"].to_pylist()
    assert terms == sorted(terms)
    assert ids == list(range(len(ids)))
