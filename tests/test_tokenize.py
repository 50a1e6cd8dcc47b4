import duckdb
import pytest

from geocoderpl_spark.functions.tokenize import duckdb_tokenize_sql, tokenize
from tests.oracle import tokenize_py

CASES = [
    ("the fast key", ["the", "fast", "key"]),
    ("camelCaseFoo bar", ["camel", "case", "foo", "bar"]),
    ("snake_case_bar stays", ["snake_case_bar", "stays"]),
    ("term_0001, term_0002;", ["term_0001", "term_0002"]),
    ('x = "parseHttpResponse(y)"', ["x", "parse", "http", "response", "y"]),
    ("", []),
    ("   ", []),
    ("UPPER Lower", ["upper", "lower"]),
    ("XmlReaderImpl", ["xml", "reader", "impl"]),
    ("a1b2C3", ["a1b2", "c3"]),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_tokenize_python_spec(raw, expected):
    assert tokenize_py(raw) == expected


def test_tokenize_spark_matches_spec(spark):
    df = spark.createDataFrame([(i, c) for i, (c, _) in enumerate(CASES)], "i int, t string")
    got = {r["i"]: r["toks"] for r in df.select("i", tokenize("t").alias("toks")).collect()}
    for i, (_, expected) in enumerate(CASES):
        assert got[i] == expected, CASES[i]


def test_tokenize_duckdb_matches_spec():
    for raw, expected in CASES:
        sql = "select " + duckdb_tokenize_sql("?") + " as toks"
        got = duckdb.sql(sql, params=[raw]).fetchone()[0]
        assert got == expected, raw


def test_tokenize_arrow_matches_spec():
    """4th implementation (tokenize_arrow, the tf kernel's Arrow RE2 path)
    must match the spec token-for-token, doclen included; a NULL row has no
    tokens."""
    import pyarrow as pa

    from geocoderpl_spark.functions.tokenize import tokenize_arrow

    terms, parent, doclen = tokenize_arrow(pa.array([c for c, _ in CASES] + [None]))
    terms = terms.to_pylist()
    for i, (raw, expected) in enumerate(CASES):
        assert [t for t, p in zip(terms, parent) if p == i] == expected, raw
        assert doclen[i] == len(expected), raw
    assert doclen[len(CASES)] == 0 and len(terms) == len(parent) == doclen.sum()


def run_tf_kernel(spark, docs, out_dir, meta_cols=(), positional=False):
    """Run the build's tf kernel over ``docs`` (doc_id, content, *meta_cols)
    as the build does: (the tf it wrote to ``out_dir``, read back, and its
    docstats rows as pandas)."""
    import os

    from geocoderpl_spark.operators.postings import ensure_tf_files, tf_docstats_direct
    from geocoderpl_spark.plans.manifest import read_index_dir

    os.makedirs(out_dir)
    stats = tf_docstats_direct(
        docs, list(meta_cols), out_dir, positional=positional
    ).toPandas()
    ensure_tf_files(out_dir, positional)
    return read_index_dir(spark, out_dir), stats


EXTRA_DOCS = ["FooBar foo", "", "--- ;; ..", "x y x"]


def _spec_tf_docstats(pdf):
    """The tf kernel's spec in plain Python (tokenize_py, Counter, hashlib):
    tf rows (term, doc_id, doclen, tf, positions) and docstats rows
    (doc_id, doclen, sha256). A zero-token doc has a docstats row only."""
    import hashlib
    from collections import Counter

    import pandas as pd

    tf, stats = [], []
    for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
        toks = tokenize_py(content or "")
        for term, n in Counter(toks).items():
            pos = [i for i, t in enumerate(toks, 1) if t == term]
            tf.append((term, doc_id, len(toks), n, pos))
        sha = hashlib.sha256((content or "").encode("utf-8")).hexdigest()
        stats.append((doc_id, len(toks), sha))
    tf = pd.DataFrame(tf, columns=["term", "doc_id", "doclen", "tf", "positions"])
    stats = pd.DataFrame(stats, columns=["doc_id", "doclen", "sha256"])
    return (
        tf.sort_values(["doc_id", "term"]).reset_index(drop=True),
        stats.sort_values("doc_id").reset_index(drop=True),
    )


def _assert_kernel_matches_spec(spark, docs, tmp_path, meta):
    """Plain and positional kernel output over ``docs`` == the spec: every
    tf row, every (1-based) position list, every docstats row; no tf term
    is NULL."""
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    want_tf, want_stats = _spec_tf_docstats(pdf)
    for positional in (False, True):
        tf, stats = run_tf_kernel(
            spark, docs, str(tmp_path / f"tf{int(positional)}"), meta, positional
        )
        got = tf.toPandas().sort_values(["doc_id", "term"]).reset_index(drop=True)
        assert got["term"].notna().all()
        cols = ["term", "doc_id", "doclen", "tf"]
        assert list(got.columns) == cols + (["positions"] if positional else [])
        assert got[cols].equals(want_tf[cols])
        if positional:
            assert [sorted(p) for p in got["positions"]] == want_tf["positions"].tolist()
        stats = stats.sort_values("doc_id").reset_index(drop=True)
        assert list(stats.columns) == ["doc_id", *meta, "doclen", "sha256"]
        assert stats[["doc_id", "doclen", "sha256"]].equals(want_stats)
        assert stats[["doc_id", *meta]].equals(pdf[["doc_id", *meta]])
    return want_tf, want_stats


def test_tf_and_docstats_kernels_identical(spark, tmp_path):
    """The tf kernel's tf and docstats rows equal the spec's on a real
    corpus plus edge docs (camel case, empty, punctuation only, repeats)."""
    from geocoderpl_spark.operators.docids import assign_doc_ids
    from geocoderpl_spark.sources.corpus import synth_corpus

    meta = ["repo", "path", "commit", "lang"]
    docs = assign_doc_ids(synth_corpus(spark, 800), ["repo", "path", "commit"], 8)
    extra = spark.createDataFrame(
        [(10**6 + i, f"r{i}", f"p{i}", "c", "py", c) for i, c in enumerate(EXTRA_DOCS)],
        "doc_id long, repo string, path string, commit string, lang string, content string",
    )
    docs = docs.select("doc_id", "content", *meta).unionByName(
        extra.select("doc_id", "content", *meta)
    )
    want_tf, want_stats = _assert_kernel_matches_spec(spark, docs, tmp_path, meta)
    assert len(want_stats) == 804 and len(want_tf) > 800


def test_fused_tf_sha_kernels(spark, tmp_path):
    """One scan makes both relations: a zero-token doc (empty or
    punctuation only) gets doclen 0 and its own sha256 in docstats and no
    tf row; no tf row has a NULL term; every doc has exactly one docstats
    row."""
    docs = spark.createDataFrame(
        list(enumerate(EXTRA_DOCS)), "doc_id long, content string"
    )
    want_tf, want_stats = _assert_kernel_matches_spec(spark, docs, tmp_path, [])
    assert want_stats["doc_id"].tolist() == [0, 1, 2, 3]
    assert want_stats["doclen"].tolist() == [3, 0, 0, 3]
    assert want_stats["sha256"].nunique() == 4
    assert sorted(set(want_tf["doc_id"])) == [0, 3]
    assert want_tf[want_tf["doc_id"] == 3]["tf"].tolist() == [2, 1]
    assert want_tf[want_tf["doc_id"] == 3]["positions"].tolist() == [[1, 3], [2]]


def test_tokenize_fuzz_four_way_parity():
    """Hypothesis fuzz: spec (python re), DuckDB, and Arrow RE2
    (tokenize_arrow) agree on arbitrary printable+unicode strings."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geocoderpl_spark.functions.tokenize import tokenize_arrow, tokenize_py

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=80))
    def check(raw):
        expected = tokenize_py(raw)
        sql = "select " + duckdb_tokenize_sql("?") + " as toks"
        got_duck = duckdb.sql(sql, params=[raw]).fetchone()[0]
        assert got_duck == expected, raw
        terms, _, doclen = tokenize_arrow(pa.array([raw]))
        assert terms.to_pylist() == expected, raw
        # the kernel's doclen == the spec's token count
        assert doclen[0] == len(expected), raw

    check()
