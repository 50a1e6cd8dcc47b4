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


def _spec_partials(want_tf):
    """The spec's per-term (df, cf), indexed by term."""
    return want_tf.groupby("term").agg(df=("tf", "size"), cf=("tf", "sum"))


def _summed_partials(partials):
    """Partial (term, df, cf) rows summed per term, like the terms stage."""
    return partials.groupby("term")[["df", "cf"]].sum()


def _assert_kernel_matches_spec(spark, docs, tmp_path, meta):
    """Plain and positional kernel output over ``docs`` == the spec: every
    tf row, every (1-based) position list, every docstats row and the
    ``_termstats`` partials summed per term; no tf term is NULL."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    want_tf, want_stats = _spec_tf_docstats(pdf)
    want_partials = _spec_partials(want_tf)
    for positional in (False, True):
        out_dir = str(tmp_path / f"tf{int(positional)}")
        tf, stats = run_tf_kernel(spark, docs, out_dir, meta, positional)
        files = sorted(glob.glob(os.path.join(out_dir, "_termstats", "part-*.parquet")))
        partials = pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()
        assert _summed_partials(partials).sort_index().equals(
            want_partials.sort_index()
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


def _sliced_docs():
    """Docs whose slices, at bounds of a few dozen bytes, start and end
    with NULL and zero-token docs, plus runs of zero-token docs (slices
    without a token) and a doc longer than any bound used."""
    import random

    rng = random.Random(7)
    words = ["fooBar", "x", "the_hot_term", "alpha", "b2", "XmlReader"]
    docs = [None]
    for _ in range(300):
        r = rng.random()
        if r < 0.15:
            docs.append(None)
        elif r < 0.3:
            docs.append(rng.choice(["", "--- ;;", "-" * rng.randint(1, 90)]))
        else:
            docs.append(" ".join(rng.choice(words) for _ in range(rng.randint(1, 12))))
    docs[150] = " ".join(words * 40)
    return docs


def test_tf_slices_bounded_and_match_spec(monkeypatch):
    """The tf kernel's counting core (:func:`_tf_slices`) over many small
    slices: tokenize_arrow never sees more than the slice bound unless it
    gets a single doc; slices start and end on NULL and zero-token docs;
    and the tf rows, positions, summed partials and doclens equal the
    spec's (tokenize_py + Counter), plain and positional, at every bound."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    from geocoderpl_spark.operators import postings

    docs = _sliced_docs()
    content = pc.fill_null(pa.array(docs, pa.string()), "")
    doc_ids = np.arange(len(docs), dtype=np.int64) * 7 + 3
    want_tf, want_stats = _spec_tf_docstats(
        pd.DataFrame({"doc_id": doc_ids, "content": docs})
    )
    want_partials = _spec_partials(want_tf)
    nbytes = [len((d or "").encode()) for d in docs]
    zero_token = [d is not None and not tokenize_py(d) for d in docs]

    calls = []
    real = postings.tokenize_arrow

    def recording(arr):
        # a slice of ``content`` (offset 0): its offset is its first row
        a, b = arr.offset, arr.offset + len(arr)
        assert sum(nbytes[a:b]) <= bound or b - a == 1, (a, b)
        calls.append((a, b))
        return real(arr)

    monkeypatch.setattr(postings, "tokenize_arrow", recording)
    seen = set()
    for bound in (24, 40, 64, 100):
        for positional in (False, True):
            calls.clear()
            out = list(postings._tf_slices(content, doc_ids, positional, bound))
            # the slices cover the batch in order, each row once
            assert len(out) == len(calls) > 20
            assert [r for a, b in calls for r in range(a, b)] == list(range(len(docs)))
            tf = pa.concat_tables([t for t, _, _ in out if t is not None]).to_pandas()
            got = tf.sort_values(["doc_id", "term"]).reset_index(drop=True)
            cols = ["term", "doc_id", "doclen", "tf"]
            assert got[cols].equals(want_tf[cols])
            if positional:
                assert [list(p) for p in got["positions"]] == want_tf["positions"].tolist()
            partials = pa.concat_tables([p for _, p, _ in out if p is not None])
            assert _summed_partials(partials.to_pandas()).sort_index().equals(
                want_partials.sort_index()
            )
            doclen = np.concatenate([d for _, _, d in out])
            assert doclen.tolist() == want_stats["doclen"].tolist()
            for (a, b), (t, _, _) in zip(calls, out):
                if all(zero_token[r] or docs[r] is None for r in range(a, b)):
                    assert t is None
                    seen.add("slice without tokens")
                if b - a == 1 and nbytes[a] > bound:
                    seen.add("doc over the bound")
                for end, r in (("first", a), ("last", b - 1)):
                    if docs[r] is None:
                        seen.add(f"NULL {end}")
                    if zero_token[r]:
                        seen.add(f"zero-token {end}")
    assert seen == {
        "slice without tokens", "doc over the bound", "NULL first", "NULL last",
        "zero-token first", "zero-token last",
    }


def test_tf_kernel_sliced_matches_spec(spark, tmp_path, monkeypatch):
    """The Spark tf kernel with its slice bound cut to 4 KiB, so each
    task's batch spans many slices: tf rows, positions, summed partials
    and docstats equal the spec's over synth_corpus(800), the edge docs,
    NULL docs and a doc larger than the bound."""
    from geocoderpl_spark.operators import postings
    from geocoderpl_spark.operators.docids import assign_doc_ids
    from geocoderpl_spark.sources.corpus import synth_corpus

    monkeypatch.setattr(postings, "_TF_SLICE_BYTES", 4096)
    big = "bigDoc " * 1200 + "x y x"
    edge = EXTRA_DOCS + [None, big, None, "--- ;;"]
    docs = assign_doc_ids(synth_corpus(spark, 800), ["repo", "path", "commit"], 8)
    extra = spark.createDataFrame(
        [(10**6 + i, c) for i, c in enumerate(edge)], "doc_id long, content string"
    )
    docs = docs.select("doc_id", "content").unionByName(extra)
    sizes = docs.selectExpr("sum(octet_length(content)) n").collect()[0]["n"]
    assert sizes > 100 * 4096 and len(big) > 4096
    want_tf, want_stats = _assert_kernel_matches_spec(spark, docs, tmp_path, [])
    assert len(want_stats) == 800 + len(edge)


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
