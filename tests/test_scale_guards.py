"""Scale-design guards (SURVEY.md §7.4): hot-term skew is actually split
across tasks, and no row-at-a-time Python ever enters the engine."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

ENGINE_ROOT = Path(__file__).resolve().parent.parent / "geocoderpl_spark"


def test_hot_term_postings_split_across_partitions(spark, tmp_path):
    """north_rule: 'salted repartition by term hash to defuse hot-term skew'.
    Our salt is the doc-range slice: a hot term's postings must land in
    multiple shuffle partitions, not gather on one reducer — each encode
    task writes its own part file, so the hot term's blocks must sit in
    several distinct part files."""
    from geocoderpl_spark.operators.docids import assign_doc_ids
    from geocoderpl_spark.operators.postings import build_postings, build_terms
    from geocoderpl_spark.sources.corpus import HOT_TERM, synth_corpus
    from tests.test_tokenize import run_tf_kernel

    docs = assign_doc_ids(synth_corpus(spark, 2000), ["repo", "path", "commit"], 8)
    tf, _ = run_tf_kernel(spark, docs, str(tmp_path / "tf"))
    terms = build_terms(tf)
    out = str(tmp_path / "postings")
    build_postings(tf, terms, 220.0, out, n_buckets=8, partitions=16, n_docs=2000)
    hot_id = terms.filter(F.col("term") == HOT_TERM).collect()[0]["term_id"]
    hot = (
        spark.read.parquet(out)
        .filter(F.col("term_id") == hot_id)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert hot >= 3, f"hot term postings produced in only {hot} part file(s)"


def test_no_row_at_a_time_python_udfs():
    """input_hint: 'vectorized pandas/Arrow UDFs (no per-row Python)
    throughout'. Greps the engine source for the slow-path constructs."""
    banned = [
        re.compile(r"F\.udf\("),
        re.compile(r"@udf\b"),
        re.compile(r"\.rdd\b"),
        re.compile(r"functions\.udf\("),
    ]
    offenders = []
    for py in ENGINE_ROOT.rglob("*.py"):
        text = py.read_text()
        for pat in banned:
            for m in pat.finditer(text):
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{py.relative_to(ENGINE_ROOT.parent)}:{line} {pat.pattern}")
    assert not offenders, offenders


# every environment variable the engine reads: a new escape hatch or tuning
# knob must show up here, in a reviewed diff
ENV_KNOBS = {
    "GRAFT_MASTER",
    "GRAFT_EXECUTOR_MEM",
    "GRAFT_BROADCAST_IDS_ROWS",
    "GRAFT_HASH_IDS_MIN_ROWS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_DRIVER_MEM",
}


def test_env_knobs_are_registered():
    """The set of ``os.environ`` names read under geocoderpl_spark/ is
    exactly :data:`ENV_KNOBS`, and every read names its variable literally."""
    read = re.compile(r"os\.environ(?:\.get\(|\[)\s*(['\"])(\w+)\1")
    any_read = re.compile(r"os\.environ\b|os\.getenv\(")
    names, unnamed = set(), []
    for py in ENGINE_ROOT.rglob("*.py"):
        text = py.read_text()
        names |= {m.group(2) for m in read.finditer(text)}
        n_any = len(any_read.findall(text))
        if n_any != len(read.findall(text)):
            unnamed.append(str(py.relative_to(ENGINE_ROOT.parent)))
    assert not unnamed, unnamed
    assert names == ENV_KNOBS


def test_hot_term_query_capped_and_rank_identical(spark, tmp_path, monkeypatch):
    """Serving-path hot-term cap (SCALE.md mitigation): a query containing a
    >30%-df term must (a) be routed off the per-query gather when that term's
    candidate blocks exceed the cap, (b) stay rank-identical to the exact
    path, unserved and served, and (c) never ship more than
    max_blocks_per_term blocks per term into the kernel on the cold path."""
    from geocoderpl_spark.functions.codec import BLOCK_SIZE
    from geocoderpl_spark.operators import topk
    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.sources.corpus import HOT_TERM, synth_corpus

    idx = build_index(
        spark, synth_corpus(spark, 2000), str(tmp_path / "idx"),
        n_buckets=8, partitions=8,
    )
    q = spark.createDataFrame(
        [(0, f"{HOT_TERM} term_0001", 10), (1, "term_0002 term_0003", 10),
         (2, "term_0500 term_4999", 10)],
        "query_id long, query_text string, k int",
    )
    exact = [tuple(r) for r in idx.topk(q, "exact").orderBy("query_id", "rank").collect()]

    # hot term df ~35% of 2000 = ~700 docs -> ~6 blocks; a cap of 1 block
    # (128 postings) forces queries 0 and 1 (term_000N are in nearly every
    # doc) onto the exact tail, while query 2's rare terms stay pruned
    hot_df = idx.terms.filter(F.col("term") == HOT_TERM).collect()[0]["df"]
    assert hot_df > 0.3 * idx.n_docs  # precondition: genuinely hot
    monkeypatch.setattr(topk, "MAX_BLOCKS_PER_TERM", 1)
    exact_qids = []
    score_rows = topk._score_rows

    def recording(rows, gated, *a, **kw):
        exact_qids.append(sorted(r["query_id"] for r in gated.select("query_id").distinct().collect()))
        return score_rows(rows, gated, *a, **kw)

    monkeypatch.setattr(topk, "_score_rows", recording)
    got = [tuple(r) for r in idx.topk(q, mode="pruned").orderBy("query_id", "rank").collect()]
    assert got == exact, "capped/fallback path lost rank-identity"
    assert exact_qids == [[0, 1]], exact_qids  # only the hot queries left the kernel
    idx.serve()
    served = [tuple(r) for r in idx.topk(q, mode="pruned").orderBy("query_id", "rank").collect()]
    assert served == exact, "served capped path lost rank-identity"
    assert exact_qids[1:] == [[0, 1]], exact_qids  # served: hot queries are routed to Spark

    # cold path invariant: no (query, term) ships more blocks than the cap
    cap = 4096
    n_blocks = (
        idx.postings.groupBy("term_id").count()
        .filter(F.col("count") > cap).count()
    )
    assert hot_df // BLOCK_SIZE + 1 <= cap and n_blocks == 0


def test_autocomplete_expansion_is_pushed_range_scan(spark, tmp_path, monkeypatch):
    """VERDICT r02 #1: the prefix expansion must reach the terms scan as a
    pushed range predicate (term >= p AND term < p||'{') with NO
    BroadcastNestedLoopJoin anywhere in the plan — a full-dictionary scan
    per keystroke batch does not survive a 1e9-term vocabulary. Checked on
    the scan an unserved index's autocomplete runs."""
    from geocoderpl_spark.operators.docids import assign_doc_ids
    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.plans.engine import QueryEngine
    from geocoderpl_spark.sources.corpus import synth_corpus

    docs = assign_doc_ids(synth_corpus(spark, 400), ["repo", "path", "commit"], 8)
    idx = build_index(spark, docs, str(tmp_path / "acidx"), n_buckets=4, id_col="doc_id")
    q = spark.createDataFrame(
        [(0, "term_00", 5), (1, "term_0001 the_ho", 5), (2, "term_0001 ", 5)],
        "query_id long, query_text string, k int",
    )
    scans = []
    prefix_scan = QueryEngine._prefix_scan

    def recording(self, segs, prefixes):
        scans.append(prefix_scan(self, segs, prefixes))
        return scans[-1]

    monkeypatch.setattr(QueryEngine, "_prefix_scan", recording)
    rows = idx.autocomplete(q, max_expansions=10).collect()
    assert len(scans) == 1
    plan = scans[0]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    # Spark truncates the printed PushedFilters list, so assert on the
    # shortest ranges, which survive the truncation
    assert "GreaterThanOrEqual(term,term_00)" in plan  # pushed range lower bound
    assert "LessThan(term,term_00{)" in plan           # pushed range upper bound
    # trailing-separator query (all-exact) must equal the exact path
    exact = idx.topk(
        spark.createDataFrame([(2, "term_0001", 5)], "query_id long, query_text string, k int"),
        "exact",
    ).collect()
    got2 = sorted([(r.rank, r.doc_id, r.score) for r in rows if r.query_id == 2])
    assert got2 == sorted([(r.rank, r.doc_id, r.score) for r in exact])
    # prefix queries return results (expansion actually matched terms)
    assert any(r.query_id == 0 for r in rows) and any(r.query_id == 1 for r in rows)


def test_terms_broadcast_bounded_by_cap(spark, tmp_path, monkeypatch):
    """The postings stage hints a broadcast of the dictionary only while its
    size is known and within ``docids.BROADCAST_IDS_MAX_ROWS``. Above the
    cap (forced to 0, with the planner's own broadcast off) the tf ⋈ terms
    join is planned without a broadcast, and the index decodes to the same
    postings as the default build."""
    from geocoderpl_spark.operators import docids
    from geocoderpl_spark.operators.postings import decode_postings, postings_input
    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.plans.manifest import read_index_dir
    from geocoderpl_spark.sources.corpus import synth_corpus

    def decoded(idx):
        rows = decode_postings(idx.postings).toPandas()
        return rows.sort_values(["term_id", "doc_id"]).reset_index(drop=True)

    a = build_index(spark, synth_corpus(spark, 300), str(tmp_path / "a"), 4, 4)
    tf = read_index_dir(spark, str(tmp_path / "a" / "tf"))
    terms = read_index_dir(spark, str(tmp_path / "a" / "terms"))
    n_terms = terms.count()

    def plan() -> str:
        rows, _ = postings_input(tf, terms, 4, 4, n_docs=300, n_terms=n_terms)
        return rows._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan()
    monkeypatch.setattr(docids, "BROADCAST_IDS_MAX_ROWS", 0)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "BroadcastHashJoin" not in plan()
        b = build_index(spark, synth_corpus(spark, 300), str(tmp_path / "b"), 4, 4)
        assert decoded(a).equals(decoded(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
