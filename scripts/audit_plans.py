"""Regenerate PLANS.md: physical-plan evidence for the engine's key
pipelines (predicate pushdown on posting scans, broadcast joins, codegen
spans, shuffle structure). Run after operator changes:

    python scripts/audit_plans.py
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from geocoderpl_spark.session import get_spark

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(cpus=8)
    idx = entrymod._index_for(spark, SF)
    sections: list[tuple[str, str, str]] = []

    # 1. cold pruned posting scan: partition-dir + row-group pruning evidence
    q = spark.createDataFrame([(0, "the fast scan", 10)], "query_id long, query_text string, k int")
    sections.append((
        "Query stage — cold pruned posting scan (partition pruning evidence)",
        "The query terms are tokenized driver-side and resolved to "
        "term_ids by one dictionary probe (a global query-term ordinal is "
        "attached by a broadcast remap join); the file-level "
        "stats manifest (plans/manifest.py) then enumerates exactly the "
        "posting files whose (bucket, term_id-range) can match — no "
        "directory listing — and the scan still carries literal filters: "
        "`PartitionFilters: [bucket IN (...)]` plus "
        "`PushedFilters: [In(term_id, ...)]` for Parquet row-group min/max "
        "skipping WITHIN each opened file (blocks are term_id-contiguous "
        "per file). The reference's 9-of-40,000-sector fetch, J4/O4.",
        plan_of(idx.topk(q, "pruned")),
    ))

    # 1b. manifest file enumeration evidence (inputFiles, not just explain)
    from geocoderpl_spark.operators.topk import _pruned_scan
    from geocoderpl_spark.plans.manifest import load_postings_manifest, manifest_scan

    ents = load_postings_manifest(idx.root) or []
    tid = [r["term_id"] for r in idx.terms.filter(F.col("term") == "the").collect()]
    mdf = manifest_scan(spark, idx.root, ents, tid, idx.n_buckets)
    ddf = _pruned_scan(idx.postings, tid, idx.n_buckets)
    note = (
        f"Manifest records {len(ents)} posting files with per-file "
        f"(bucket, term_id min/max). A 1-term query opens "
        f"{len(mdf.inputFiles())} file(s) via the manifest vs "
        f"{len(ddf.inputFiles())} enumerated by directory listing + "
        "partition pruning — same rows, no listing at 10^5+ files/bucket."
    )
    sections.append((
        "Query stage — manifest file enumeration (Iceberg-style)",
        note,
        plan_of(mdf),
    ))

    idx.serve()
    sections.append((
        "Query stage — served (driver tier active)",
        "With serve() the pruned mode answers from the driver-side tier "
        "(plans/serving.py): the 'plan' is a LocalTableScan of the already-"
        "computed result — zero Spark execution per query (r4; gate "
        "fts_bm25_topk_served certifies it against the BM25 oracle). The "
        "Spark MaxScore pipeline remains the path for hot/over-cap and "
        "batch queries — its plan is the exact section below plus the "
        "applyInPandas kernel exchange.",
        plan_of(idx.topk(q, "pruned")),
    ))

    # 2. exact distributed scoring
    sections.append((
        "Query stage — exact distributed BM25 (batch path)",
        "Pruned scan -> Arrow decode -> term-id remap -> query terms -> "
        "partial-aggregated score sum -> window top-k. The query terms "
        "were gated driver-side, so both joined relations are broadcast "
        "LocalTableScans (no dictionary join at query time); the only "
        "wide exchange is the score groupBy, keyed by (query_id, doc_id) "
        "— skew-free.",
        plan_of(idx.topk(q, "exact")),
    ))

    # 3. tf + postings build plan (logical shape)
    from geocoderpl_spark.operators.postings import build_terms, postings_input, tf_docstats_direct
    from geocoderpl_spark.plans.manifest import _part_files, read_index_dir, read_part_files

    docs = entrymod._docs(spark, SF).withColumnRenamed("text", "content")
    tf_root = tempfile.mkdtemp(prefix="plans_tf_")
    kernel = tf_docstats_direct(docs, [], tf_root)
    kernel.write.format("noop").mode("overwrite").save()
    tf = read_index_dir(spark, tf_root)
    terms = build_terms(tf)
    sections.append((
        "Build stage — tf kernel (mapInArrow, shuffle-free)",
        "One scan, one MapInArrow node, zero exchanges: tokenize + per-doc "
        "tf counting are per-row maps; the kernel is Arrow C++ (RE2) plus a "
        "numpy sort of int64 (doc, term code) keys, no Python string objects "
        "(SCALE.md kernel study). "
        "It writes the tf rows to parquet itself and returns one docstats "
        "row per doc.",
        plan_of(kernel),
    ))

    dictionary = build_terms(None, partials=read_part_files(
        spark, _part_files(os.path.join(idx.root, "tf", "_termstats"))
    ))
    dict_plan = plan_of(dictionary)
    dictionary._stats_cache.unpersist()
    # the cached plan prints twice (AQE final + initial): one exchange each
    assert "rangepartitioning(" in dict_plan and "MapInArrow" in dict_plan, dict_plan
    for absent in ("hashpartitioning", "Window", "BroadcastHashJoin"):
        assert absent not in dict_plan, dict_plan
    sections.append((
        "Build stage — term dictionary",
        "Above docids.BROADCAST_IDS_MAX_ROWS partial rows only: below it "
        "the build ranks the dictionary on the driver with no Spark job "
        "(write_terms_local). "
        "The tf kernel's per-batch (term, df, cf) partials go through ONE "
        "range exchange on term (RangePartitioning) into ONE MapInArrow "
        "rank kernel that sums, sorts and numbers each range partition; "
        "the output is cached (InMemoryRelation), one collect of each "
        "partition's last row gives the id offsets, and term_id is a "
        "literal-array lookup by partition id. No groupBy exchange, no "
        "Window, no join.",
        dict_plan,
    ))
    sections.append((
        "Build stage — posting construction",
        "tf is shuffle-free (per-doc Arrow kernel). Postings: broadcast "
        "term-dictionary join, hash repartition on (bucket, doc-slice) "
        "(deterministic; hot terms split across slices), bucket-major sort "
        "within partitions; the Arrow encode kernel then writes one parquet "
        "file per task and bucket itself. No sampled range boundaries.",
        plan_of(postings_input(tf, terms, 16, 8, n_docs=500)[0]),
    ))
    terms._stats_cache.unpersist()
    shutil.rmtree(tf_root, ignore_errors=True)

    # 3b. doc-id attach: the keyed build's corpus ⋈ rank-table join, planned
    # once the rank table is materialized (as the tf stage sees it)
    from geocoderpl_spark.operators.docids import assign_doc_ids
    from geocoderpl_spark.sources.corpus import synth_corpus

    corpus_root = tempfile.mkdtemp(prefix="plans_corpus_")
    synth_corpus(spark, 2000).write.parquet(corpus_root + "/c")
    corpus = spark.read.parquet(corpus_root + "/c")
    keys = ["repo", "path", "commit"]
    ids = assign_doc_ids(corpus.select(*keys), keys)
    attach_plan = plan_of(corpus.select(*keys, "content").join(ids, keys))
    ids._dense_ids_cache.unpersist()
    shutil.rmtree(corpus_root, ignore_errors=True)
    assert "ExistingRDD" not in attach_plan, attach_plan
    broadcast_inputs = re.findall(
        r"^\(\d+\) BroadcastExchange\s*\nInput \[\d+\]: (.*)$", attach_plan, re.M
    )
    assert broadcast_inputs, attach_plan
    assert not any("content#" in i for i in broadcast_inputs), attach_plan
    sections.append((
        "Build stage — doc-id attach",
        "A keyed build's tf stage reads corpus ⋈ assign_doc_ids(keys) on the "
        "natural key. The rank table is cached keys-only, and each row's id "
        "is its partition's offset (one array literal indexed by the "
        "partition id) plus its row number: no local-data relation, so no "
        "`Scan ExistingRDD` and no parallelize job. The cached table "
        "therefore reports its real size, and the planner broadcasts it "
        "(the only BroadcastExchange carries keys and doc_id, never "
        "content); the corpus scan feeds the join in place.",
        attach_plan,
    ))

    # 4. a relational demo: broadcast dim join
    sections.append((
        "Relational — customer->nation->region rollup",
        "Both dims broadcast (BroadcastHashJoin); scan prunes columns "
        "(ReadSchema shows only the 3 needed customer columns).",
        plan_of(entrymod.q_rel_broadcast_join(spark, SF)),
    ))

    # 4b-4c. the remaining query modes on an UNSERVED load of the positional
    # index the fts gates use: the gates serve it first, and a served mode's
    # plan is a LocalTableScan of its already-computed result
    from geocoderpl_spark.plans.build import InvertedIndex

    uidx = InvertedIndex.load(spark, entrymod._pos_index_for(spark, SF).root)
    bm25_q = entrymod._bm25_queries_df(spark)

    # 4b. autocomplete: dictionary expansion, then a plain pruned batch
    prefix_scans = []
    prefix_scan = uidx._prefix_scan
    uidx._prefix_scan = lambda segs, p: prefix_scans.append(prefix_scan(segs, p)) or prefix_scans[-1]
    ac = uidx.autocomplete(
        spark.createDataFrame(entrymod.AUTOCOMPLETE_QUERIES, "query_id long, query_text string, k int"),
        max_expansions=entrymod.AUTOCOMPLETE_MAX_EXP,
    )
    sections.append((
        "Query stage — autocomplete (prefix expansion)",
        "The prefix expansion (QueryEngine._prefix_scan, first plan) is a "
        "PUSHED RANGE predicate on the term-sorted dictionary "
        "(`term >= p AND term < p||'{'` in PushedFilters — Parquet "
        "row-group min/max skipping, no BroadcastNestedLoopJoin, no "
        "full-dictionary scan), summed by term across segments. Its "
        "(term, df) rows are collected, each query keeps its "
        "max_expansions highest-df matches, and the expanded batch runs as "
        "an ordinary pruned top-k (second plan): manifest-pruned scan into "
        "the MaxScore kernel.",
        plan_of(prefix_scans[0]) + "\n" + plan_of(ac),
    ))

    # 4b2. boolean + filtered search
    sections.append((
        "Query stage — boolean search (must / must_not)",
        "One manifest-pruned posting scan over must ∪ must_not ids; must "
        "and must_not terms ride one role-tagged broadcast, so the AND "
        "count, the BM25 sum and the NOT veto are columns of a single "
        "(query_id, doc_id) HashAggregate (partial agg before the "
        "exchange). No cartesian, no anti-join, no per-term driver loop.",
        plan_of(uidx.topk_boolean(spark.createDataFrame(
            entrymod.BOOL_QUERIES, "query_id long, must string, must_not string, k int"
        ))),
    ))
    sections.append((
        "Query stage — faceted (metadata-filtered) BM25",
        "The lang predicate becomes a doc_id semi-join applied AFTER the "
        "term prune and BEFORE scoring (AQE sizes it); corpus stats stay "
        "global so scores are comparable across filters.",
        plan_of(uidx.topk_filtered(
            bm25_q, uidx.docstats.filter(F.col("lang") == entrymod.FILTER_LANG)
        )),
    ))
    sections.append((
        "Query stage — snippets (hit highlighting)",
        "The hit set's doc_ids are a LITERAL pushed filter on the corpus "
        "scan (J9 point-fetch shape — PushedFilters: [In(doc_id, ...)]), "
        "hits+query-terms broadcast onto the fetched docs, and the "
        "position/window math is pure JVM array expressions (no UDF).",
        plan_of(uidx.snippets(bm25_q, width=5, docs=entrymod._docs(spark, SF))),
    ))

    # 4c. indexed phrase search over positional postings
    sections.append((
        "Query stage — indexed phrase search (positional postings)",
        "Manifest-pruned scan of the phrase terms' positional blocks, "
        "Arrow decode of positions, ordinal-shift explode, and two uniform "
        "(doc_id, adj)-keyed aggregations — no cartesian anywhere; the "
        "scan touches only the phrase terms' buckets.",
        plan_of(uidx.phrase(
            spark.createDataFrame(entrymod.PHRASE_QUERIES, "query_id long, phrase_text string"), k=10
        )),
    ))

    # 4d. persisted IVF: partition-dir pruned candidate scan
    from geocoderpl_spark.plans.ann_index import build_ivf_index

    ivf_root = tempfile.mkdtemp(prefix="plans_ivf_")
    ivf = build_ivf_index(
        spark, spark.read.parquet(f"{SF}/embeddings.parquet"), ivf_root, dim=64
    )
    sections.append((
        "ANN — persisted IVF index (partition-dir pruned scan)",
        "nprobe selection runs driver-side against the pinned centroid "
        "table (no Spark job); the candidate scan carries "
        "`PartitionFilters: [list_id IN (...)]` — only the probes' nprobe "
        "list directories are read (executed-file test in "
        "test_pipeline_ops.py).",
        plan_of(ivf.topk([0, 1, 2], k=5)),
    ))
    sections.append((
        "ANN — persisted IVF probe-vector fetch (id-sorted sidecar)",
        "The serve-time probe fetch (r4, VERDICT r03 #1) reads the "
        "id-SORTED (id, list_id, vec) sidecar with a pushed `vec_id IN "
        "(...)` — Parquet row-group min/max skipping on the sort column, "
        "never a scan of the list_id partition dirs (executed-file test "
        "in test_serving.py). Callers holding the query vectors can skip "
        "the fetch entirely via the probe_vecs argument.",
        plan_of(ivf.ids.filter(F.col("vec_id").isin([0, 1, 2]))),
    ))
    shutil.rmtree(ivf_root, ignore_errors=True)

    # 4e. segmented (LSM) boolean + filtered — the r4 feature-parity paths
    sections.append((
        "Segmented (LSM) — boolean search over positional segments",
        "Per-segment manifest-pruned scans, term_ids remapped to global "
        "query ordinals, ONE role-tagged (query_id, doc_id) aggregate "
        "carrying the BM25 sum + AND count + NOT veto (shared "
        "_boolean_tail with the single-index path — same oracle).",
        plan_of(entrymod.q_stream_boolean(spark, SF)),
    ))
    sections.append((
        "Segmented (LSM) — faceted BM25 over positional segments",
        "Same filter-query semantics as the single index: global N/avgdl/"
        "df (driver-side dictionary probes), doc_id semi-join before the "
        "shared scoring tail; positions column-pruned out of every "
        "segment scan.",
        plan_of(entrymod.q_stream_filtered_topk(spark, SF)),
    ))
    sections.append((
        "Serving tier — driver-side topk (no Spark plan by design)",
        "`serve()` (plans/engine.py, one code path for a built index and a "
        "segment set) pins the vocabulary + file manifest per segment and "
        "answers pruned top-k with DIRECT parquet block reads feeding the "
        "same MaxScore kernel in-process (plans/serving.py) — zero Spark "
        "jobs per query (job-count test in test_serving.py), results "
        "bit-identical to the Spark kernel path (gate "
        "fts_bm25_topk_served hash-matches the BM25 oracle). Hot/over-cap "
        "queries route to the distributed plan above. There is no "
        "physical plan to print: the absence of one IS the design.",
        "(driver-side execution — see plans/serving.py)",
    ))

    # 5. coords route: sector-pruned NN lookup
    sections.append((
        "Coords route — sector-pruned NN + fetch (georoute.py)",
        "The sector directory (distinct cells) and the per-query nearest-9 "
        "sector set are broadcast; the big point table is scanned once and "
        "filtered by the broadcast hash join on (cell_x, cell_y) — the "
        "partition-pruning shape (on a cell-partitioned table the same "
        "literal cell list reaches PartitionFilters, like the bucket prune). "
        "The final fetch broadcasts the k winning rows.",
        plan_of(entrymod.q_route_coords_lookup(spark, SF)),
    ))

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan audit (regenerate: `python scripts/audit_plans.py`)\n\n"
            "Evidence that the declared plans compile to the physical strategies\n"
            "the 100TB design depends on: parquet predicate pushdown + row-group\n"
            "skipping on posting scans, broadcast joins for dictionaries/dims,\n"
            "single-shuffle query paths, whole-stage codegen on relational ops.\n"
        )
        for title, note, plan in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}```\n")
    print("PLANS.md written")


if __name__ == "__main__":
    main()
