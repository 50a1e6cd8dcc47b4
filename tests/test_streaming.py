"""Incremental (streaming) index: per-batch segments, segment-union queries,
LSM merge — all rank-identical to a from-scratch batch build."""

from __future__ import annotations

import os

import pytest

from geocoderpl_spark.plans.build import InvertedIndex, build_index
from geocoderpl_spark.sources.corpus import synth_corpus
from geocoderpl_spark.streaming.incremental import (
    SegmentedIndex,
    merge_segments,
    start_incremental_indexer,
)

SCHEMA = "repo string, path string, commit string, lang string, content string, sha256 string"
N = 300


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    stream_dir, index_root = str(root / "in"), str(root / "idx")
    os.makedirs(stream_dir)
    corpus = synth_corpus(spark, N).cache()
    # three deterministic file drops (split by path hash)
    from pyspark.sql import functions as F

    for i in range(3):
        part = corpus.filter(F.pmod(F.xxhash64("path"), F.lit(3)) == i)
        part.coalesce(1).write.mode("overwrite").parquet(f"{stream_dir}/drop{i}.tmp")
        # move the single parquet file into the watched dir as one file
        import glob
        import shutil

        f = glob.glob(f"{stream_dir}/drop{i}.tmp/*.parquet")[0]
        shutil.move(f, f"{stream_dir}/drop_{i}.parquet")
        shutil.rmtree(f"{stream_dir}/drop{i}.tmp")
    q = start_incremental_indexer(
        spark, stream_dir, index_root, SCHEMA, content_col="content",
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    return index_root, corpus


def test_segments_created_per_batch(spark, streamed):
    index_root, corpus = streamed
    seg = SegmentedIndex(spark, index_root)
    segs = seg.segments()
    assert len(segs) == 3
    n, avgdl = seg.global_stats()
    assert n == N
    # doc_ids globally unique across segments
    ids = set()
    for s in segs:
        sids = {r.doc_id for r in s.docstats.select("doc_id").collect()}
        assert not (ids & sids)
        ids |= sids
    assert ids == set(range(N))


def test_segment_union_query_matches_batch_build(spark, streamed, tmp_path):
    index_root, corpus = streamed
    seg = SegmentedIndex(spark, index_root)
    full = build_index(spark, corpus, str(tmp_path / "full"), n_buckets=8, partitions=8)
    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", 10), (1, "the_hot_term", 5), (2, "camelCaseFoo", 10)],
        "query_id long, query_text string, k int",
    )
    got = seg.topk(q).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    exp = (
        full.topk(q, "exact").toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    # segment doc_ids are assigned per-arrival-order, not by global key rank,
    # so compare by (score, count) profile per query AND verify via content:
    assert len(got) == len(exp)
    assert (got.score.to_numpy() == exp.score.to_numpy()).all()


def test_merge_segments_equals_sum(spark, streamed, tmp_path):
    index_root, corpus = streamed
    merged = merge_segments(spark, index_root, str(tmp_path / "merged"), n_buckets=8)
    assert merged.n_docs == N
    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", 10)], "query_id long, query_text string, k int"
    )
    seg = SegmentedIndex(spark, index_root)
    got = merged.topk(q, "exact").toPandas().sort_values("rank").reset_index(drop=True)
    exp = seg.topk(q).toPandas().sort_values("rank").reset_index(drop=True)
    assert got.equals(exp)
    # the merge row counts every part file it linked: tf, docstats and the
    # segments' dictionaries; only the stages the build took over resume
    import json

    from geocoderpl_spark.plans.manifest import _part_files

    with open(os.path.join(merged.root, "metrics", "metrics.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    assert rows[-1].keys() == rows[0].keys()
    assert rows[-1]["stage"] == "merge" and rows[-1]["status"] == "linked"
    assert rows[-1]["wall_ms"] >= 0
    assert rows[-1]["rows_out"] == sum(
        len(_part_files(os.path.join(s.root, t)))
        for s in seg.segments() for t in ("tf", "docstats", "terms")
    )
    assert {r["stage"] for r in rows if r["status"] == "resumed"} == {"tf", "docstats"}


def test_auto_compaction_bounds_segments(spark, tmp_path):
    """With compact_threshold=2, streaming 4 micro-batches must end with
    <= 2 live segments AND identical query results to an uncompacted run."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    stream_a, root_a = str(tmp_path / "in_a"), str(tmp_path / "idx_a")
    stream_b, root_b = str(tmp_path / "in_b"), str(tmp_path / "idx_b")
    os.makedirs(stream_a)
    os.makedirs(stream_b)
    corpus = synth_corpus(spark, 200)
    for i in range(4):
        part = corpus.filter(F.pmod(F.xxhash64("path"), F.lit(4)) == i)
        for d in (stream_a, stream_b):
            part.coalesce(1).write.mode("overwrite").parquet(f"{d}/t.tmp")
            f = glob.glob(f"{d}/t.tmp/*.parquet")[0]
            shutil.move(f, f"{d}/drop_{i}.parquet")
            shutil.rmtree(f"{d}/t.tmp")
    qa = start_incremental_indexer(
        spark, stream_a, root_a, SCHEMA, max_files_per_trigger=1,
        compact_threshold=2,
    )
    qa.awaitTermination(300)
    qb = start_incremental_indexer(
        spark, stream_b, root_b, SCHEMA, max_files_per_trigger=1,
    )
    qb.awaitTermination(300)

    sa, sb = SegmentedIndex(spark, root_a), SegmentedIndex(spark, root_b)
    assert len(sb.segments()) == 4
    assert len(sa.segments()) <= 2, [s.root for s in sa.segments()]
    assert sa.global_stats() == sb.global_stats()
    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", 10), (1, "the_hot_term", 5)],
        "query_id long, query_text string, k int",
    )
    got = sa.topk(q).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    exp = sb.topk(q).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert got.equals(exp)


def test_snapshot_log_and_time_travel(spark, streamed):
    """Each micro-batch commits a snapshot; pinning snapshot_id=1 queries the
    index as of the first batch (Iceberg-style time travel)."""
    from geocoderpl_spark.plans.snapshots import read_snapshots

    index_root, corpus = streamed
    snaps = read_snapshots(index_root)
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3]
    assert all(s["op"].startswith("append:") for s in snaps)
    assert len(snaps[0]["segments"]) == 1 and len(snaps[-1]["segments"]) == 3

    latest = SegmentedIndex(spark, index_root)
    asof1 = SegmentedIndex(spark, index_root, snapshot_id=1)
    n_latest, _ = latest.global_stats()
    n_old, _ = asof1.global_stats()
    assert n_latest == N and 0 < n_old < N
    q = spark.createDataFrame(
        [(0, "term_0001", 5)], "query_id long, query_text string, k int"
    )
    old_docs = {r.doc_id for r in asof1.topk(q).collect()}
    seg1_ids = {r.doc_id for r in asof1.segments()[0].docstats.select("doc_id").collect()}
    assert old_docs <= seg1_ids  # as-of view never sees later docs


def test_compaction_crash_window_is_safe(spark, tmp_path):
    """Crash-safety of compaction: if the GC step never ran (merged segment
    AND its consumed inputs both on disk), segments() must serve ONLY the
    merged one — no double counting; deleting the consumed dirs later
    changes nothing."""
    import json
    import shutil

    root = str(tmp_path / "idx")
    os.makedirs(root)
    corpus = synth_corpus(spark, 120)
    from pyspark.sql import functions as F

    from geocoderpl_spark.operators.docids import assign_doc_ids

    base = 0
    for i in range(2):
        part = assign_doc_ids(
            corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == i),
            ["repo", "path", "commit"],
        ).withColumn("doc_id", F.col("doc_id") + F.lit(base))
        build_index(spark, part, os.path.join(root, f"seg_{i:05d}"),
                    n_buckets=4, id_col="doc_id")
        base += part.count()

    seg = SegmentedIndex(spark, root)
    assert len(seg.segments()) == 2 and seg.global_stats()[0] == 120
    # merge WITHOUT GC — simulate the crash window after rename, before rmtree
    from geocoderpl_spark.streaming.incremental import merge_segments

    merged = os.path.join(root, "seg_00000-00001m")
    merge_segments(spark, root, merged, n_buckets=4)
    with open(os.path.join(merged, "merged_from.json"), "w") as f:
        json.dump(["seg_00000", "seg_00001"], f)

    live = SegmentedIndex(spark, root).segments()
    assert [os.path.basename(s.root) for s in live] == ["seg_00000-00001m"]
    n, _ = SegmentedIndex(spark, root).global_stats()
    assert n == 120  # no double counting while old dirs still exist
    q = spark.createDataFrame([(0, "term_0001", 5)], "query_id long, query_text string, k int")
    before = SegmentedIndex(spark, root).topk(q).collect()
    shutil.rmtree(os.path.join(root, "seg_00000"))
    from geocoderpl_spark.streaming.incremental import _check_disjoint_doc_ids
    from tests.test_serving import _no_jobs

    shutil.rmtree(os.path.join(root, "seg_00001"))
    after = SegmentedIndex(spark, root).topk(q).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_watermarked_windowed_rollup_drops_late_events(spark, tmp_path):
    """Structured Streaming watermark semantics: tumbling windows emit once
    the watermark passes them (append mode), a too-late event is dropped,
    and emitted rows equal the batch recomputation over on-time events
    restricted to closed windows."""
    import time as _time

    from pyspark.sql import functions as F

    from geocoderpl_spark.streaming.windowed import (
        EVENTS_SCHEMA,
        start_windowed_rollup,
        windowed_rollup,
    )

    sdir, odir = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(sdir)
    base = "2024-01-01 {h:02d}:{m:02d}:00"

    def ev(i, h, m, typ, val):
        return (i, i % 7, typ, base.format(h=h, m=m), float(val), "{}")

    drops = [
        # hours 0-2
        [ev(1, 0, 10, "click", 1.5), ev(2, 0, 40, "view", 2.0),
         ev(3, 1, 5, "click", 3.0), ev(4, 2, 59, "view", 4.25)],
        # hours 3-4 (watermark passes hours 0-2)
        [ev(5, 3, 30, "click", 5.0), ev(6, 4, 45, "view", 6.5)],
        # hour 5 + a LATE hour-0 event (must be dropped, hour 0 already final)
        [ev(7, 5, 0, "click", 7.0), ev(8, 0, 20, "click", 99.0)],
    ]
    for i, rows in enumerate(drops):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts string, value double, props string"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/t.tmp")
        import glob
        import shutil

        f = glob.glob(f"{sdir}/t.tmp/*.parquet")[0]
        shutil.move(f, f"{sdir}/drop_{i}.parquet")
        shutil.rmtree(f"{sdir}/t.tmp")
        _time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    q = start_windowed_rollup(spark, sdir, odir, watermark="30 minutes",
                              window="1 hour", max_files_per_trigger=1)
    q.awaitTermination(300)

    got = (
        spark.read.parquet(odir).toPandas()
        .sort_values(["window_start", "event_type"]).reset_index(drop=True)
    )
    ontime = [r for d in drops for r in d if r[0] != 8]  # event 8 is the late one
    batch = spark.createDataFrame(
        ontime, "event_id long, user_id long, event_type string, ts string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    exp = (
        windowed_rollup(batch)
        .filter(F.col("window_end") <= F.lit("2024-01-01 04:00:00").cast("timestamp"))
        .toPandas()
        .sort_values(["window_start", "event_type"]).reset_index(drop=True)
    )
    assert len(got) > 0
    assert got.equals(exp), (got, exp)
    # the late event's value (99.0) must appear nowhere
    assert not (got.sum_value > 90).any()


def test_stateful_sessionize_state_carries_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionization: state (last_ts, counters) must
    carry across micro-batches — a session spanning the batch boundary is
    NOT double-counted; final counts equal the batch operator."""
    import glob
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from geocoderpl_spark.streaming.stateful import stateful_sessionize

    rows = [
        # user 1: events 10 min apart straddling the batch split -> 1 session
        (1, 1, "c", "2024-01-01 00:00:00", 0.0, "{}"),
        (2, 1, "c", "2024-01-01 00:10:00", 0.0, "{}"),
        (3, 1, "c", "2024-01-01 01:10:00", 0.0, "{}"),   # 60min gap -> new session
        # user 2: both events in different batches, 10s apart -> 1 session
        (4, 2, "c", "2024-01-01 00:20:00", 0.0, "{}"),
        (5, 2, "c", "2024-01-01 00:20:10", 0.0, "{}"),
    ]
    schema = "event_id long, user_id long, event_type string, ts string, value double, props string"
    sdir = str(tmp_path / "in")
    os.makedirs(sdir)
    batches = [[rows[0], rows[3]], [rows[1], rows[2], rows[4]]]
    for i, rs in enumerate(batches):
        df = spark.createDataFrame(rs, schema).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/t.tmp")
        f = glob.glob(f"{sdir}/t.tmp/*.parquet")[0]
        shutil.move(f, f"{sdir}/drop_{i}.parquet")
        shutil.rmtree(f"{sdir}/t.tmp")
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp, value double, props string"
        ).option("maxFilesPerTrigger", 1).parquet(sdir)
    )
    q = (
        stateful_sessionize(stream)
        .writeStream.outputMode("update").format("memory").queryName("sess_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in spark.table("sess_t").withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").collect()
    }
    assert final[1] == (2, 3)   # boundary-straddling session not double-counted
    assert final[2] == (1, 2)


def _segments(spark, root, n_docs=120, n_segs=2):
    from pyspark.sql import functions as F

    from geocoderpl_spark.operators.docids import assign_doc_ids
    from geocoderpl_spark.plans.snapshots import commit_snapshot

    corpus = synth_corpus(spark, n_docs)
    base = 0
    names = []
    for i in range(n_segs):
        part = assign_doc_ids(
            corpus.filter(F.pmod(F.xxhash64("path"), F.lit(n_segs)) == i),
            ["repo", "path", "commit"],
        ).withColumn("doc_id", F.col("doc_id") + F.lit(base))
        name = f"seg_{i:05d}"
        build_index(spark, part, os.path.join(root, name), n_buckets=4, id_col="doc_id")
        base += part.count()
        names.append(name)
        commit_snapshot(root, names[: i + 1], op=f"append:{name}")
    return names


def test_expired_snapshot_raises_not_partial(spark, tmp_path):
    """Pinning a snapshot whose segments were GC'd by compaction must fail
    loudly (Iceberg 'snapshot expired'), never silently serve a subset."""
    from geocoderpl_spark.streaming.incremental import compact_segments

    root = str(tmp_path / "idx")
    os.makedirs(root)
    _segments(spark, root)
    assert compact_segments(spark, root, max_segments=1, n_buckets=4)
    # latest view fine
    assert SegmentedIndex(spark, root).global_stats()[0] == 120
    # pre-compaction snapshot now references GC'd dirs -> raise
    with pytest.raises(FileNotFoundError, match="expired"):
        SegmentedIndex(spark, root, snapshot_id=2).segments()


def test_gc_orphan_segments_heals_crashed_compaction(spark, tmp_path):
    """Crash after the compaction snapshot commit but before input GC leaks
    the consumed dirs; gc_orphan_segments (run by the next compact_segments
    call) must remove exactly them and change no query result."""
    import json

    from geocoderpl_spark.plans.snapshots import commit_snapshot
    from geocoderpl_spark.streaming.incremental import (
        compact_segments,
        gc_orphan_segments,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    names = _segments(spark, root)
    merged = os.path.join(root, "seg_00000-00001m")
    merge_segments(spark, root, merged, n_buckets=4)
    with open(os.path.join(merged, "merged_from.json"), "w") as f:
        json.dump(names, f)
    commit_snapshot(root, [os.path.basename(merged)], op="compact")
    # crash here: inputs never deleted
    assert all(os.path.exists(os.path.join(root, n)) for n in names)
    q = spark.createDataFrame(
        [(0, "term_0001", 5)], "query_id long, query_text string, k int"
    )
    before = [tuple(r) for r in SegmentedIndex(spark, root).topk(q).collect()]
    removed = gc_orphan_segments(root)
    assert sorted(removed) == names
    assert not any(os.path.exists(os.path.join(root, n)) for n in names)
    after = [tuple(r) for r in SegmentedIndex(spark, root).topk(q).collect()]
    assert before == after
    # idempotent + no-op through the compaction entry point
    assert gc_orphan_segments(root) == []
    assert compact_segments(spark, root, max_segments=4, n_buckets=4) is False


def test_sessionize_kernel_sorts_across_chunks():
    """applyInPandasWithState may deliver one group as several unordered
    Arrow chunks; the kernel must concatenate-then-sort, not sort per chunk
    (ADVICE r02). Feed chunks whose concatenation is out of order and assert
    the gap logic sees the globally sorted stream."""
    import pandas as pd

    from geocoderpl_spark.streaming.stateful import SESSION_GAP_S, _sessionize_group

    class FakeState:
        exists = False

        def __init__(self):
            self.stored = None

        @property
        def get(self):
            return self.stored

        def update(self, v):
            self.stored = v

    t0 = 1_700_000_000
    # chunk2 holds the EARLIEST event; sorted stream has one gap > threshold
    c1 = pd.DataFrame({
        "user_id": [1, 1],
        "event_id": [2, 3],
        "ts": pd.to_datetime([t0 + 10, t0 + SESSION_GAP_S + 100], unit="s"),
    })
    c2 = pd.DataFrame({
        "user_id": [1],
        "event_id": [1],
        "ts": pd.to_datetime([t0], unit="s"),
    })
    st = FakeState()
    (out,) = list(_sessionize_group((1,), iter([c1, c2]), st))
    # globally sorted: t0, t0+10 (same session), t0+gap+100 (new session)
    assert out["n_sessions"].iloc[0] == 2
    assert out["n_events"].iloc[0] == 3
    assert st.stored == (t0 + SESSION_GAP_S + 100, 2, 3)


def test_segmented_pruned_topk_rank_identical(spark, streamed, tmp_path):
    """VERDICT r02 #3: the serving-grade segmented path (per-segment pruned
    block scans -> one MaxScore kernel pass, remapped term ids, rescaled
    bounds) must be rank-identical to (a) the exact segment-union path and
    (b) a merged single index queried exactly."""
    index_root, corpus = streamed
    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", 10), (1, "term_0003", 5),
         (2, "zzznope", 5), (3, "term_0001 the_hot_term", 10)],
        "query_id long, query_text string, k int",
    )
    seg = SegmentedIndex(spark, index_root)
    assert len(seg.segments()) >= 2  # genuinely multi-segment
    exact = sorted(tuple(r) for r in seg.topk(q).collect())
    pruned = sorted(tuple(r) for r in seg.topk(q, mode="pruned").collect())
    assert pruned == exact

    merged_dir = str(tmp_path / "one")
    merged = merge_segments(spark, index_root, merged_dir)
    one = sorted(tuple(r) for r in merged.topk(q, "exact").collect())
    assert pruned == one


def test_segmented_pruned_hot_term_routes_to_exact(spark, streamed, monkeypatch):
    """A term whose GLOBAL df exceeds the serving cap must push its query to
    the exact path while cold queries stay on the kernel — and the mixed
    result must be rank-identical to all-exact."""
    from pyspark.sql import functions as F

    from geocoderpl_spark.operators import topk as topkmod
    from geocoderpl_spark.sources.corpus import HOT_TERM

    index_root, corpus = streamed
    seg = SegmentedIndex(spark, index_root)
    q = spark.createDataFrame(
        [(0, f"{HOT_TERM} term_0001", 10), (1, "term_0002 term_0003", 10)],
        "query_id long, query_text string, k int",
    )
    exact = sorted(tuple(r) for r in seg.topk(q).collect())
    # threshold between df(term_000x) (a handful) and the hot term's global
    # df (~35% of 300 docs) -> query 0 routes, query 1 stays pruned
    monkeypatch.setattr(topkmod, "_hot_df_threshold", lambda mb: 50)
    # precondition: the hot term really is above, the cold ones below
    hot_df = sum(
        r["df"] for s in seg.segments()
        for r in s.terms.filter(F.col("term") == HOT_TERM).collect()
    )
    assert hot_df > 50
    pruned = sorted(tuple(r) for r in seg.topk(q, mode="pruned").collect())
    assert pruned == exact
    assert any(r[0] == 0 for r in pruned) and any(r[0] == 1 for r in pruned)


def test_merge_segments_mixed_generation(spark, tmp_path):
    """Compaction must handle an LSM root whose segments span a tf layout
    change: one segment's tf checkpoint in the older fused layout (sha256
    sidecar column, term-NULL sentinel row) unioned with a segment in the
    kernel's layout. The tf takes the rewrite, cut to the kernel's columns
    and rows, so the merged build resumes it, and the merged index answers
    identically to the segment union."""
    import json

    from pyspark.sql import functions as F

    from geocoderpl_spark.operators.postings import tf_schema
    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.sources.corpus import synth_corpus
    from tests.test_edge_cases import rewrite_tf_r6

    root = str(tmp_path / "lsm")
    os.makedirs(root)
    docs = synth_corpus(spark, 300)
    ids = docs.select(
        F.abs(F.xxhash64("path")).alias("doc_id"), "content"
    ).withColumn("doc_id", F.pmod("doc_id", F.lit(10**6)))
    for i in range(2):
        part = ids.filter(F.pmod("doc_id", F.lit(2)) == i)
        build_index(spark, part, os.path.join(root, f"seg_{i:05d}"),
                    n_buckets=4, id_col="doc_id", content_col="content")

    rewrite_tf_r6(os.path.join(root, "seg_00000"))
    assert "sha256" in spark.read.parquet(os.path.join(root, "seg_00000", "tf")).columns

    seg = SegmentedIndex(spark, root)
    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", 10)], "query_id long, query_text string, k int"
    )
    union = sorted(tuple(r) for r in seg.topk(q).collect())
    out = str(tmp_path / "one")
    merged = merge_segments(spark, root, out)
    with open(os.path.join(out, "metrics", "metrics.jsonl")) as f:
        status = {r["stage"]: r["status"] for r in map(json.loads, f)}
    assert status["merge"] == "rewritten" and status["tf"] == "resumed"
    tf = spark.read.parquet(os.path.join(out, "tf"))
    assert tf.columns == tf_schema().names
    assert tf.filter(F.col("term").isNull()).count() == 0
    one = sorted(tuple(r) for r in merged.topk(q, "exact").collect())
    assert one == union and len(one) == 10


def test_merge_segments_rejects_positional_mix(spark, tmp_path):
    """Positional + plain segments must fail compaction loudly, not
    NULL-fill positions into the encode kernel."""
    import pytest
    from pyspark.sql import functions as F

    from geocoderpl_spark.streaming.incremental import compact_segments

    from geocoderpl_spark.plans.build import build_index
    from geocoderpl_spark.sources.corpus import synth_corpus

    root = str(tmp_path / "mix")
    os.makedirs(root)
    ids = synth_corpus(spark, 120).select(
        F.pmod(F.abs(F.xxhash64("path")), F.lit(10**6)).alias("doc_id"), "content"
    )
    build_index(spark, ids.filter("doc_id % 2 = 0"), os.path.join(root, "seg_00000"),
                n_buckets=4, id_col="doc_id", content_col="content")
    build_index(spark, ids.filter("doc_id % 2 = 1"), os.path.join(root, "seg_00001"),
                n_buckets=4, id_col="doc_id", content_col="content", positional=True)
    with pytest.raises(ValueError, match="cannot compact a mix of positional"):
        merge_segments(spark, root, str(tmp_path / "out"))
    # the compaction policy surfaces the same error and keeps both segments
    with pytest.raises(ValueError, match="cannot compact a mix of positional"):
        compact_segments(spark, root, max_segments=1, n_buckets=4)
    assert [s.positional for s in SegmentedIndex(spark, root).segments()] == [False, True]


@pytest.fixture(scope="module")
def linked(spark, tmp_path_factory):
    """Three segments of explicitly numbered docs, their linked merge (inputs
    kept: no GC) and a from-scratch build of the same docs and ids."""
    from pyspark.sql import functions as F

    from geocoderpl_spark.operators.docids import assign_doc_ids

    base = tmp_path_factory.mktemp("linked")
    root = str(base / "idx")
    docs = assign_doc_ids(synth_corpus(spark, 150), ["repo", "path", "commit"]).cache()
    for i in range(3):
        part = docs.filter((F.col("doc_id") >= 50 * i) & (F.col("doc_id") < 50 * (i + 1)))
        build_index(spark, part, os.path.join(root, f"seg_{i:05d}"), n_buckets=4,
                    id_col="doc_id")
    merged = merge_segments(spark, root, str(base / "merged"), n_buckets=4)
    full = build_index(spark, docs, str(base / "full"), n_buckets=4, id_col="doc_id")
    return root, merged, full


def _index_rows(idx):
    """(terms, decoded postings, docstats) of an index as sorted pandas."""
    from geocoderpl_spark.operators.postings import decode_postings

    def pdf(df, keys):
        return df.toPandas().sort_values(keys).reset_index(drop=True)

    return (
        pdf(idx.terms.select("term", "df", "cf", "term_id"), ["term"]),
        pdf(decode_postings(idx.postings), ["term_id", "doc_id"]),
        pdf(idx.docstats.select(*sorted(idx.docstats.columns)), ["doc_id"]),
    )


def test_linked_merge_equals_scratch_build(spark, linked):
    """A merge of linked checkpoints and summed dictionaries equals a
    from-scratch build of the same docs and ids: every dictionary value,
    every decoded posting, every docstats row."""
    root, merged, full = linked
    got, exp = _index_rows(merged), _index_rows(full)
    for g, e in zip(got, exp):
        assert list(g.columns) == list(e.columns)
        assert g.dtypes.tolist() == e.dtypes.tolist()
        assert g.equals(e)
    assert merged.n_docs == full.n_docs == 150 and merged.avgdl == full.avgdl
    # df sums over the tf rows it counts
    tf = spark.read.parquet(os.path.join(merged.root, "tf"))
    assert int(got[0]["df"].sum()) == tf.filter("term IS NOT NULL").count() > 0


def test_linked_merge_shares_inodes_with_inputs(spark, linked):
    """Before GC the merged tf and docstats files are hard links of the
    inputs' files, and the dictionary partials are gone."""
    from geocoderpl_spark.plans.manifest import _part_files

    root, merged, _ = linked
    for t in ("tf", "docstats"):
        inputs = {
            os.stat(f).st_ino
            for i in range(3) for f in _part_files(os.path.join(root, f"seg_{i:05d}", t))
        }
        out = _part_files(os.path.join(merged.root, t))
        assert {os.stat(f).st_ino for f in out} == inputs and len(out) == len(inputs)
        assert all(os.stat(f).st_nlink == 2 for f in out)
    assert not os.path.exists(os.path.join(merged.root, "tf", "_termstats"))


def test_copy_fallback_and_link_errors(spark, linked, tmp_path, monkeypatch):
    """A link the filesystem refuses (EXDEV) becomes a copy with the same
    result; any other link error (an existing target) propagates."""
    import errno
    import json

    from geocoderpl_spark.plans.manifest import _part_files

    root, merged, _ = linked

    def exdev(src, dst):
        raise OSError(errno.EXDEV, "cross-device link", dst)

    monkeypatch.setattr(os, "link", exdev)
    copied = merge_segments(spark, root, str(tmp_path / "copied"), n_buckets=4)
    for g, e in zip(_index_rows(copied), _index_rows(merged)):
        assert g.equals(e)
    for t in ("tf", "docstats"):
        assert all(os.stat(f).st_nlink == 1 for f in _part_files(os.path.join(copied.root, t)))
    with open(os.path.join(copied.root, "metrics", "metrics.jsonl")) as f:
        assert json.loads(f.readlines()[-1])["status"] == "copied"

    def exists(src, dst):
        raise FileExistsError(errno.EEXIST, "file exists", dst)

    monkeypatch.setattr(os, "link", exists)
    with pytest.raises(FileExistsError):
        merge_segments(spark, root, str(tmp_path / "exists"), n_buckets=4)


def test_remerge_of_merged_segment_keeps_every_file(spark, tmp_path):
    """A merged segment merged again with a new one: the running link
    counter keeps every input file under its own name."""
    import re

    from geocoderpl_spark.plans.manifest import _part_files
    from geocoderpl_spark.plans.snapshots import commit_snapshot
    from geocoderpl_spark.streaming.incremental import compact_segments

    root = str(tmp_path / "idx")
    os.makedirs(root)
    names = _segments(spark, root, n_segs=3)
    q = spark.createDataFrame(
        [(0, "term_0001 term_0002", 10)], "query_id long, query_text string, k int"
    )
    union = sorted(tuple(r) for r in SegmentedIndex(spark, root).topk(q).collect())
    commit_snapshot(root, names[:2], op="test")
    assert compact_segments(spark, root, max_segments=1, n_buckets=4)
    (first,) = SegmentedIndex(spark, root).segments()
    commit_snapshot(root, [os.path.basename(first.root), names[2]], op="test")
    inputs = {
        t: [f for s in SegmentedIndex(spark, root).segments()
            for f in _part_files(os.path.join(s.root, t))]
        for t in ("tf", "docstats")
    }
    assert compact_segments(spark, root, max_segments=1, n_buckets=4)
    (final,) = SegmentedIndex(spark, root).segments()
    for t, srcs in inputs.items():
        out = _part_files(os.path.join(final.root, t))
        assert len(out) == len(srcs) > 3
        assert all(re.fullmatch(r"part-\d{5}-graft\.snappy\.parquet", os.path.basename(f))
                   for f in out)
    assert final.n_docs == 120
    assert sorted(tuple(r) for r in final.topk(q, "exact").collect()) == union


def test_merge_into_reused_out_dir_raises(spark, tmp_path):
    """Merging again into a dir that holds an earlier merge would resume its
    terms and postings and serve the old dictionary: it must raise."""
    from geocoderpl_spark.plans.snapshots import commit_snapshot

    root, out = str(tmp_path / "idx"), str(tmp_path / "out")
    os.makedirs(root)
    names = _segments(spark, root, n_segs=3)
    commit_snapshot(root, names[:2], op="test")
    first = merge_segments(spark, root, out, n_buckets=4)
    commit_snapshot(root, names, op="test")
    with pytest.raises(ValueError, match="already holds an index"):
        merge_segments(spark, root, out, n_buckets=4)
    assert InvertedIndex.load(spark, out).n_docs == first.n_docs < 120


def test_merge_rejects_doc_id_in_two_segments(spark, tmp_path):
    """A doc_id held by two segments would be counted twice: the merge
    raises. Contiguous segments are proved disjoint from footer statistics
    without a Spark job."""
    import shutil

    from pyspark.sql import functions as F

    from geocoderpl_spark.operators.docids import assign_doc_ids

    root = str(tmp_path / "idx")
    docs = assign_doc_ids(synth_corpus(spark, 100), ["repo", "path", "commit"])
    for i, (lo, hi) in enumerate([(0, 50), (49, 100)]):  # doc 49 in both
        build_index(spark, docs.filter(F.col("doc_id").between(lo, hi - 1)),
                    os.path.join(root, f"seg_{i:05d}"), n_buckets=4, id_col="doc_id")
    with pytest.raises(ValueError, match="doc_id 49 is in more than one segment"):
        merge_segments(spark, root, str(tmp_path / "out"), n_buckets=4)
    assert not os.path.exists(str(tmp_path / "out"))

    from geocoderpl_spark.streaming.incremental import _check_disjoint_doc_ids
    from tests.test_serving import _no_jobs

    shutil.rmtree(os.path.join(root, "seg_00001"))
    build_index(spark, docs.filter(F.col("doc_id") >= 50), os.path.join(root, "seg_00001"),
                n_buckets=4, id_col="doc_id")
    segs = SegmentedIndex(spark, root).segments()
    _no_jobs(spark, lambda: _check_disjoint_doc_ids(segs))


def test_build_ingest_merge_run_no_local_data_job(spark, tmp_path, monkeypatch):
    """A keyed build, an ingest batch and a compaction never make a
    DataFrame from driver-side data: such a relation runs a parallelize
    job, which starts a second Python worker pool next to the Arrow
    kernels' one."""
    import glob
    import shutil

    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from geocoderpl_spark.streaming.incremental import compact_segments

    stream_dir, root = str(tmp_path / "in"), str(tmp_path / "idx")
    os.makedirs(stream_dir)
    corpus = synth_corpus(spark, 120)
    for i in range(2):
        part = corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == i)
        part.coalesce(1).write.parquet(f"{stream_dir}/t.tmp")
        shutil.move(glob.glob(f"{stream_dir}/t.tmp/*.parquet")[0],
                    f"{stream_dir}/drop_{i}.parquet")
        shutil.rmtree(f"{stream_dir}/t.tmp")

    def no_parallelize(self, *a, **kw):
        raise AssertionError("SparkContext.parallelize on a build path")

    monkeypatch.setattr(SparkContext, "parallelize", no_parallelize)
    assert build_index(spark, corpus, str(tmp_path / "bulk"), n_buckets=4).n_docs == 120
    q = start_incremental_indexer(spark, stream_dir, root, SCHEMA, n_buckets=4,
                                  max_files_per_trigger=1, positional=True)
    q.awaitTermination(300)  # raises if a batch failed
    two = SegmentedIndex(spark, root)
    assert len(two.segments()) == 2
    _every_mode_unserved(spark, two)
    assert compact_segments(spark, root, max_segments=1, n_buckets=4)
    one = SegmentedIndex(spark, root)
    assert one.global_stats()[0] == 120 and len(one.segments()) == 1
    _every_mode_unserved(spark, one)


def _every_mode_unserved(spark, engine) -> None:
    """One unserved call of every query mode, each result collected; query
    inputs come from local_frame (Arrow), not from a Python list."""
    from geocoderpl_spark.session import local_frame

    q = local_frame(spark, [(0, "term_0001 term_0002", 5), (1, "term_00", 3)],
                    "query_id long, query_text string, k int")
    bq = local_frame(spark, [(0, "term_0001", "term_0002", 5)],
                     "query_id long, must string, must_not string, k int")
    p = local_frame(spark, [(0, "term_0001 term_0002")], "query_id long, phrase_text string")
    allowed = local_frame(spark, [(i,) for i in range(0, 120, 2)], "doc_id long")
    docs = local_frame(spark, [(i, f"term_0001 filler {i}") for i in range(120)],
                       "doc_id long, text string")
    assert engine.query("the_hot_term", 5)
    for mode in (
        lambda: engine.topk(q, mode="exact"),
        lambda: engine.topk(q, mode="pruned"),
        lambda: engine.topk_filtered(q, allowed),
        lambda: engine.topk_boolean(bq),
        lambda: engine.autocomplete(q, max_expansions=5),
        lambda: engine.phrase(p),
        lambda: engine.snippets(q, docs=docs),
    ):
        mode().collect()


def test_result_cache_follows_the_segment_list(spark, tmp_path):
    """Results are cached only while the segment list is fixed: after an
    append an unserved live SegmentedIndex answers with the new doc, a
    served one answers a repeat from its pin with no Spark job, and
    serve() re-pins the new list and clears the cache."""
    from geocoderpl_spark.session import local_frame
    from tests.test_serving import _no_jobs

    root, schema = str(tmp_path / "idx"), "doc_id long, content string"

    def segment(name: str, rows: list) -> None:
        build_index(spark, local_frame(spark, rows, schema), os.path.join(root, name),
                    n_buckets=4, partitions=2, id_col="doc_id")

    segment("seg_00000", [(i, f"term_{i:04d} common words") for i in range(40)])
    live, served = SegmentedIndex(spark, root), SegmentedIndex(spark, root).serve()
    assert live.query("zz_fresh", 5) == [] and served.query("zz_fresh", 5) == []
    segment("seg_00001", [(100, "zz_fresh common")])
    assert [d for _, d, _ in live.query("zz_fresh", 5)] == [100]
    assert _no_jobs(spark, lambda: served.query("zz_fresh", 5)) == []
    served.serve()
    assert [d for _, d, _ in served.query("zz_fresh", 5)] == [100]
    assert _no_jobs(spark, lambda: served.query("zz_fresh", 5))[0][1] == 100


def test_incremental_indexer_releases_rank_tables(spark, tmp_path):
    """Each keyed micro-batch persists a doc-id rank table; the indexer
    releases it once the segment is built, so three micro-batches leave
    the session's persistent-RDD count where it started."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    stream_dir, root = str(tmp_path / "in"), str(tmp_path / "idx")
    os.makedirs(stream_dir)
    corpus = synth_corpus(spark, 90)
    for i in range(3):
        part = corpus.filter(F.pmod(F.xxhash64("path"), F.lit(3)) == i)
        part.coalesce(1).write.parquet(f"{stream_dir}/t.tmp")
        shutil.move(glob.glob(f"{stream_dir}/t.tmp/*.parquet")[0],
                    f"{stream_dir}/drop_{i}.parquet")
        shutil.rmtree(f"{stream_dir}/t.tmp")

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    q = start_incremental_indexer(spark, stream_dir, root, SCHEMA,
                                  n_buckets=4, max_files_per_trigger=1)
    q.awaitTermination(300)
    assert len(SegmentedIndex(spark, root).segments()) == 3
    assert persisted() == before
