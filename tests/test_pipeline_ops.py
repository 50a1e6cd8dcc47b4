"""Training-data pipeline ops: dedup family, similarity search, text stats,
multimodal plumbing — unit-level invariants (oracle parity is covered by
scripts/check_oracle.py + the driver's CORRECTNESS gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different content about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "short doc"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from geocoderpl_spark.operators.dedup import exact_dedup

    got = {r.doc_id: r.n_dups for r in exact_dedup(docs).collect()}
    assert got[0] == 2 and 3 not in got
    assert got[1] == 1 and got[2] == 1


def test_ngram_jaccard(spark, docs):
    from geocoderpl_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, 3, 0.5).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert (1, 3) in pairs
    assert not any(2 in p or 4 in p or 5 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    from geocoderpl_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, 3, 0.5).collect()}
    assert (0, 3) in pairs  # exact dup always collides in every band


def test_simhash_exact_dup_zero_distance(spark, docs):
    from geocoderpl_spark.operators.dedup import simhash_pairs

    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs, 3).collect()}
    assert pairs[(0, 3)] == 0


def test_shingles_short_doc_empty(spark, docs):
    from geocoderpl_spark.operators.dedup import shingles

    got = shingles(docs.filter(F.col("doc_id").isin([4, 5])), 3).collect()
    assert got == []  # 2 tokens and 0 tokens -> no 3-shingles


def test_cosine_topk_self_similarity(spark):
    from geocoderpl_spark.operators.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),   # nearly parallel to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_topk(emb, [0], k=3).orderBy("rank").collect()
    assert [r.vec_id for r in got] == [1, 2, 3]
    assert got[0].cos > 0.999 and got[2].cos == -1.0


def test_lsh_recall_vs_bruteforce(spark):
    """LSH ANN must recover most of the exact top-k on the real embeddings."""
    from geocoderpl_spark.operators.similarity import cosine_topk, lsh_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = [0, 1, 2, 3, 4]
    exact = cosine_topk(emb, probes, k=5).toPandas()
    approx = lsh_cosine_topk(emb, probes, dim=64, k=5).toPandas()
    hits = tot = 0
    for p in probes:
        e = set(exact[exact.probe_id == p].vec_id)
        a = set(approx[approx.probe_id == p].vec_id)
        hits += len(e & a)
        tot += len(e)
    assert hits / tot >= 0.5, f"LSH recall {hits}/{tot}"


def test_lsh_pairs_subset_of_bruteforce_with_high_recall(spark):
    """The gated scale path (lsh_cosine_pairs) must emit a subset of the
    brute-force pairs (exact verify ⇒ no false positives) with high recall,
    and identical cos values on the shared pairs."""
    from geocoderpl_spark.operators.similarity import cosine_pairs, lsh_cosine_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {(r.vec_a, r.vec_b): r.cos for r in cosine_pairs(emb, 0.35).collect()}
    lsh = {(r.vec_a, r.vec_b): r.cos for r in lsh_cosine_pairs(emb, 64, 0.35).collect()}
    assert set(lsh) <= set(brute)  # verify step kills every false positive
    assert all(lsh[p] == brute[p] for p in lsh)
    assert len(lsh) / max(len(brute), 1) >= 0.8, f"recall {len(lsh)}/{len(brute)}"


def test_multimodal_decode_plumbing(spark):
    from geocoderpl_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_features,
        resize_images,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, 30)
    feats = decode_features(media).collect()
    assert len(feats) == 30
    assert all(len(r.features) == FEATURE_DIM for r in feats)
    # deterministic: same payload -> same features
    f2 = decode_features(media).collect()
    assert {r.media_id: r.features for r in feats} == {r.media_id: r.features for r in f2}
    # VALUE check: engine features == local recomputation from the raw
    # payload bytes, exact at float32 (catches any kernel/codec corruption)
    import numpy as np

    from geocoderpl_spark.operators.multimodal import _fake_features

    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    for r in feats:
        want = np.array(_fake_features(payloads[r.media_id]), dtype=np.float32)
        assert np.array_equal(np.array(r.features, dtype=np.float32), want)
    # real decode exists for WAV/PPM/AVI (r5); synth_media's hash-junk
    # payloads are NOT valid containers, so real_decode must fail loudly
    # inside the kernel, never silently misparse
    with pytest.raises(Exception, match="RIFF"):
        decode_features(media.filter(F.col("kind") == "video"), real_decode=True).collect()

    rs = resize_images(media, 128).filter(F.col("kind") == "image").collect()
    assert all(max(r.target_width, r.target_height) <= 128 for r in rs)
    assert all(r.target_width >= 1 and r.target_height >= 1 for r in rs)

    fr = sample_frames(media, 1000)
    one = fr.groupBy("media_id").count().collect()
    meta = {r.media_id: r.duration_ms for r in media.filter("kind = 'video'").collect()}
    for r in one:
        assert r["count"] == (meta[r.media_id] + 999) // 1000


def test_quality_and_langid_bounds(spark, docs):
    from geocoderpl_spark.operators.textstats import lang_id, quality_score

    q = {r.doc_id: r.quality for r in quality_score(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    assert q[5] == 0.0
    langs = {r.doc_id: r.pred_lang for r in lang_id(docs).collect()}
    assert langs[0] == "en"
    assert langs[5] == "und"


def test_coords_route_pruned_nn_matches_bruteforce(spark):
    """For in-domain coords queries, the sector-pruned NN must equal the
    brute-force NN over all points; non-coords queries yield no rows."""
    from geocoderpl_spark.operators.georoute import customer_points, route_coords_lookup

    sf = "/root/testdata/sf0.001"
    pts = customer_points(spark, sf)
    q = spark.createDataFrame(
        [(0, "50.05, 50.05"), (1, "plain text query"), (2, "")],
        "query_id long, query_text string",
    )
    got = route_coords_lookup(q, pts, n_sectors=9, k=3).orderBy("rank").collect()
    assert {r.query_id for r in got} == {0}
    assert [r.rank for r in got] == [1, 2, 3]
    # brute force over every point
    brute = (
        pts.withColumn(
            "dist",
            F.round(
                F.sqrt((F.col("px") - 50.05) * (F.col("px") - 50.05)
                       + (F.col("py") - 50.05) * (F.col("py") - 50.05)), 6),
        )
        .orderBy("dist", "point_id")
        .limit(3)
        .collect()
    )
    assert [(r.point_id, r.dist) for r in got] == [(r.point_id, r.dist) for r in brute]


def test_coords_route_out_of_domain_still_bounded(spark):
    """A query far outside the grid still returns k rows from the nearest
    sectors (the reference's bounded-scan semantics)."""
    from geocoderpl_spark.operators.georoute import customer_points, route_coords_lookup

    pts = customer_points(spark, "/root/testdata/sf0.001")
    q = spark.createDataFrame([(7, "-33.86 151.21")], "query_id long, query_text string")
    got = route_coords_lookup(q, pts, n_sectors=9, k=3).collect()
    assert len(got) == 3


def test_ivf_recall_vs_bruteforce(spark):
    """IVF-Flat ANN must recover most of the exact top-k; every returned
    cos must equal the brute-force value (exact rerank inside lists)."""
    from geocoderpl_spark.operators.similarity import cosine_topk, ivf_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = [0, 1, 2, 3, 4]
    exact = cosine_topk(emb, probes, k=5).toPandas()
    approx = ivf_cosine_topk(emb, probes, dim=64, k=5).toPandas()
    ecos = {(r.probe_id, r.vec_id): r.cos for _, r in exact.iterrows()}
    hits = tot = 0
    for p in probes:
        e = set(exact[exact.probe_id == p].vec_id)
        a = set(approx[approx.probe_id == p].vec_id)
        hits += len(e & a)
        tot += len(e)
    assert hits / tot >= 0.4, f"IVF recall {hits}/{tot}"
    for _, r in approx.iterrows():
        if (r.probe_id, r.vec_id) in ecos:
            assert r.cos == ecos[(r.probe_id, r.vec_id)]


def test_phrase_match_requires_adjacency(spark, docs):
    from geocoderpl_spark.operators.textstats import phrase_match

    p = spark.createDataFrame(
        [(0, "quick brown fox"), (1, "brown quick"), (2, "the lazy dog"),
         (3, "the the")],
        "query_id long, phrase_text string",
    )
    got = {}
    for r in phrase_match(docs, p, k=10).collect():
        got.setdefault(r.query_id, {})[r.doc_id] = r.n_matches
    assert got[0] == {0: 1, 1: 1, 3: 1}   # exact dup of 0 matches too
    assert 1 not in got                    # order matters
    assert got[2] == {0: 1, 3: 1}          # 'lazy cat' doc excluded
    assert 3 not in got                    # no overlapping self-adjacency here


def test_ngram_jaccard_hot_shingle_cap_bounds_candidates(spark):
    """One boilerplate shingle shared by k docs costs O(k^2) candidate pairs
    uncapped; max_shingle_df must drop it BEFORE pairing while still finding
    near-dups that share rare shingles (VERDICT r02 #2)."""
    from geocoderpl_spark.operators.dedup import ngram_jaccard_pairs, shingles

    hot = "common boiler plate header"  # contributes 2 hot 3-gram shingles
    rows = [(i, f"{hot} unique{i}a unique{i}b unique{i}c") for i in range(30)]
    # one genuine near-dup pair sharing many RARE shingles
    body = "alpha beta gamma delta epsilon zeta eta theta"
    rows += [(100, f"{body} one"), (101, f"{body} two")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def n_candidates(sh_df):
        a = sh_df.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh_df.select(F.col("doc_id").alias("doc_b"), "shingle")
        return (
            a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct().count()
        )

    sh = shingles(docs, 3, "text", "doc_id")
    uncapped = n_candidates(sh)
    assert uncapped >= 30 * 29 // 2  # the hot-shingle quadratic blowup
    cap = 10
    hot_set = sh.groupBy("shingle").count().filter(F.col("count") > cap)
    capped = n_candidates(sh.join(hot_set.select("shingle"), "shingle", "left_anti"))
    assert capped <= 5  # only rare-shingle pairs survive
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_df=cap
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(100, 101)}


def test_real_wav_decode_golden(spark):
    """Golden check of the REAL WAV decode (VERDICT r02 #4): the stdlib
    `wave` module — a fully independent RIFF parser — must read back the
    exact samples our synthesizer wrote and our chunk-walk decoder parsed."""
    import io
    import wave

    import numpy as np

    from geocoderpl_spark.operators.multimodal import (
        _decode_wav,
        _wav_n_samples,
        _wav_payload,
        _wav_sample,
        WAV_SAMPLE_RATE,
    )

    for m in (0, 7, 42):
        payload = _wav_payload(m)
        with wave.open(io.BytesIO(payload)) as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getframerate() == WAV_SAMPLE_RATE
            ref = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
        ours = _decode_wav(payload)
        formula = _wav_sample(m, np.arange(_wav_n_samples(m), dtype=np.int64))
        assert np.array_equal(ours, ref.astype(np.int64))
        assert np.array_equal(ours, formula)


def test_real_wav_decode_multichannel_and_errors():
    import struct

    import numpy as np
    import pytest

    from geocoderpl_spark.operators.multimodal import _decode_ppm, _decode_wav

    # stereo file built with the stdlib writer: decoder must downmix by mean
    import io
    import wave

    left = np.arange(-50, 50, dtype="<i2")
    right = (np.arange(-50, 50, dtype="<i2") * 3).astype("<i2")
    inter = np.empty(200, dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(inter.tobytes())
    got = _decode_wav(buf.getvalue())
    assert np.allclose(got, (left.astype(np.float64) + right) / 2.0)

    with pytest.raises(ValueError, match="RIFF"):
        _decode_wav(b"nope" * 10)
    # 8-bit PCM: honest unsupported error, not silent garbage
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    bad = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", 4) + b"\x00\x01\x02\x03")
    with pytest.raises(ValueError, match="unsupported"):
        _decode_wav(bad)
    with pytest.raises(ValueError, match="P6"):
        _decode_ppm(b"P3\n1 1\n255\n0 0 0")


def test_real_ppm_decode_golden():
    import numpy as np

    from geocoderpl_spark.operators.multimodal import (
        _decode_ppm,
        _ppm_byte,
        _ppm_dims,
        _ppm_payload,
    )

    for m in (1, 9, 33):
        w, h, pix = _decode_ppm(_ppm_payload(m))
        assert (w, h) == _ppm_dims(m)
        assert np.array_equal(
            pix.astype(np.int64), _ppm_byte(m, np.arange(w * h * 3, dtype=np.int64))
        )


def test_decode_features_real_end_to_end(spark):
    """bytes -> chunk walk -> window means, distributed; hand-computed
    expectation for one media row; malformed video payloads fail loudly."""
    import numpy as np
    import pytest

    from geocoderpl_spark.operators.multimodal import (
        FEATURE_DIM,
        _wav_n_samples,
        _wav_sample,
        decode_features,
        synth_real_media,
    )

    out = decode_features(synth_real_media(spark, 10), real_decode=True)
    rows = {r.media_id: r for r in out.collect()}
    assert set(rows) == set(range(10))
    m = 3  # audio row (media_id % 3 == 0): expected window means by formula
    ns = _wav_n_samples(m)
    v = _wav_sample(m, np.arange(ns, dtype=np.int64)).astype(np.float64)
    wbin = (np.arange(ns) * FEATURE_DIM) // ns
    exp = [v[wbin == j].sum() / (32768.0 * (wbin == j).sum()) for j in range(FEATURE_DIM)]
    assert np.allclose(rows[m].features, exp, rtol=0, atol=0)  # bit-exact
    assert len(rows[1].features) == FEATURE_DIM  # image row decoded too
    assert len(rows[2].features) == FEATURE_DIM  # video row decoded too (r5)

    vids = spark.createDataFrame(
        [(0, "video", bytearray(b"\x00\x01"))], "media_id long, kind string, payload binary"
    )
    with pytest.raises(Exception, match="RIFF"):
        decode_features(vids, real_decode=True).collect()


def test_real_avi_decode_golden():
    """Golden check of the REAL AVI decode (r5): bottom-up DIB rows and
    4-byte stride padding must be undone exactly — the decoded stream equals
    the synthesis formula; compressed/unsupported containers fail loudly."""
    import numpy as np
    import pytest

    from geocoderpl_spark.operators.multimodal import (
        _avi_byte,
        _avi_dims,
        _avi_payload,
        _decode_avi,
    )

    for m in (2, 5, 11, 23):
        w, h, nf = _avi_dims(m)
        gw, gh, pix = _decode_avi(_avi_payload(m))
        assert (gw, gh) == (w, h)
        n = nf * w * h * 3
        assert pix.size == n
        assert np.array_equal(
            pix.astype(np.int64), _avi_byte(m, np.arange(n, dtype=np.int64))
        )

    with pytest.raises(ValueError, match="RIFF"):
        _decode_avi(b"nope" * 20)
    # a compressed (non-zero biCompression) container must refuse, not
    # silently misdecode
    import struct

    good = bytearray(_avi_payload(2))
    i = bytes(good).index(struct.pack("<Iii", 40, *_avi_dims(2)[:2]))
    good[i + 16:i + 20] = struct.pack("<I", 1)  # biCompression = BI_RLE8
    with pytest.raises(ValueError, match="unsupported"):
        _decode_avi(bytes(good))


def test_persisted_ivf_identical_and_partition_pruned(spark, tmp_path):
    """The persisted IVF index must return EXACTLY the one-shot operator's
    results (same quantizer, rerank, tie-breaks) and its candidate scan must
    open only the probes' nprobe list directories."""
    from geocoderpl_spark.operators.similarity import IVF_NPROBE, ivf_cosine_topk
    from geocoderpl_spark.plans.ann_index import IvfIndex, build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = [0, 1, 2, 3, 4]
    root = str(tmp_path / "ivf")
    idx = build_ivf_index(spark, emb, root, dim=64)
    got = sorted(tuple(r) for r in idx.topk(probes, k=5).collect())
    want = sorted(tuple(r) for r in ivf_cosine_topk(emb, probes, dim=64, k=5).collect())
    assert got == want and len(got) == 25

    # partition pruning: the pruned vectors scan reads only the nprobe lists
    v = idx.vectors
    pv = {r["vec_id"]: list(r["embedding"]) for r in
          v.filter("vec_id in (0)").collect()}
    lists = idx._nprobe_lists(pv[0], IVF_NPROBE)
    pruned = v.filter(v.list_id.isin(lists))
    # executed-file evidence (inputFiles() ignores pushdown): the scan only
    # ever reads the nprobe list directories
    opened = {r[0].split("list_id=")[1].split("/")[0] for r in
              pruned.select(F.input_file_name()).distinct().collect()}
    assert opened == {str(l) for l in lists}
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "list_id IN" in plan or "list_id#" in plan  # partition filter present
    n_lists = v.select("list_id").distinct().count()
    assert len(opened) < n_lists  # proper subset of the index's lists

    # cold reload answers identically
    again = sorted(tuple(r) for r in IvfIndex.load(spark, root).topk(probes, k=5).collect())
    assert again == got


def test_ivf_index_param_change_rebuilds(spark, tmp_path):
    """Re-building over an existing root with different params must rebuild,
    not silently serve the old quantizer."""
    from geocoderpl_spark.plans.ann_index import build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "ivf2")
    a = build_ivf_index(spark, emb, root, dim=64, n_centroids=8)
    assert len(a._centroids) == 8
    b = build_ivf_index(spark, emb, root, dim=64, n_centroids=12)
    assert len(b._centroids) == 12  # rebuilt, not resumed


def test_ngram_jaccard_cap_is_default_on(spark):
    """VERDICT r04 #7: the hot-shingle cap defaults ON ("auto" = max(64,
    1% of corpus)); the uncapped quadratic path needs an EXPLICIT
    max_shingle_df=None opt-in."""
    from geocoderpl_spark.operators.dedup import ngram_jaccard_pairs

    hot = "common boiler plate header"
    # 68 docs all sharing the hot boilerplate shingles (df=68 > auto cap 64);
    # docs 200/201 consist ONLY of hot shingles -> their duplicate pair is
    # discoverable solely through a hot shingle
    rows = [(i, f"{hot} tail{i}a tail{i}b tail{i}c") for i in range(66)]
    rows += [(200, hot), (201, hot)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {(r.doc_a, r.doc_b)
              for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert (200, 201) not in capped  # auto cap dropped the hot shingles

    uncapped = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, max_shingle_df=None
    ).collect()}
    assert (200, 201) in uncapped  # explicit opt-out restores lossless pairing


def test_assign_dense_ids_rejects_duplicate_keys(spark):
    """ADVICE r04: a duplicate natural key would fan payload rows out at the
    rank join-back — the operator must fail loudly, not multiply rows."""
    import pytest

    from geocoderpl_spark.operators.docids import assign_dense_ids

    ok = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")], "k string, v int, payload string"
    )
    got = assign_dense_ids(ok, ["k", "v"]).collect()
    assert sorted(r.doc_id for r in got) == [0, 1]

    dup = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "y"), ("b", 2, "z")],
        "k string, v int, payload string",
    )
    with pytest.raises(ValueError, match="not unique"):
        assign_dense_ids(dup, ["k", "v"])

    # a NULL key field has no rank: the key join-back would drop the row
    null_key = spark.createDataFrame(
        [("a", 1, "x"), (None, 2, "y"), ("b", 2, "z")],
        "k string, v int, payload string",
    )
    with pytest.raises(ValueError, match="NULL"):
        assign_dense_ids(null_key, ["k", "v"])


def test_rank_keys_rejects_duplicates_keys_only_path(spark):
    """r5: the uniqueness guard lives in the ranking window pass itself
    (zero extra jobs), so the KEYS-ONLY path — what build_index's shared
    id-rank uses — raises too, not just the payload join-back path."""
    import pytest

    from geocoderpl_spark.operators.docids import assign_dense_ids

    dup_keys = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2)], "k string, v int"
    )
    with pytest.raises(ValueError, match="not unique"):
        assign_dense_ids(dup_keys, ["k", "v"])

    ok_keys = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    got = assign_dense_ids(ok_keys, ["k", "v"]).collect()
    assert sorted(r.doc_id for r in got) == [0, 1]
    assert sorted(got[0].asDict()) == ["doc_id", "k", "v"]  # helper cols dropped


def test_hash_compressed_id_joinback_matches_key_join(spark, monkeypatch):
    """r6: above HASH_IDS_MIN_ROWS the id join-back ships (xxhash64(keys),
    id) instead of the string keys. The collision check makes it provably
    identical to the key join — assert the assignment matches the plain
    path row-for-row, and that payload columns survive."""
    from geocoderpl_spark.operators import docids
    from geocoderpl_spark.sources.corpus import synth_corpus

    corpus = synth_corpus(spark, 300)
    plain = {
        (r.repo, r.path, r.commit): r.doc_id
        for r in docids.assign_doc_ids(corpus, ["repo", "path", "commit"], 4)
        .select("repo", "path", "commit", "doc_id")
        .collect()
    }
    monkeypatch.setattr(docids, "HASH_IDS_MIN_ROWS", 1)
    hashed_df = docids.assign_doc_ids(corpus, ["repo", "path", "commit"], 4)
    hashed_rows = hashed_df.collect()
    assert sorted(hashed_df.columns) == sorted([*corpus.columns, "doc_id"])
    hashed = {(r.repo, r.path, r.commit): r.doc_id for r in hashed_rows}
    assert hashed == plain and len(hashed_rows) == 300

    # a NULL key field: the hash join-back would keep the row while the key
    # joins drop it — both branches raise instead
    with_null = corpus.withColumn(
        "commit", F.when(F.col("path") == corpus.first()["path"], None)
        .otherwise(F.col("commit"))
    )
    with pytest.raises(ValueError, match="NULL"):
        docids.assign_doc_ids(with_null, ["repo", "path", "commit"], 4)


def test_assign_dense_ids_rejects_reserved_column(spark, monkeypatch):
    """The hash join-back keys on a column named ``_graft_kh``: a payload
    column of that name must raise, not be overwritten and dropped."""
    from geocoderpl_spark.operators import docids

    monkeypatch.setattr(docids, "HASH_IDS_MIN_ROWS", 1)
    df = spark.createDataFrame(
        [("a", 7), ("b", 8)], "k string, _graft_kh long"
    )
    with pytest.raises(ValueError, match="_graft_kh"):
        docids.assign_dense_ids(df, ["k"])


@pytest.mark.parametrize("partitions", [1, 8, 64])
def test_doc_ids_equal_dense_rank(spark, partitions):
    """assign_doc_ids is ``dense_rank() over (order by key) - 1`` on both the
    keys-only and the payload path, whatever the range partition count —
    64 partitions over 40 rows leaves some of them empty."""
    from pyspark.sql import Window

    from geocoderpl_spark.operators.docids import assign_doc_ids
    from geocoderpl_spark.sources.corpus import synth_corpus

    keys = ["repo", "path", "commit"]
    corpus = synth_corpus(spark, 40)
    ref = {
        tuple(r[:3]): r.doc_id
        for r in corpus.select(
            *keys, (F.dense_rank().over(Window.orderBy(*keys)) - 1).alias("doc_id")
        ).collect()
    }
    assert sorted(ref.values()) == list(range(40))
    for src in (corpus.select(*keys), corpus):
        got = assign_doc_ids(src, keys, partitions)
        assert sorted(got.columns) == sorted([*src.columns, "doc_id"])
        rows = got.select(*keys, "doc_id").collect()
        assert {tuple(r[:3]): r.doc_id for r in rows} == ref and len(rows) == 40
