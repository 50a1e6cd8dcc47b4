import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geocoderpl_spark.functions.codec import (
    decode_doc_gaps,
    decode_tfs,
    encode_doc_gaps,
    encode_tfs,
    varint_decode,
    varint_encode,
)


def test_varint_golden():
    # LEB128 golden bytes
    assert varint_encode(np.array([0])) == b"\x00"
    assert varint_encode(np.array([1])) == b"\x01"
    assert varint_encode(np.array([127])) == b"\x7f"
    assert varint_encode(np.array([128])) == b"\x80\x01"
    assert varint_encode(np.array([300])) == b"\xac\x02"
    assert varint_encode(np.array([])) == b""


def test_varint_roundtrip_mixed():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**56 + 5, 7])
    assert (varint_decode(varint_encode(vals)) == vals.astype(np.uint64)).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (varint_decode(varint_encode(arr)) == arr).all()


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300))
def test_doc_gap_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.int64)
    assert (decode_doc_gaps(encode_doc_gaps(arr)) == arr).all()


def test_doc_gap_boundaries():
    assert decode_doc_gaps(b"").size == 0
    one = np.array([42], dtype=np.int64)
    assert (decode_doc_gaps(encode_doc_gaps(one)) == one).all()
    # doc_id 0 must survive (gap-0 head)
    z = np.array([0, 1, 2], dtype=np.int64)
    assert (decode_doc_gaps(encode_doc_gaps(z)) == z).all()


def test_tf_roundtrip():
    tf = np.array([1, 1, 9, 200, 70000], dtype=np.int64)
    assert (decode_tfs(encode_tfs(tf)) == tf).all()


def test_positions_decode_from_encoder_blocks():
    """decode_positions inverts the positions stream _encode_np writes:
    every posting's absolute positions come back, for tf-1 postings and for
    the posting at the head of each block (stored absolute, not as a gap
    to the previous posting's last position)."""
    import pyarrow as pa

    from geocoderpl_spark.functions.codec import BLOCK_SIZE, decode_positions
    from geocoderpl_spark.operators.postings import _encode_np

    rng = np.random.RandomState(11)
    n = BLOCK_SIZE + 40  # one term over two blocks
    tfs = rng.randint(1, 5, n).astype(np.int64)
    tfs[[0, 1, BLOCK_SIZE, n - 1]] = 1  # tf-1 postings, one at each block head
    pos = [np.sort(rng.choice(np.arange(1, 600), t, replace=False)) for t in tfs]
    pos[BLOCK_SIZE] = np.array([599])  # a head far above its predecessor
    cols = {
        "term_id": np.full(n, 3, dtype=np.int64),
        "doc_id": np.arange(10, 10 + 2 * n, 2, dtype=np.int64),
        "doclen": rng.randint(600, 900, n).astype(np.int64),
        "tf": tfs,
        "pos_flat": np.concatenate(pos).astype(np.int64),
        "pos_len": tfs.copy(),
    }
    blocks = pa.Table.from_batches([_encode_np(cols, 700.0, np, pa, 4, 10**6)]).to_pydict()
    assert blocks["n"] == [BLOCK_SIZE, n - BLOCK_SIZE]
    got = []
    for traw, praw in zip(blocks["tfs"], blocks["poss"]):
        btf = decode_tfs(traw)
        flat = decode_positions(praw, btf)
        assert flat.size == btf.sum()
        got += [flat[e - t:e].tolist() for t, e in zip(btf, np.cumsum(btf))]
    assert got == [p.tolist() for p in pos]
    assert decode_positions(b"", np.empty(0, dtype=np.int64)).size == 0


def test_encode_kernels_byte_identical(spark, tmp_path):
    """The blocks the direct writer leaves on disk must be BYTE-identical —
    binary payloads included — to the pandas reference encoder run over the
    same sorted rows, for both plain and positional postings (resume
    determinism depends on it)."""
    from geocoderpl_spark.operators.docids import assign_doc_ids
    from geocoderpl_spark.operators.postings import (
        POSTINGS_POS_SCHEMA,
        POSTINGS_SCHEMA,
        _encode_partition,
        build_postings,
        build_terms,
        postings_input,
    )
    from geocoderpl_spark.sources.corpus import synth_corpus
    from tests.test_tokenize import run_tf_kernel

    docs = assign_doc_ids(synth_corpus(spark, 500), ["repo", "path", "commit"], 4)
    for positional, schema in ((False, POSTINGS_SCHEMA), (True, POSTINGS_POS_SCHEMA)):
        tf, _ = run_tf_kernel(spark, docs, str(tmp_path / f"tf{int(positional)}"),
                              positional=positional)
        terms = build_terms(tf)
        out = str(tmp_path / f"postings{int(positional)}")
        files = build_postings(tf, terms, 100.0, out, 4, 4, n_docs=500)
        cols = [c.split()[0] for c in schema.split(", ")]
        written = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
        rows, slice_docs = postings_input(tf, terms, 4, 4, n_docs=500)
        ref = rows.mapInPandas(_encode_partition(100.0, 4, slice_docs), schema=schema)
        expected = sorted(map(tuple, ref.collect()))
        assert written == expected and len(written) > 50
        assert sum(f["n_blocks"] for f in files) == len(written)


def test_frame_chunking_byte_identical():
    """_frame_chunks must split at true block boundaries: encoding the
    chunks (tiny cap) and concatenating must equal the one-shot encode,
    byte-for-byte — the int32-offset guard cannot change block content.
    Runs break on doc-slice changes too, so the hot term's run splits into
    several slices here."""
    import numpy as np
    import pyarrow as pa

    from geocoderpl_spark.operators.postings import _encode_np, _frame_chunks

    rng = np.random.RandomState(7)
    # a few runs incl. one hot term spanning many blocks and slices
    terms = np.sort(np.concatenate([
        np.full(900, 5), np.repeat(np.arange(6, 40), 17), np.full(3, 2)
    ]))
    n = terms.size
    docs = np.concatenate([np.sort(rng.choice(10**6, size=(terms == t).sum(), replace=False))
                           for t in np.unique(terms)]).astype(np.int64)
    cols = {
        "term_id": terms.astype(np.int64),
        "doc_id": docs,
        "doclen": rng.randint(1, 500, n).astype(np.int64),
        "tf": rng.randint(1, 9, n).astype(np.int64),
    }
    slice_docs = 10**5
    one = _encode_np(dict(cols), 100.0, np, pa, 4, slice_docs)
    parts = [_encode_np(c, 100.0, np, pa, 4, slice_docs)
             for c in _frame_chunks(dict(cols), np, slice_docs, cap_rows=150)]
    assert len(parts) > 3  # genuinely chunked
    merged = pa.Table.from_batches(parts)
    ref = pa.Table.from_batches([one])
    assert merged.num_rows == ref.num_rows
    assert merged.to_pydict() == ref.to_pydict()
    # every block lies inside one slice
    first, last = ref["first_doc"].to_numpy(), ref["last_doc"].to_numpy()
    assert (first // slice_docs == last // slice_docs).all()
    hot = ref["term_id"].to_numpy() == 5
    assert len(set(first[hot] // slice_docs)) == 10


def test_frame_chunking_positional_and_progress():
    """Positions-aware chunking: a positional frame split by cap_pos stays
    byte-identical; degenerate caps (smaller than a block) still terminate
    and produce identical output."""
    import numpy as np
    import pyarrow as pa

    from geocoderpl_spark.operators.postings import _encode_np, _frame_chunks

    rng = np.random.RandomState(3)
    terms = np.sort(np.repeat(np.arange(5), 200))
    n = terms.size
    docs = np.concatenate([np.sort(rng.choice(10**5, 200, replace=False))
                           for _ in range(5)]).astype(np.int64)
    tfs = rng.randint(1, 7, n).astype(np.int64)
    pos = [np.sort(rng.choice(np.arange(1, 1000), t, replace=False)) for t in tfs]
    cols = {
        "term_id": terms.astype(np.int64),
        "doc_id": docs,
        "doclen": rng.randint(1, 1000, n).astype(np.int64),
        "tf": tfs,
        "pos_flat": np.concatenate(pos).astype(np.int64),
        "pos_len": tfs.copy(),
    }
    slice_docs = 3 * 10**4
    ref = pa.Table.from_batches([_encode_np(dict(cols), 100.0, np, pa, 4, slice_docs)])
    for kw in ({"cap_pos": 120}, {"cap_rows": 50}, {"cap_rows": 7, "cap_pos": 11}):
        parts = list(_frame_chunks(dict(cols), np, slice_docs, **{"cap_rows": 10**9, **kw}))
        assert len(parts) > 1
        merged = pa.Table.from_batches(
            [_encode_np(c, 100.0, np, pa, 4, slice_docs) for c in parts]
        )
        assert merged.to_pydict() == ref.to_pydict(), kw


def test_direct_writers_refuse_speculation():
    """Both direct writers publish files by rename, outside Spark's output
    committer: under spark.speculation=true they must refuse to run."""
    from types import SimpleNamespace

    from geocoderpl_spark.operators.postings import (
        build_postings,
        refuse_speculation,
        tf_docstats_direct,
    )

    def session(conf: dict):
        return SimpleNamespace(conf=SimpleNamespace(get=conf.get))

    refuse_speculation(session({}))
    refuse_speculation(session({"spark.speculation": "false"}))
    spec = session({"spark.speculation": "true"})
    with pytest.raises(RuntimeError, match="spark.speculation"):
        refuse_speculation(spec)
    frame = SimpleNamespace(sparkSession=spec)
    with pytest.raises(RuntimeError, match="spark.speculation"):
        tf_docstats_direct(frame, [], "/nonexistent")
    with pytest.raises(RuntimeError, match="spark.speculation"):
        build_postings(frame, None, 1.0, "/nonexistent")


def test_best_partial_per_range_maxima():
    """r5: _best_partial bounds each block by the max accumulated score
    inside the block's OWN [lo, hi) candidate range (r4 used the global
    max — sound but loose). Soundness: out[i] >= true max of the range;
    tightness: out[i] == that max exactly; empty ranges stay 0."""
    from geocoderpl_spark.operators.topk import _best_partial

    acc = np.array([0.5, 3.0, 1.0, 7.0, 2.0, 0.1], dtype=np.float64)
    lo = np.array([0, 2, 4, 5, 3])
    hi = np.array([2, 4, 4, 6, 6])  # [0,2) [2,4) empty [5,6) [3,6)
    out = _best_partial(acc, lo, hi)
    assert out.tolist() == [3.0, 7.0, 0.0, 0.1, 7.0]
    # empty accumulator: all zeros
    assert _best_partial(np.empty(0), np.array([0]), np.array([0])).tolist() == [0.0]
