import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from informationretrieval_en_people_cn_spark.functions.codec import (
    decode_frames,
    decode_many,
    encode_frame,
    encode_many,
    vb_decode,
    vb_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(vb_decode(vb_encode(arr)), arr)


@given(
    st.lists(
        st.tuples(st.integers(0, 10**12), st.integers(1, 50)),
        min_size=1,
        max_size=120,
        unique_by=lambda x: x[0],
    ),
    st.randoms(use_true_random=False),
)
@settings(max_examples=100, deadline=None)
def test_frame_roundtrip(doc_tfs, rnd):
    doc_tfs.sort()
    docs = np.array([d for d, _ in doc_tfs], dtype=np.uint64)
    tfs = np.array([t for _, t in doc_tfs], dtype=np.uint64)
    pos = np.concatenate(
        [
            np.sort(
                np.array(
                    rnd.sample(range(10000), int(t)), dtype=np.uint64
                )
            )
            for t in tfs
        ]
    )
    d, t, p = decode_frames(encode_frame(docs, tfs, pos))
    assert np.array_equal(d, docs)
    assert np.array_equal(t, tfs)
    assert np.array_equal(p, pos)


def test_frame_concat_is_valid_stream():
    b1 = encode_frame(
        np.array([1, 5, 9]), np.array([1, 2, 1]), np.array([0, 3, 7, 2])
    )
    b2 = encode_frame(np.array([100, 200]), np.array([1, 1]), np.array([5, 9]))
    d, t, p = decode_frames(b1 + b2)
    assert d.tolist() == [1, 5, 9, 100, 200]
    assert t.tolist() == [1, 2, 1, 1, 1]
    assert p.tolist() == [0, 3, 7, 2, 5, 9]


def test_tf_only_frame():
    d, t, p = decode_frames(encode_frame(np.array([3, 4]), np.array([2, 2])))
    assert d.tolist() == [3, 4] and t.tolist() == [2, 2] and p.size == 0


def test_empty():
    assert vb_encode(np.array([], dtype=np.uint64)) == b""
    assert vb_decode(b"").size == 0
    assert encode_frame(np.array([]), np.array([])) == b""


# -- batch API vs an independent pure-Python reference codec -------------


def ref_varbyte(values):
    out = bytearray()
    for v in values:
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def ref_values(blob):
    vals, v, shift = [], 0, 0
    for byte in blob:
        v |= (byte & 0x7F) << shift
        shift += 7
        if byte < 0x80:
            vals.append(v)
            v, shift = 0, 0
    return vals


def ref_frame(docs, tfs, plists):
    """One frame; ``plists`` is a list of per-doc position lists or None."""
    if not docs:
        return b""
    vals = [len(docs), int(plists is not None)]
    vals += [docs[0]] + [b - a for a, b in zip(docs, docs[1:])]
    vals += list(tfs)
    for pl in plists or []:
        vals += [pl[0]] + [b - a for a, b in zip(pl, pl[1:])]
    return ref_varbyte(vals)


def ref_decode(blob):
    vals, o = ref_values(blob), 0
    docs, tfs, pos = [], [], []
    while o < len(vals):
        n, flag = vals[o], vals[o + 1]
        o += 2
        acc = 0
        for g in vals[o : o + n]:
            acc += g
            docs.append(acc)
        t = vals[o + n : o + 2 * n]
        tfs += t
        o += 2 * n
        if flag:
            for tf in t:
                acc = 0
                for g in vals[o : o + tf]:
                    acc += g
                    pos.append(acc)
                o += tf
    return docs, tfs, pos


@st.composite
def frame_groups(draw, positional=None, min_docs=0):
    """(docs, tfs, plists|None): ascending unique docs up to 2**63-1."""
    docs = sorted(
        draw(
            st.lists(
                st.one_of(
                    st.integers(0, 300), st.integers(0, 2**63 - 1)
                ),
                min_size=min_docs,
                max_size=12,
                unique=True,
            )
        )
    )
    tfs = [draw(st.integers(1, 5)) for _ in docs]
    if positional is None:
        positional = draw(st.booleans())
    plists = None
    if positional:
        plists = [
            sorted(draw(st.lists(st.integers(0, 5000), min_size=t, max_size=t, unique=True)))
            for t in tfs
        ]
    return docs, tfs, plists


def _flat(plists):
    return [p for pl in plists for p in pl]


@given(
    st.lists(st.lists(frame_groups(min_docs=1), max_size=3), max_size=6),
    st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_decode_many_matches_reference(blob_frames, want_positions):
    # blobs of 0..3 concatenated frames, mixing positional and tf-only
    blobs = [b"".join(ref_frame(*f) for f in frames) for frames in blob_frames]
    counts, d, t, p = decode_many(blobs, want_positions)
    ref = [ref_decode(b) for b in blobs]
    assert counts.tolist() == [len(r[0]) for r in ref]
    assert d.tolist() == [x for r in ref for x in r[0]]
    assert t.tolist() == [x for r in ref for x in r[1]]
    assert p.tolist() == ([x for r in ref for x in r[2]] if want_positions else [])
    for blob, r in zip(blobs, ref):
        d1, t1, p1 = decode_frames(blob, want_positions)
        assert (d1.tolist(), t1.tolist()) == (r[0], r[1])
        assert p1.tolist() == (r[2] if want_positions else [])


@given(st.booleans(), st.data())
@settings(max_examples=200, deadline=None)
def test_encode_many_matches_reference(positional, data):
    groups = data.draw(st.lists(frame_groups(positional=positional), max_size=8))
    docs = [x for g in groups for x in g[0]]
    tfs = [x for g in groups for x in g[1]]
    pos = _flat(pl for g in groups for pl in g[2]) if positional else None
    out = encode_many(
        [len(g[0]) for g in groups],
        np.array(docs, dtype=np.uint64),
        np.array(tfs, dtype=np.uint64),
        None if pos is None else np.array(pos, dtype=np.uint64),
    )
    assert out == [ref_frame(*g) for g in groups]
    for (gd, gt, gp), blob in zip(groups, out):
        single = encode_frame(
            np.array(gd, dtype=np.uint64),
            np.array(gt, dtype=np.uint64),
            None if gp is None else np.array(_flat(gp), dtype=np.uint64),
        )
        assert single == blob


def test_batch_api_edge_cases():
    counts, d, t, p = decode_many([])
    assert counts.size == d.size == t.size == p.size == 0
    counts, d, _, _ = decode_many([b"", ref_frame([7], [1], [[3]]), b""])
    assert counts.tolist() == [0, 1, 0] and d.tolist() == [7]
    assert encode_many([0, 1, 0], np.array([9]), np.array([2])) == [
        b"", ref_frame([9], [2], None), b""
    ]
    with pytest.raises(ValueError):
        decode_frames(ref_frame([1, 2], [1, 1], None)[:-1])
    with pytest.raises(ValueError):  # a blob cut inside a frame
        blob = ref_frame([1, 2], [1, 1], None)
        decode_many([blob[:2], blob[2:]])
    with pytest.raises(ValueError):
        encode_many([1], np.array([1]), np.array([2]), np.array([0]))
