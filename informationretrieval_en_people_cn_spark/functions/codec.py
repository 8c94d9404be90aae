"""Delta + varbyte posting-list codec with a columnar batch API (C1/C2 rebuilt).

The reference entropy-codes the *decimal digits* of its CSV posting
lines with a hardcoded 12-symbol Huffman code
(``/root/reference/searchengine/IndexCreator.py:400-410``,
``Huffman.py:70-88``).  Per the north_rule, the rebuild replaces that
with the standard IR codec: doc-gap delta encoding + varbyte
(7-bit groups, little-endian, continuation bit on all but the last
byte).

The codec works on *batches* of frames.  A median frame holds ~10
postings, so a per-frame numpy call costs far more in fixed dispatch
overhead than in work.  :func:`decode_many` therefore decodes a whole
list of blobs with one varbyte pass over their joined bytes, walks the
frame headers with plain integer arithmetic, and undoes the deltas
with one segmented cumsum for doc ids and one for positions.
:func:`encode_many` scatters every group's values into one array, runs
one varbyte pass and slices the bytes per group.  Kernels call them
once per Arrow batch or merge pass; :func:`encode_frame` and
:func:`decode_frames` are the one-group / one-blob wrappers.

Frame format (one term's postings = one or more concatenated frames;
frames arise from doc-range slices/salts and concatenate WITHOUT
re-encoding because every frame's first doc_id is absolute):

    varbyte(n)                       # number of docs in this frame
    varbyte(pos_flag)                # 1 = positions follow, 0 = tf-only
    varbyte(doc_0, gap_1 .. gap_{n-1})   # ascending doc_ids, delta'd
    varbyte(tf_0 .. tf_{n-1})
    varbyte(pos gaps, doc-major)     # per doc: pos_0, gap_1.. (tf_i values)

Positions are stored (the reference stores them, IndexCreator.py:95-99)
even though phrase verification falls back to substring matching
(SearchEngine.py:201-207) — they future-proof true positional queries.
"""

from __future__ import annotations

import numpy as np

# a value takes one varbyte byte plus one per limit 2**(7k) it reaches
_VB_LIMITS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)
_U64 = (1 << 64) - 1


def _vb_encode(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte bytes of ``vals`` (uint64) plus each value's byte count."""
    nbytes = np.searchsorted(_VB_LIMITS, vals, side="right") + 1
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.empty(int(ends[-1]) if ends.size else 0, dtype=np.uint8)
    low = (vals & np.uint64(0x7F)).astype(np.uint8)
    out[starts] = np.where(nbytes > 1, low | np.uint8(0x80), low)
    active = np.flatnonzero(nbytes > 1)
    rem = vals[active] >> np.uint64(7)
    g = 1
    while active.size:
        last = nbytes[active] == g + 1
        low = (rem & np.uint64(0x7F)).astype(np.uint8)
        out[starts[active] + g] = np.where(last, low, low | np.uint8(0x80))
        keep = ~last
        active, rem = active[keep], rem[keep] >> np.uint64(7)
        g += 1
    return out, nbytes


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a 1-D array of non-negative ints."""
    return _vb_encode(np.asarray(values, dtype=np.uint64))[0].tobytes()


def _vb_values(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decoded uint64 values of varbyte bytes ``b`` and the byte index
    at which each value ends."""
    ends = np.flatnonzero(b < 0x80)
    if b.size and (ends.size == 0 or ends[-1] != b.size - 1):
        raise ValueError("truncated varbyte stream")
    if ends.size == b.size:  # every value fits one byte
        return b.astype(np.uint64), ends
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = (b[starts] & 0x7F).astype(np.uint64)
    active = np.flatnonzero(lens > 1)
    g = 1
    while active.size:
        vals[active] |= (b[starts[active] + g] & 0x7F).astype(np.uint64) << np.uint64(7 * g)
        active = active[lens[active] > g + 1]
        g += 1
    return vals, ends


def vb_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a varbyte stream to a uint64 array (vectorized)."""
    b = (
        np.frombuffer(buf, dtype=np.uint8)
        if isinstance(buf, (bytes, bytearray, memoryview))
        else np.asarray(buf, dtype=np.uint8)
    )
    return _vb_values(b)[0]


def _seg_cumsum(v: np.ndarray, lens: np.ndarray, first: np.ndarray) -> np.ndarray:
    """Cumsum of uint64 ``v`` restarting at each consecutive segment
    (``lens`` values starting at ``first``); wraps mod 2**64, which is
    exact for the deltas it undoes."""
    cs = np.concatenate((np.zeros(1, np.uint64), v.cumsum(dtype=np.uint64)))
    return cs[1:] - np.repeat(cs[first], lens)


def _excl_cumsum(lens: np.ndarray) -> np.ndarray:
    """``[0, l0, l0+l1, ...]`` — segment starts plus the total."""
    out = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=out[1:])
    return out


def decode_many(blobs, want_positions: bool = True):
    """Decode a sequence of blobs, each a concatenation of frames.

    Returns ``(counts, doc_ids, tfs, positions)``: ``counts[i]`` is the
    number of postings blob ``i`` holds, and the three uint64 arrays are
    every blob's ``decode_frames`` output concatenated in blob order.
    Positions are empty for tf-only frames, and skipped entirely with
    ``want_positions=False`` (non-positional plans pay only the byte
    scan).
    """
    nblob = len(blobs)
    blen = np.fromiter(map(len, blobs), dtype=np.int64, count=nblob)
    vals, ends = _vb_values(np.frombuffer(b"".join(blobs), dtype=np.uint8))
    # blobs end on value boundaries: blob i ends after the values whose
    # last byte precedes its end offset
    vend = np.searchsorted(ends, np.cumsum(blen), side="left")
    # header walk: integer arithmetic only; Σtf of a frame is a
    # difference of the (wrapping) cumsum of all values
    csum = np.cumsum(vals, dtype=np.uint64)
    total = vals.size
    get, cs = vals.item, csum.item
    f_start, f_n, f_npos = [], [], []
    o = 0
    while o < total:
        if o + 1 >= total:
            raise ValueError("truncated posting frame")
        n = get(o)
        tf_end = o + 1 + 2 * n  # index of the frame's last tf
        if tf_end >= total:
            raise ValueError("truncated posting frame")
        npos = (cs(tf_end) - cs(o + 1 + n)) & _U64 if get(o + 1) else 0
        f_start.append(o)
        f_n.append(n)
        f_npos.append(npos)
        o = tf_end + 1 + npos
    if o != total:
        raise ValueError("truncated posting frame")
    f_start = np.array(f_start, dtype=np.int64)
    f_n = np.array(f_n, dtype=np.int64)
    f_npos = np.array(f_npos, dtype=np.int64)
    # frames starting before each blob's end; a blob must end on one
    k = np.searchsorted(f_start, vend, side="left")
    if np.any(np.append(f_start, total)[k] != vend):
        raise ValueError("blob does not end on a frame boundary")
    cum_n = _excl_cumsum(f_n)
    counts = np.diff(cum_n[k], prepend=0)

    first = cum_n[:-1]
    idx = np.arange(cum_n[-1]) + np.repeat(f_start + 2 - first, f_n)
    docs = _seg_cumsum(vals[idx], f_n, first)
    tfs = vals[idx + np.repeat(f_n, f_n)]
    if not want_positions or not f_npos.any():
        return counts, docs, tfs, np.empty(0, dtype=np.uint64)
    has_pos = f_npos > 0
    run_lens = (tfs if has_pos.all() else tfs[np.repeat(has_pos, f_n)]).astype(np.int64)
    f_npos, p_off = f_npos[has_pos], (f_start + 2 + 2 * f_n)[has_pos]
    cum_p = _excl_cumsum(f_npos)
    pgaps = vals[np.arange(cum_p[-1]) + np.repeat(p_off - cum_p[:-1], f_npos)]
    return counts, docs, tfs, _seg_cumsum(pgaps, run_lens, _excl_cumsum(run_lens)[:-1])


def encode_many(group_lens, docs, tfs, positions=None) -> list[bytes]:
    """Encode consecutive posting groups, one frame each.

    Group ``i`` is the next ``group_lens[i]`` entries of ``docs`` /
    ``tfs`` (doc ids ascending within a group) and, when ``positions``
    is given, the next Σtf entries of the doc-major ``positions``.
    Returns one bytes object per group, byte-identical to
    :func:`encode_frame` on that group (``b""`` for an empty group).
    """
    lens = np.asarray(group_lens, dtype=np.int64)
    docs = np.asarray(docs, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    n_post = docs.size
    if tfs.size != n_post or int(lens.sum()) != n_post:
        raise ValueError("group_lens, docs and tfs disagree in length")
    cum_l = _excl_cumsum(lens)
    p_start = cum_l[:-1]
    ctf = np.concatenate((np.zeros(1, np.uint64), np.cumsum(tfs, dtype=np.uint64)))
    if positions is None:
        g_npos = np.zeros(lens.size, dtype=np.int64)
    else:
        positions = np.asarray(positions, dtype=np.uint64)
        if positions.size != int(ctf[-1]):
            raise ValueError("positions must hold Σtf values")
        g_npos = (ctf[cum_l[1:]] - ctf[p_start]).astype(np.int64)
    nv = np.where(lens > 0, 2 + 2 * lens + g_npos, 0)
    cum_v = _excl_cumsum(nv)
    v_start = cum_v[:-1]
    vals = np.empty(cum_v[-1], dtype=np.uint64)
    ne = lens > 0
    vals[v_start[ne]] = lens[ne]
    vals[v_start[ne] + 1] = g_npos[ne] > 0
    gaps = docs.copy()
    np.subtract(docs[1:], docs[:-1], out=gaps[1:])
    gaps[p_start[ne]] = docs[p_start[ne]]
    idx = np.arange(n_post, dtype=np.int64) + np.repeat(v_start + 2 - p_start, lens)
    vals[idx] = gaps
    vals[idx + np.repeat(lens, lens)] = tfs
    if g_npos.any():
        pgaps = positions.copy()
        np.subtract(positions[1:], positions[:-1], out=pgaps[1:])
        run_starts = ctf[:-1][tfs > 0].astype(np.int64)
        pgaps[run_starts] = positions[run_starts]
        pos_shift = v_start + 2 + 2 * lens - ctf[p_start].astype(np.int64)
        vals[np.arange(positions.size, dtype=np.int64) + np.repeat(pos_shift, g_npos)] = pgaps
    out, nbytes = _vb_encode(vals)
    cb = _excl_cumsum(nbytes)
    buf = out.tobytes()
    return [buf[a:b] for a, b in zip(cb[v_start].tolist(), cb[cum_v[1:]].tolist())]


def encode_frame(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    positions: np.ndarray | None = None,
) -> bytes:
    """Encode one ascending-doc_id posting frame.

    ``positions`` is the doc-major concatenation of per-doc position
    lists (``tfs.sum()`` values); pass None to store empty positions
    (tf-only index).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    if positions is not None and len(positions) == 0:
        positions = None
    return encode_many([doc_ids.size], doc_ids, tfs, positions)[0]


def decode_frames(buf: bytes, want_positions: bool = True):
    """Decode a concatenation of frames.

    Returns ``(doc_ids, tfs, positions)`` as uint64 arrays; positions is
    empty when frames were encoded tf-only. doc_ids ascend globally when
    frames were produced from disjoint ascending doc ranges (the build
    invariant).

    ``want_positions=False`` skips the position payload: on a
    positional index, non-positional plans — keyword, boolean, BM25 —
    pay only the byte scan, not the (≈Σdoclen-sized) position-list
    materialization.  Positions come back empty.
    """
    _, docs, tfs, pos = decode_many([buf], want_positions)
    return docs, tfs, pos
