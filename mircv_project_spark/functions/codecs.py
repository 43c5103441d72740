"""Posting-block compression codecs (numpy-vectorized, Arrow-friendly).

The reference compresses posting blocks with Elias-Fano (docIds) + unary
(frequencies) (``model/EliasFano.java``, ``model/UnaryCompressor.java``).
Compression is storage-internal — ranks/scores depend only on the decoded
(docId, tf) pairs — and this rebuild implements the codecs the north rule
asks for, keeping the reference's *block structure*:

- docIds: variable-byte over d-gaps (first id of each block absolute, so
  every block is independently decodable -> block skipping works), with
  Elias-gamma over d-gaps as an alternative codec.
- tfs: unary, same value convention as the reference
  (``UnaryCompressor.java:16-41``: v ones then a zero — encodes v, not
  v-1; tf >= 1 always holds).
- doc lengths ride along as a third VB stream: the distributed query
  path reads dl from the block instead of a 10^12-row broadcast of the
  reference's in-RAM DocumentIndex (``model/DocumentIndex.java:22``).

Block structure (``model/UncompressedPostingList.java:241-284``,
``configuration/Configuration.java:15``): a list is split only when its
uncompressed size exceeds BLOCK_THRESHOLD_BYTES (2048); block size =
floor(sqrt(n)) postings; per-block max_doc_id is the skip pointer /
block-max metadata (``model/BlockDescriptor.java``).

All encoders/decoders are pure numpy (no per-element Python in the hot
path except the sequential Elias-gamma bit scan, which is why VB is the
default scale codec).
"""

from __future__ import annotations

import math

import numpy as np

from ..config import BLOCK_THRESHOLD_BYTES, POSTING_BYTES

VB = "vb"
GAMMA = "gamma"
RAW = "raw"


# ------------------------------ variable-byte ------------------------------
# Layout: per value, 7-bit groups little-endian (least significant group
# first); the final (most significant) byte has the 0x80 continuation
# flag set.

_VB_THRESHOLDS = [1 << (7 * k) for k in range(1, 10)]


def _vb_encode_with_ends(v: np.ndarray):
    """Encode a uint64 array; return (uint8 byte array, int64 per-value
    byte END offsets).  VB encodes each value independently, so callers
    may slice the byte array at value boundaries to recover the exact
    per-subrange encodings (encode_posting_blocks' run-level path)."""
    mx = int(v.max())
    if mx < 128:
        # all single-byte: the value IS its (final, flagged) byte —
        # identical layout to the general path below, minus its per-
        # threshold passes (the common case for doc_len streams and
        # dense-list gaps; ~2x on the build's encode kernel)
        return (v.astype(np.uint8) | np.uint8(0x80)), np.arange(
            1, v.size + 1, dtype=np.int64
        )
    nb = np.ones(v.shape, dtype=np.int64)
    for t in _VB_THRESHOLDS:
        if mx < t:
            break  # no value needs another byte group (nb is exact)
        nb += v >= t
    ends = np.cumsum(nb)
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_nb = int(nb.max())
    for k in range(max_nb):
        mask = nb > k
        # byte k (from LSB group) lands at position end - 1 - k? No:
        # little-endian group order means group k sits at start + k.
        pos = ends[mask] - nb[mask] + k
        out[pos] = (v[mask] >> np.uint64(7 * k)).astype(np.uint8) & 0x7F
    out[ends - 1] |= 0x80  # flag on final byte of each value
    return out, ends


def vb_encode(values) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    return _vb_encode_with_ends(v)[0].tobytes()


def vb_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == n:
        # every value single-byte (flag + 7 payload bits) — mirrors the
        # encoder's fast path; the byte count alone proves it
        return (b & np.uint8(0x7F)).astype(np.uint64)
    is_last = (b & 0x80) != 0
    ends = np.flatnonzero(is_last) + 1
    ends = ends[:n]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1]
    lens = ends - starts
    vals = np.zeros(n, dtype=np.uint64)
    for k in range(int(lens.max())):
        mask = lens > k
        vals[mask] |= (b[starts[mask] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
            7 * k
        )
    return vals


# ---------------------------------- unary ----------------------------------
# v ones then a terminating zero, MSB-first bit packing (reference
# convention: Bits.java writeUnary / UnaryCompressor.java).

def unary_encode(values) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.int64)
    if v.size == 0:
        return b""
    total_bits = int(v.sum()) + v.size
    bits = np.ones(total_bits, dtype=np.uint8)
    ends = np.cumsum(v + 1) - 1  # position of each terminating zero
    bits[ends] = 0
    return np.packbits(bits).tobytes()


def unary_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    zeros = np.flatnonzero(bits == 0)[:n]
    out = np.empty(n, dtype=np.int64)
    out[0] = zeros[0]
    out[1:] = np.diff(zeros) - 1
    return out


# ------------------------------- Elias-gamma -------------------------------
# value v >= 1: floor(log2 v) zeros, then the binary form of v (MSB
# first).  Encode is vectorized; decode scans the unary prefixes
# (sequential) — provided for completeness, VB is the scale default.

def gamma_encode(values) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if (v < 1).any():
        raise ValueError("Elias-gamma requires values >= 1")
    nbits = np.zeros(v.shape, dtype=np.int64)  # floor(log2 v)
    for k in range(1, 64):
        nbits += v >= (np.uint64(1) << np.uint64(k))
    total = int((2 * nbits + 1).sum())
    bits = np.zeros(total, dtype=np.uint8)
    # binary part of value i occupies [start+nbits, start+2*nbits] (MSB first)
    ends = np.cumsum(2 * nbits + 1)
    for k in range(int(nbits.max()) + 1):
        mask = nbits >= k
        # bit k counted from the LSB end of the binary part
        pos = ends[mask] - 1 - k
        bits[pos] = ((v[mask] >> np.uint64(k)) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


def gamma_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    out = np.empty(n, dtype=np.uint64)
    pos = 0
    for i in range(n):
        start = pos
        while bits[pos] == 0:
            pos += 1
        nz = pos - start
        val = np.uint64(0)
        for _ in range(nz + 1):
            val = (val << np.uint64(1)) | np.uint64(bits[pos])
            pos += 1
        out[i] = val
    return out


# -------------------------------- Elias-Fano --------------------------------
# The reference's docId codec (model/EliasFano.java), byte-layout
# compatible: l = max(0, ceil(log2(u/n))) low bits per value packed
# MSB-first (section padded to a byte), then the high parts as unary
# cluster counts per bucket ("count ones then a zero", MSB-first,
# padded to a byte).  Verified against the reference's JUnit golden
# byte arrays (EliasFanoTest.java:33-126 — see tests/test_codecs.py).
#
# l == 0 edge (u == n, a dense block of docids starting at 1): the
# reference pads the empty low-bits section to one byte
# (EliasFano.roundUp(0) == 8) and we mirror that — but the reference
# then SIZES the buffer with getL(u+1, n) while ENCODING with
# getL(u, n) (CompressedPostingList.java:52-58), truncating the last
# high bit; its own decompress crashes on that output (verified by
# running the class — tests/test_codecs.py::test_elias_fano_l0_layout).
# We keep the padding convention but size the high section correctly,
# so compatibility holds wherever the reference is well-defined (l>=1)
# and the l==0 case round-trips instead of corrupting.

def ef_l(u: int, n: int) -> int:
    """model/EliasFano.java:31-33."""
    if n == 0:
        return 0
    return max(0, math.ceil(math.log2(u / n)) if u > 0 else 0)


def ef_encode(values, u: int | None = None) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    if u is None:
        u = int(v[-1])
    l = ef_l(u, n)
    # low bits, MSB-first within each l-bit group.  When l == 0 the
    # reference still pads the empty low-bits section to ONE byte
    # (EliasFano.roundUp(0) == Byte.SIZE — model/EliasFano.java:13-21),
    # so the high bits always start at a byte boundary > 0.
    if l > 0:
        shifts = np.arange(l - 1, -1, -1, dtype=np.uint64)
        lowbits = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
        low_packed = np.packbits(lowbits.reshape(-1))
    else:
        low_packed = np.zeros(1, dtype=np.uint8)
    # high parts -> per-bucket counts -> unary "count ones then a zero"
    highs = (v >> np.uint64(l)).astype(np.int64)
    n_buckets = int(highs[-1]) + 1
    counts = np.bincount(highs, minlength=n_buckets)
    total_bits = int(counts.sum()) + n_buckets
    bits = np.ones(total_bits, dtype=np.uint8)
    zero_pos = np.cumsum(counts + 1) - 1
    bits[zero_pos] = 0
    high_packed = np.packbits(bits)
    return low_packed.tobytes() + high_packed.tobytes()


def ef_decode(buf: bytes, n: int, u: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    l = ef_l(u, n)
    b = np.frombuffer(buf, dtype=np.uint8)
    # reference roundUp: an empty low section still occupies one byte
    low_bytes = (l * n + 7) // 8 if l > 0 else 1
    if l > 0:
        lowbits = np.unpackbits(b[:low_bytes])[: n * l].reshape(n, l)
        weights = (np.uint64(1) << np.arange(l - 1, -1, -1, dtype=np.uint64))
        lows = (lowbits.astype(np.uint64) * weights[None, :]).sum(axis=1)
    else:
        lows = np.zeros(n, dtype=np.uint64)
    high_bits = np.unpackbits(b[low_bytes:])
    ones = np.flatnonzero(high_bits == 1)[:n]
    highs = (ones - np.arange(n)).astype(np.uint64)
    return (highs << np.uint64(l)) | lows


EF = "ef"


# -------------------------------- PForDelta --------------------------------
# NewPFD-style patched frame-of-reference (Zukowski et al. 2006 / Yan
# et al. 2009, "super-scalar RAM-CPU cache compression" / WWW'09): pick
# the smallest bit width b covering >= 90% of the block's values,
# bit-pack every value's low b bits MSB-first, and patch the outliers
# ("exceptions") as (position, high-bits) VB side streams.  The decode
# hot path is one vectorized unpackbits + matmul — no per-value branch —
# which is the reason PFor family codecs beat VB at scan time on long
# head-term blocks.
#
# Layout: [b: u8][n_exc: u32 LE][len_pos: u32 LE][len_high: u32 LE]
#         [packed lows: ceil(n*b/8) bytes][pos VB][high VB]

PFOR_COVERAGE = 0.9


def _pack_bits(v: np.ndarray, b: int) -> bytes:
    if b == 0 or v.size == 0:
        return b""
    shifts = np.arange(b - 1, -1, -1, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_bits(buf: bytes, n: int, b: int) -> np.ndarray:
    if b == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))[: n * b]
    weights = (np.uint64(1) << np.arange(b - 1, -1, -1, dtype=np.uint64))
    return bits.reshape(n, b).astype(np.uint64) @ weights


def pfor_encode(values) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"\x00" + (0).to_bytes(4, "little") * 3
    need = int(math.ceil(PFOR_COVERAGE * n))
    # exact vectorized bit_length (binary clz — no float log2 boundary
    # error at exact powers of two)
    widths = np.zeros(n, dtype=np.int64)
    x = v.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= np.uint64(1 << s)
        widths[m] += s
        x[m] >>= np.uint64(s)
    widths[v > 0] += 1
    b = int(np.sort(widths)[need - 1])
    mask = np.uint64((1 << b) - 1) if b else np.uint64(0)
    lows = v & mask
    exc = np.nonzero(widths > b)[0]
    pos_b = vb_encode(exc.astype(np.uint64)) if exc.size else b""
    high_b = (
        vb_encode((v[exc] >> np.uint64(b)).astype(np.uint64)) if exc.size else b""
    )
    return (
        bytes([b])
        + int(exc.size).to_bytes(4, "little")
        + len(pos_b).to_bytes(4, "little")
        + len(high_b).to_bytes(4, "little")
        + _pack_bits(lows, b)
        + pos_b
        + high_b
    )


def pfor_decode(buf: bytes, n: int) -> np.ndarray:
    b = buf[0]
    n_exc = int.from_bytes(buf[1:5], "little")
    len_pos = int.from_bytes(buf[5:9], "little")
    o = 13 + (n * b + 7) // 8
    out = _unpack_bits(buf[13:o], n, b)
    if n_exc:
        pos = vb_decode(buf[o : o + len_pos], n_exc).astype(np.int64)
        high = vb_decode(buf[o + len_pos :], n_exc)
        out[pos] |= high << np.uint64(b)
    return out


PFOR = "pfor"


# -------------------------------- Simple8b ---------------------------------
# Word-aligned packing (Anh & Moffat, "Index compression using 64-bit
# words", SPE 2010): each 64-bit little-endian word carries a 4-bit
# selector + 60 payload bits holding a FIXED count of fixed-width
# values (the classic 16-row table below, zero-run selectors included).
# Greedy encode: first table row (most values per word first) whose
# count fits the remaining input and whose width covers the chunk max.
# Values pack low-to-high within the payload (value j at bits j*b).
# Decode is branch-light: one vectorized shift/mask per word — the
# word-aligned answer to PFOR's bit-unpack, and the codec InfluxDB/
# Prometheus use for timestamps.  Values must be < 2^60 (d-gaps always
# are).

S8B_SELECTORS = (
    (240, 0), (120, 0), (60, 1), (30, 2), (20, 3), (15, 4),
    (12, 5), (10, 6), (8, 7), (7, 8), (6, 10), (5, 12),
    (4, 15), (3, 20), (2, 30), (1, 60),
)


def s8b_encode(values) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n and int(v.max()) >= (1 << 60):
        raise ValueError("simple8b value >= 2^60")
    words = []
    i = 0
    while i < n:
        for sel, (cnt, b) in enumerate(S8B_SELECTORS):
            if cnt > n - i:
                continue
            chunk = v[i : i + cnt]
            if b == 0:
                if chunk.any():
                    continue
                words.append(np.uint64(sel) << np.uint64(60))
                i += cnt
                break
            if int(chunk.max()) < (1 << b):
                shifts = (
                    np.arange(cnt, dtype=np.uint64) * np.uint64(b)
                )
                payload = np.bitwise_or.reduce(chunk << shifts)
                words.append(
                    (np.uint64(sel) << np.uint64(60)) | payload
                )
                i += cnt
                break
        else:  # pragma: no cover — (1, 60) always fits
            raise AssertionError("no simple8b selector fits")
    return np.asarray(words, dtype="<u8").tobytes()


def s8b_decode(buf: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.uint64)
    k = 0
    for w in np.frombuffer(buf, dtype="<u8"):
        sel = int(w >> np.uint64(60))
        cnt, b = S8B_SELECTORS[sel]
        take = min(cnt, n - k)
        if b == 0:
            out[k : k + take] = 0
        else:
            payload = w & np.uint64((1 << 60) - 1)
            shifts = np.arange(cnt, dtype=np.uint64) * np.uint64(b)
            vals = (payload >> shifts) & np.uint64((1 << b) - 1)
            out[k : k + take] = vals[:take]
        k += take
        if k >= n:
            break
    return out


S8B = "s8b"


# ------------------------------- block layout -------------------------------

def block_size_for(n: int) -> int:
    """Reference M5: split only when the uncompressed list exceeds
    BLOCK_THRESHOLD_BYTES; block size = floor(sqrt(n))."""
    if n * POSTING_BYTES > BLOCK_THRESHOLD_BYTES:
        return max(1, int(math.isqrt(n)))
    return n


def encode_posting_blocks(docids, tfs, dls, codec: str = VB) -> list[dict]:
    """Split one term's postings (docId-ascending) into blocks and encode.

    Returns [{max_doc_id, n, max_tf, min_dl, docids: bytes, tfs: bytes,
    dls: bytes}, ...].  ``max_doc_id`` is the reference's per-block skip
    pointer (``model/BlockDescriptor.java:70-76``); ``max_tf``/``min_dl``
    are the block-max SCORE metadata (Ding & Suel, "Faster top-k document
    retrieval using block-max indexes", SIGIR 2011): the BM25 coefficient
    is increasing in tf and decreasing in dl, so score(max_tf, min_dl) is
    a per-block upper bound for ANY avgdl — avgdl-invariant raw ints, so
    incremental compaction never has to rewrite them.
    """
    ids = np.ascontiguousarray(docids, dtype=np.uint64)
    tf = np.ascontiguousarray(tfs, dtype=np.int64)
    dl = np.ascontiguousarray(dls, dtype=np.int64)
    n = ids.size
    if n == 0:
        return []
    bs = block_size_for(n)
    blocks = []
    if codec == VB:
        # Run-level encode, then byte-slice per block: VB encodes each
        # value independently, so the whole-run byte string equals the
        # per-block concatenation once each block-leading gap is patched
        # back to its absolute id (blocks stay independently decodable).
        # Collapses 2 vb_encode calls PER BLOCK (sqrt-df blocking makes
        # blocks small) to 2 per run — with the reduceat block-max
        # metadata, ~2x on the build's encode kernel on top of the
        # vb_encode fast paths; bytes identical by value-independence
        # (pinned by test_vb_fast_path_matches_general_path and the
        # compressed-store oracle gates).
        starts = np.arange(0, n, bs, dtype=np.int64)
        ends_idx = np.minimum(starts + bs, n)
        gaps = np.empty(n, dtype=np.uint64)
        gaps[1:] = ids[1:] - ids[:-1]
        gaps[starts] = ids[starts]
        id_out, id_ends = _vb_encode_with_ends(gaps)
        dl_out, dl_ends = _vb_encode_with_ends(dl.astype(np.uint64))
        max_tfs = np.maximum.reduceat(tf, starts)
        min_dls = np.minimum.reduceat(dl, starts)
        max_ids = ids[ends_idx - 1]
        # run-level unary bit stream, packed per block: the per-value
        # bit layout is identical to unary_encode's, and packbits pads
        # to a byte boundary at the END of whatever it is given — the
        # same per-block padding as the per-block calls it replaces
        tf_bit_ends = np.cumsum(tf + 1)
        tf_bits = np.ones(int(tf_bit_ends[-1]), dtype=np.uint8)
        tf_bits[tf_bit_ends - 1] = 0
        for bi in range(starts.size):
            s, e = int(starts[bi]), int(ends_idx[bi])
            i0 = int(id_ends[s - 1]) if s else 0
            d0 = int(dl_ends[s - 1]) if s else 0
            t0 = int(tf_bit_ends[s - 1]) if s else 0
            blocks.append(
                {
                    "max_doc_id": int(max_ids[bi]),
                    "n": e - s,
                    "max_tf": int(max_tfs[bi]),
                    "min_dl": int(min_dls[bi]),
                    "docids": id_out[i0:int(id_ends[e - 1])].tobytes(),
                    "tfs": np.packbits(
                        tf_bits[t0:int(tf_bit_ends[e - 1])]
                    ).tobytes(),
                    "dls": dl_out[d0:int(dl_ends[e - 1])].tobytes(),
                }
            )
        return blocks
    for s in range(0, n, bs):
        e = min(s + bs, n)
        bids = ids[s:e]
        gaps = np.empty(e - s, dtype=np.uint64)
        gaps[0] = bids[0]  # first id absolute -> block independently decodable
        gaps[1:] = bids[1:] - bids[:-1]
        if codec == GAMMA:
            id_bytes = gamma_encode(gaps)  # gaps >= 1 (ids strictly increasing)
        elif codec == EF:
            # reference codec: absolute ids, u = block max (block-local
            # decode needs only the block's max_doc_id + n metadata)
            id_bytes = ef_encode(bids, u=int(bids[-1]))
        elif codec == PFOR:
            id_bytes = pfor_encode(gaps)
        elif codec == S8B:
            id_bytes = s8b_encode(gaps)
        elif codec == RAW:
            id_bytes = bids.tobytes()
        else:
            raise ValueError(f"unknown codec {codec!r}")
        blocks.append(
            {
                "max_doc_id": int(bids[-1]),
                "n": int(e - s),
                "max_tf": int(tf[s:e].max()),
                "min_dl": int(dl[s:e].min()),
                "docids": id_bytes,
                "tfs": tf[s:e].tobytes() if codec == RAW else unary_encode(tf[s:e]),
                "dls": dl[s:e].tobytes() if codec == RAW else vb_encode(dl[s:e]),
            }
        )
    return blocks


def decode_block(block, codec: str = VB):
    """-> (docids uint64, tfs int64, dls int64) numpy arrays."""
    n = block["n"]
    if codec == RAW:
        ids = np.frombuffer(block["docids"], dtype=np.uint64)
        tfs = np.frombuffer(block["tfs"], dtype=np.int64)
        dls = np.frombuffer(block["dls"], dtype=np.int64)
        return ids, tfs, dls
    if codec == VB:
        ids = np.cumsum(vb_decode(block["docids"], n), dtype=np.uint64)
    elif codec == GAMMA:
        ids = np.cumsum(gamma_decode(block["docids"], n), dtype=np.uint64)
    elif codec == EF:
        ids = ef_decode(block["docids"], n, block["max_doc_id"])
    elif codec == PFOR:
        ids = np.cumsum(pfor_decode(block["docids"], n), dtype=np.uint64)
    elif codec == S8B:
        ids = np.cumsum(s8b_decode(block["docids"], n), dtype=np.uint64)
    else:
        raise ValueError(f"unknown codec {codec!r}")
    tfs = unary_decode(block["tfs"], n)
    dls = vb_decode(block["dls"], n).astype(np.int64)
    return ids, tfs, dls
