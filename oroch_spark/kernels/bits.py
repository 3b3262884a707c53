"""Low-level vectorized bit utilities shared by the integer codecs.

These are the numpy analogues of the reference's intrinsics layer
(`/root/reference/oroch/integer_traits.h:135-170` — clz / usedcount) and of
the fixed-width bit-packing payload (`/root/reference/oroch/bitpck.h:73-201`).
We do NOT reproduce the reference's two-uint64-lane 16-byte block layout;
we use a dense little-endian bitstream (strictly smaller or equal in size)
while the *cost model* (in `integers.py`) still charges the reference's
`16 * ceil(n / floor(128/nbits))` bytes for selection/budget parity
(`/root/reference/oroch/bitpck.h:54-71`).

Wire contract: the bitstream is little-endian at both the byte and the
bit level (values enter the stream low-bit-first through a `<u8` view),
independent of host byte order.
"""
from __future__ import annotations

import math

import numpy as np

U64 = np.uint64
I64 = np.int64
# shift amounts as NumPy scalars, made once: on a short lane, building
# the scalar costs about as much as the shift
_SHIFTS = [U64(s) for s in range(65)]


# 16-bit bit-length table: exponents from frexp over the full 16-bit
# domain (exact — every value < 2^53). 64 KiB, cache-resident; the
# gather is ~2.3x faster than the float round-trip even counting the
# max() guard pass, and MOST kernel inputs are small-domain (dict /
# word ids, FOR-transformed residues, outlier gaps).
_BL16 = np.frexp(np.arange(1 << 16, dtype=np.float64))[1].astype(np.uint8)


def bit_length(u: np.ndarray) -> np.ndarray:
    """Vectorized bit length of a uint64 array.

    Mirrors ``integer_traits::usedcount`` (`oroch/integer_traits.h:165-168`):
    0 -> 0, otherwise 64 - clz(value).
    """
    u = np.asarray(u, dtype=U64)
    if u.size == 0:
        return np.zeros(0, dtype=np.uint8)
    if int(u.max()) < (1 << 16):
        # table gather; uint8 lengths (<= 16) — all consumers do
        # histogram/compare/small-int arithmetic, no overflow possible
        return _BL16[u]
    # frexp exponent == bit_length exactly while the float64 conversion
    # is exact (u < 2^53); frexp(0) yields exponent 0 which is also
    # correct. Values >= 2^53 could round up across a power of two, so
    # recompute those (rare) from the exact top 48 bits. The float
    # rounding only ever bumps the exponent UP, so `bl.max() <= 53`
    # proves every value is < 2^53 and the fix-up pass can be skipped
    # without the two extra full-array passes (compare + any).
    bl = np.frexp(u.astype(np.float64))[1]
    if int(bl.max(initial=0)) > 53:
        big = u >= U64(1 << 53)
        bl[big] = np.frexp((u[big] >> U64(16)).astype(np.float64))[1] + 16
    return bl


def pack_bits(u: np.ndarray, nbits: int) -> bytes:
    """Pack each uint64 value into ``nbits`` bits, dense little-endian.

    Values must already fit in ``nbits`` bits (see :func:`pack_low_bits`
    for values that may not). Output size: ceil(n*nbits/8) bytes (<= the
    reference's 16-byte-block size from `oroch/bitpck.h:54-71`, charged
    by the cost model)."""
    return _pack(u, nbits, False)


def pack_low_bits(u: np.ndarray, nbits: int) -> bytes:
    """:func:`pack_bits` of the low ``nbits`` bits of each value (a
    patched-FOR block's low bits, outliers included): each lane is
    masked as it is packed, so no masked copy of ``u`` is made."""
    return _pack(u, nbits, True)


def _pack(u: np.ndarray, nbits: int, masked: bool) -> bytes:
    n = len(u)
    if n == 0 or nbits == 0:
        return b""
    # '<u8' pins the wire format to little-endian regardless of host
    # byte order (no-op view on LE hosts, byte-swapping copy on BE)
    u = np.ascontiguousarray(u, dtype="<u8")
    if nbits % 8 == 0:
        # byte-aligned widths: the low nbits/8 bytes of each value
        out = np.empty(n * (nbits // 8), dtype=np.uint8)
        _store_low_bytes(out, [u], nbits // 8)
        return out.tobytes()
    # Grouped shift-OR: g = 8/gcd(nbits,8) values pack into exactly
    # gbytes = g*nbits/8 bytes, so whole groups are independent and
    # byte-aligned. The n // g whole groups pack straight from a view
    # of the input; the last partial group (< g values) packs as one
    # Python int, zero above its values. Cut to ceil(n*nbits/8) bytes,
    # that is exactly how a dense packer zero-fills its final partial
    # byte. No padded copy of the input is made.
    g = 8 // math.gcd(nbits, 8)
    gbytes = (g * nbits) // 8
    full = n // g
    out = np.empty(-(-n // g) * gbytes, dtype=np.uint8)
    if full:
        _pack_groups(u[:full * g].reshape(full, g), nbits, out, masked)
    if full * g < n:
        tail = 0
        for i, x in enumerate(u[full * g:].tolist()):
            tail |= (x & ((1 << nbits) - 1)) << (i * nbits)
        out[full * gbytes:] = np.frombuffer(tail.to_bytes(gbytes, "little"),
                                            dtype=np.uint8)
    return out[:(n * nbits + 7) // 8].tobytes()


def _pack_groups(lanes: np.ndarray, nbits: int, out: np.ndarray,
                 masked: bool) -> None:
    """Pack the (ngroups, g) values ``lanes`` (each lane cut to its low
    ``nbits`` bits first when ``masked``) into the first
    ngroups*g*nbits/8 bytes of ``out``. A group is held in
    ceil(g*nbits/64) uint64 words: value k lands in word bitpos>>6 at
    shift bitpos&63, plus the straddle spill into the next word when it
    crosses a word boundary. g <= 8 vector passes over n/g-length
    lanes, into reused scratch vectors; no per-bit expansion."""
    ngroups, g = lanes.shape
    gbytes = (g * nbits) // 8
    mask = U64((1 << nbits) - 1)
    # each word in its own CONTIGUOUS row (strided |= into interleaved
    # (ngroups, nwords) columns measures ~15% slower)
    words = np.empty(((gbytes + 7) // 8, ngroups), dtype="<u8")
    tmp = np.empty(ngroups, dtype="<u8")
    low = np.empty(ngroups, dtype="<u8") if masked else None
    started = 0  # words written so far
    for k in range(g):
        bitpos = k * nbits
        j, s = bitpos >> 6, bitpos & 63
        v = np.bitwise_and(lanes[:, k], mask, out=low) if masked \
            else lanes[:, k]
        parts = [(j, np.left_shift, s)]
        if s + nbits > 64:  # straddles into the next word
            parts.append((j + 1, np.right_shift, 64 - s))
        for jj, op, sh in parts:
            if jj < started:  # OR into a word already written
                op(v, _SHIFTS[sh], out=tmp)
                words[jj] |= tmp
            else:  # the first value to reach a word writes it
                op(v, _SHIFTS[sh], out=words[jj])
                started = jj + 1
    _store_low_bytes(out, words, gbytes)


def _store_low_bytes(out: np.ndarray, words, gbytes: int) -> None:
    """Write the low ``gbytes`` bytes of each row of the little-endian
    ``words`` (word j holds bytes 8j..8j+7) to consecutive
    ``gbytes``-byte slots of the uint8 array ``out``. One strided store
    per 8-, 4-, 2- or 1-byte piece of a slot, straight from the words:
    no (rows x 8) byte matrix is sliced and copied."""
    rows = len(words[0])
    b = 0
    while b < gbytes:
        w = 8 if gbytes - b >= 8 else 4 if gbytes - b >= 4 \
            else 2 if gbytes - b >= 2 else 1
        o = b % 8  # 0, 4 or 6: aligned to w within its word
        src = words[b // 8].view(f"<u{w}")[o // w::8 // w]
        np.ndarray((rows,), dtype=f"<u{w}", buffer=out, offset=b,
                   strides=(gbytes,))[:] = src
        b += w


def unpack_bits(buf: bytes, n: int, nbits: int) -> np.ndarray:
    """Inverse of :func:`pack_bits`; returns uint64 array of length n."""
    if n == 0 or nbits == 0:
        return np.zeros(n, dtype=U64)
    nb = (nbits + 7) // 8
    raw = np.frombuffer(buf, dtype=np.uint8)
    if nbits == 8 * nb:
        out_bytes = np.zeros((n, 8), dtype=np.uint8)
        out_bytes[:, :nb] = raw[:n * nb].reshape(n, nb)
        return out_bytes.reshape(-1).view("<u8").astype(U64, copy=False)
    g = 8 // math.gcd(nbits, 8)
    if g * nbits <= 64 or nbits <= 41 or nbits >= 58:
        # Grouped inverse of pack_bits: g values start byte-aligned every
        # gbytes = g*nbits/8 bytes, so each GROUP's ceil(gbytes/8) words
        # are read once for all g lanes (g/nwords fewer gathers than a
        # window per value). Value k spans word bitpos>>6 from shift
        # bitpos&63, its straddle completed from the next word; the mask
        # kills bytes past the group. Measured faster than the per-value
        # path below at nbits <= 41 and at 58..63 (where one 8-byte
        # window per value cannot hold a value); per-value wins between.
        gbytes = (g * nbits) // 8
        ngroups = (n + g - 1) // g
        words = _group_words(raw, ngroups, gbytes)
        mask = (U64(1) << U64(nbits)) - U64(1)
        out = np.empty((ngroups, g), dtype=U64)
        v = np.empty(ngroups, dtype=U64)
        hi = np.empty(ngroups, dtype=U64)
        for k in range(g):
            bitpos = k * nbits
            j, s = bitpos >> 6, bitpos & 63
            np.right_shift(words[j], _SHIFTS[s], out=v)
            if s + nbits > 64:
                np.left_shift(words[j + 1], _SHIFTS[64 - s], out=hi)
                v |= hi
            np.bitwise_and(v, mask, out=out[:, k])
        return out.reshape(-1)[:n]
    # remaining widths (42..57): each value's bits live inside the
    # 8-byte little-endian window that starts at its byte offset
    # (bit shift <= 7, so shift + nbits <= 64): gather the n windows in
    # one fancy index, view as <u8, shift and mask. One 8n-byte gather
    # plus two vector ops — no bit->byte expansion of the whole stream.
    pad = np.zeros(len(raw) + 8, dtype=np.uint8)
    pad[:len(raw)] = raw
    bitpos = np.arange(n, dtype=np.int64) * nbits
    win = np.lib.stride_tricks.sliding_window_view(pad, 8)
    vals = np.ascontiguousarray(win[bitpos >> 3]).view("<u8")
    vals = vals.reshape(n).astype(U64, copy=False)
    shift = (bitpos & 7).view(U64)
    return (vals >> shift) & ((U64(1) << U64(nbits)) - U64(1))


def _group_words(raw: np.ndarray, ngroups: int, gbytes: int) -> np.ndarray:
    """(ceil(gbytes/8), ngroups) uint64: word j of group i is the 8
    little-endian bytes at ``raw[i*gbytes + 8*j:]``. Groups whose words
    lie inside ``raw`` are read by strided views of it; only the last
    few are read from a zero-padded copy of the stream's tail, so the
    stream is never copied whole. Bytes past a group land above its
    g*nbits bits, where no kept lane reads them."""
    nwords = (gbytes + 7) // 8
    span = 8 * nwords
    words = np.empty((nwords, ngroups), dtype="<u8")
    nfit = min(ngroups, (len(raw) - span) // gbytes + 1) \
        if len(raw) >= span else 0

    def fill(src, lo, hi):
        for j in range(nwords):
            words[j, lo:hi] = np.ndarray((hi - lo,), dtype="<u8", buffer=src,
                                         offset=8 * j, strides=(gbytes,))

    if nfit:
        fill(raw, 0, nfit)
    if nfit < ngroups:
        tail = raw[nfit * gbytes: ngroups * gbytes]
        pad = np.zeros((ngroups - nfit) * gbytes + span, dtype=np.uint8)
        pad[:len(tail)] = tail
        fill(pad, nfit, ngroups)
    return words


def packed_size(n: int, nbits: int) -> int:
    """Actual dense size in bytes of :func:`pack_bits` output."""
    return (n * nbits + 7) // 8
