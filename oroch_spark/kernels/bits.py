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

import numpy as np

U64 = np.uint64
I64 = np.int64


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

    Values must already fit in ``nbits`` bits (caller masks).
    Output size: ceil(n*nbits/8) bytes (<= the reference's 16-byte-block
    size from `oroch/bitpck.h:54-71`, charged by the cost model).
    """
    n = len(u)
    if n == 0 or nbits == 0:
        return b""
    # '<u8' pins the wire format to little-endian regardless of host
    # byte order (no-op view on LE hosts, byte-swapping copy on BE)
    u = np.ascontiguousarray(u, dtype="<u8")
    # little-endian byte view -> per-value bit rows (C-side unpackbits),
    # keep the low nbits of each row, repack densely. Avoids the
    # (n x nbits) uint64 shift matrix entirely; only the ceil(nbits/8)
    # low bytes per value are unpacked (8x less work at plane widths).
    nb = (nbits + 7) // 8
    if nbits == 8 * nb:
        # byte-aligned widths: plain byte slice, no bit ops at all
        byte_rows = u.view(np.uint8).reshape(n, 8)[:, :nb]
        return np.ascontiguousarray(byte_rows).tobytes()
    # Grouped shift-OR: g = 8/gcd(nbits,8) values pack into exactly
    # g*nbits/8 bytes; when one group fits a uint64 (g*nbits <= 64 —
    # every nbits <= 8 plus 10/12/14/20/28), OR the g lanes together
    # and slice the low bytes per group. Zero-padding the tail group is
    # bit-identical to the dense stream: pad values contribute 0 bits
    # and the byte count is truncated to ceil(n*nbits/8) exactly as
    # packbits would zero-fill the final partial byte.
    g = 8 // np.gcd(nbits, 8)
    ngroups = (n + g - 1) // g
    if ngroups * g != n:
        up = np.zeros(ngroups * g, dtype="<u8")
        up[:n] = u
        u = up
    lanes = u.reshape(ngroups, g)
    gbytes = (g * nbits) // 8
    if g * nbits <= 64:
        acc = lanes[:, 0].copy()
        for k in range(1, g):
            acc |= lanes[:, k] << U64(k * nbits)
        out = np.ascontiguousarray(
            acc.view(np.uint8).reshape(ngroups, 8)[:, :gbytes])
        return out.reshape(-1)[: (n * nbits + 7) // 8].tobytes()
    # Multi-lane grouped shift-OR: when one group spans more than a
    # uint64 (g*nbits in 72..504 bits, i.e. every remaining non-aligned
    # width), hold the group in ceil(gbytes/8) uint64 lanes. Value k
    # lands at bit k*nbits: OR into lane bitpos>>6 at shift bitpos&63,
    # plus the straddle spill into the next lane when it crosses the
    # lane boundary. g <= 8 vector passes over n/g-length lanes — no
    # per-bit unpackbits expansion (8x the payload in scratch bytes).
    nlanes = (gbytes + 7) // 8
    # accumulate each lane in its own CONTIGUOUS vector (strided |=
    # into interleaved (ngroups, nlanes) columns measures ~15% slower),
    # interleave once at the end
    accs = [np.zeros(ngroups, dtype="<u8") for _ in range(nlanes)]
    for k in range(g):
        bitpos = k * nbits
        j, s = bitpos >> 6, bitpos & 63
        v = lanes[:, k]
        accs[j] |= v << U64(s)
        if s + nbits > 64:
            accs[j + 1] |= v >> U64(64 - s)
    acc = np.empty((ngroups, nlanes), dtype="<u8")
    for j in range(nlanes):
        acc[:, j] = accs[j]
    out = np.ascontiguousarray(
        acc.view(np.uint8).reshape(ngroups, 8 * nlanes)[:, :gbytes])
    return out.reshape(-1)[: (n * nbits + 7) // 8].tobytes()


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
    g = 8 // np.gcd(nbits, 8)
    if g * nbits <= 64:
        # Grouped inverse of pack_bits' shift-OR path: g values start
        # byte-aligned every g*nbits/8 bytes, so ONE 8-byte window per
        # GROUP covers all g lanes — g x fewer gathers than the
        # window-per-value path below. Zero padding past the stream
        # only feeds the sliced-off tail lanes.
        gbytes = (g * nbits) // 8
        ngroups = (n + g - 1) // g
        pad = np.zeros(ngroups * gbytes + 8, dtype=np.uint8)
        m = min(len(raw), ngroups * gbytes)  # tolerate oversized buffers:
        pad[:m] = raw[:m]  # bytes past the stream never reach a kept lane
        win = np.lib.stride_tricks.sliding_window_view(pad, 8)
        offs = np.arange(ngroups, dtype=np.int64) * gbytes
        w = np.ascontiguousarray(win[offs]).view("<u8").reshape(ngroups)
        w = w.astype(U64, copy=False)
        mask = (U64(1) << U64(nbits)) - U64(1)
        out = np.empty((ngroups, g), dtype=U64)
        for k in range(g):
            out[:, k] = (w >> U64(k * nbits)) & mask
        return out.reshape(-1)[:n]
    if nbits <= 41 or nbits >= 58:
        # Multi-lane grouped inverse (pack_bits' multi-lane encoder):
        # gather nlanes 8-byte windows per g-value GROUP instead of one
        # window per VALUE — nlanes/g as many gathers. Value k spans
        # lane bitpos>>6 from shift bitpos&63, straddle completed from
        # the next lane; the final mask kills bytes past the group.
        # Measured faster than the per-value path at nbits <= 41 and
        # at 58..63 (where per-value's 8-byte window cannot hold a
        # value and the only alternative was the unpackbits expansion,
        # ~3x slower); per-value wins in between — both kept.
        gbytes = (g * nbits) // 8
        nlanes = (gbytes + 7) // 8
        ngroups = (n + g - 1) // g
        pad = np.zeros(ngroups * gbytes + 8 * nlanes, dtype=np.uint8)
        m = min(len(raw), ngroups * gbytes)
        pad[:m] = raw[:m]
        win = np.lib.stride_tricks.sliding_window_view(pad, 8)
        offs = np.arange(ngroups, dtype=np.int64) * gbytes
        lanes = [np.ascontiguousarray(win[offs + 8 * j]).view("<u8")
                 .reshape(ngroups).astype(U64, copy=False)
                 for j in range(nlanes)]
        mask = ~U64(0) if nbits == 64 else (U64(1) << U64(nbits)) - U64(1)
        out = np.empty((ngroups, g), dtype=U64)
        for k in range(g):
            bitpos = k * nbits
            j, s = bitpos >> 6, bitpos & 63
            v = lanes[j] >> U64(s)
            if s + nbits > 64:
                v = v | (lanes[j + 1] << U64(64 - s))
            out[:, k] = v & mask
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


def packed_size(n: int, nbits: int) -> int:
    """Actual dense size in bytes of :func:`pack_bits` output."""
    return (n * nbits + 7) // 8
