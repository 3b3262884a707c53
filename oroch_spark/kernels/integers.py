"""Vectorized integer codecs with Oroch-style exact-cost auto-selection.

This module re-expresses, in numpy, the *semantics* of the reference
library's integer codec suite (from-scratch implementation, not a port):

- zigzag transform            -> `/root/reference/oroch/zigzag.h:47-83`
- LEB128 varint               -> `/root/reference/oroch/varint.h:56-147`
- normal (verbatim)           -> `/root/reference/oroch/normal.h:31-59`
- naught (constant)           -> `/root/reference/oroch/naught.h:31-48`
- bitpck (fixed-width pack)   -> `/root/reference/oroch/bitpck.h:73-201`
- bitfor (FOR + pack)         -> `/root/reference/oroch/bitfor.h:41-75`
- bitpfr (patched FOR)        -> `/root/reference/oroch/bitpfr.h:59-124`
- exact-cost auto-selection   -> `/root/reference/oroch/integer_codec.h:234-496`
- wire header layout          -> `/root/reference/oroch/integer_codec.h:128-214`

Extensions beyond the reference (per the north rule):
- a ``delta`` wrapper codec (first value + Oroch-selected encoding of the
  consecutive differences) for near-monotone sequences such as timestamps;
  the reference ships the building block (`oroch/offset.h:44-71`) but its
  selector never tries it.
- explicit element count handling: the reference's wire format does not
  store n (callers know the fixed group size 256, `oroch/integer_array.h:44`);
  our blocks are variable-length so ``n`` travels in the block-row metadata.

All values are handled in a 64-bit internal domain (int64 in / uint64
packed). ``width`` (1, 2, 4 or 8 bytes) only affects the ``normal`` codec
payload and the original-size accounting, mirroring the template
parameter ``T`` — the reference handles all integer widths uniformly via
``integer_traits`` promotion (`oroch/integer_traits.h:31-59, 135-170`);
narrow types promote to the 64-bit domain here the same way.

The *selection* cost model charges the reference's exact sizes (16-byte
bit-pack blocks, per-value varint bytes) so codec choices and the
"<= reference size" budget are reproducible; the *actual* payload uses a
dense bitstream that is never larger.
"""
from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from .bits import (I64, U64, bit_length, pack_bits, pack_low_bits,
                   packed_size, unpack_bits)

# Codec tags, superset of `oroch/integer_codec.h:46-54`.
NAUGHT = 0
NORMAL = 1
VARINT = 2
VARFOR = 3
BITPCK = 4
BITFOR = 5
BITPFR = 6
DELTA = 7  # extension: delta transform + inner selection

# width -> little-endian dtype for the `normal` verbatim payload and for
# delta wraparound (the narrow-type analogue of integer_traits promotion)
_WIDTH_DT = {1: "<i1", 2: "<i2", 4: "<i4", 8: "<i8"}
_WIDTH_NP = {1: np.int8, 2: np.int16, 4: np.int32, 8: np.int64}

CODEC_NAMES = {
    NAUGHT: "naught",
    NORMAL: "normal",
    VARINT: "varint",
    VARFOR: "varfor",
    BITPCK: "bitpck",
    BITFOR: "bitfor",
    BITPFR: "bitpfr",
    DELTA: "delta",
}


# ---------------------------------------------------------------------------
# zigzag (`oroch/zigzag.h:47-55`): s -> (s<<1)^(s>>63);  u -> (u>>1)^-(u&1)
# ---------------------------------------------------------------------------

def zigzag_encode(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=I64)
    return ((v << 1) ^ (v >> 63)).view(U64)


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    u = np.asarray(u, dtype=U64)
    return ((u >> U64(1)) ^ (U64(0) - (u & U64(1)))).view(I64)


def zigzag_encode_scalar(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def zigzag_decode_scalar(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


# ---------------------------------------------------------------------------
# varint (`oroch/varint.h`)
# ---------------------------------------------------------------------------

def varint_size(u: np.ndarray) -> np.ndarray:
    """Per-value encoded byte count; 0 takes 1 byte (`varint.h:66-72`)."""
    nb = bit_length(u)
    out = (nb + 6) // 7
    out[out == 0] = 1
    return out


def varint_encode(u: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a uint64 array (`varint.h:74-83`).

    Round k scatters byte k of every still-active value straight into
    its final stream position. Values whose encoding is complete drop
    out of the working set, in the rounds where some do, so the work is
    O(total output bytes) and one long value never inflates a whole
    (n x maxbytes) scratch matrix."""
    n = len(u)
    if n == 0:
        return b""
    wa = np.asarray(u, dtype=U64)
    sz = varint_size(wa)
    ends = np.cumsum(sz, dtype=np.int64)
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    pos = ends - sz
    k = 0
    while True:
        byte = wa.astype(np.uint8)  # low 8 bits
        byte &= 0x7F
        more = sz > k + 1
        byte |= more.view(np.uint8) << np.uint8(7)
        out[pos] = byte
        if not more.all():
            if not more.any():
                break
            wa, sz, pos = wa[more], sz[more], pos[more]
        wa = wa >> U64(7)
        pos += 1
        k += 1
    return out.tobytes()


def varint_decode(buf: bytes, n: int) -> tuple[np.ndarray, int]:
    """Vectorized LEB128 decode of exactly n values (`varint.h:85-115`).

    Returns (values uint64, bytes consumed).
    """
    if n == 0:
        return np.zeros(0, dtype=U64), 0
    b = np.frombuffer(buf, dtype=np.uint8)
    terminal = (b & 0x80) == 0
    ends = np.flatnonzero(terminal)
    if len(ends) < n:
        raise ValueError("varint stream truncated")
    ends = ends[:n]
    nbytes = int(ends[-1]) + 1
    b = b[:nbytes]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    gid = np.zeros(nbytes, dtype=np.int64)
    gid[starts[1:]] = 1
    gid = np.cumsum(gid)
    k = np.arange(nbytes) - starts[gid]
    contrib = (b & 0x7F).astype(U64) << (U64(7) * k.astype(U64))
    vals = np.bitwise_or.reduceat(contrib, starts)
    return vals.astype(U64), nbytes


def varint_encode_scalar(x: int) -> bytes:
    out = bytearray()
    while x >= 0x80:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)
    return bytes(out)


def varint_decode_scalar(buf: bytes, pos: int) -> tuple[int, int]:
    x = 0
    shift = 0
    while True:
        byte = buf[pos]
        pos += 1
        x |= (byte & 0x7F) << shift
        if byte < 0x80:
            return x, pos
        shift += 7


def varint_size_scalar(x: int) -> int:
    """Bytes to varint-encode a non-negative python int (`varint.h:66-72`)."""
    if x == 0:
        return 1
    return (x.bit_length() + 6) // 7


# ---------------------------------------------------------------------------
# Reference cost formulas (`oroch/bitpck.h:54-71`, `oroch/varint.h:56-72`)
# ---------------------------------------------------------------------------

def ref_bitpck_space(nvalues: int, nbits: int) -> int:
    """Reference 16-byte-block bit-pack size (`bitpck.h:54-71`)."""
    if nvalues == 0:
        return 0
    capacity = 128 // nbits
    return 16 * ((nvalues + capacity - 1) // capacity)


# ---------------------------------------------------------------------------
# Descriptor
# ---------------------------------------------------------------------------

@dataclass
class IntDescriptor:
    """Mirror of ``encoding_metadata`` (`oroch/integer_codec.h:95-127`).

    ``ref_meta``/``ref_data`` carry the reference cost-model sizes (the
    numbers Oroch's selector would compute); ``data_bytes`` is our actual
    dense payload size.
    """

    codec: int = NORMAL
    n: int = 0
    width: int = 8
    origin: int = 0          # signed python int
    nbits: int = 0
    noutliers: int = 0
    oval_codec: int = VARINT  # bitpfr outlier-value sub-codec (BITPCK/VARINT)
    oval_nbits: int = 0
    oidx_codec: int = VARINT  # bitpfr outlier-index sub-codec
    oidx_nbits: int = 0
    ref_meta: int = 0         # reference metaspace excl. the tag byte
    ref_data: int = 0         # reference dataspace
    data_bytes: int = 0       # actual payload bytes we wrote
    inner: Optional["IntDescriptor"] = None  # for DELTA wrapper

    @property
    def codec_name(self) -> str:
        return CODEC_NAMES[self.codec]

    @property
    def ref_total(self) -> int:
        """Reference total = 1 tag byte + metaspace + dataspace
        (`integer_codec.h:109-117`)."""
        return 1 + self.ref_meta + self.ref_data


# ---------------------------------------------------------------------------
# Selection (`oroch/integer_codec.h:234-496`)
# ---------------------------------------------------------------------------

def _varint_total_from_hist(hist: np.ndarray) -> int:
    """Exact varint byte total from a bit-length histogram:
    sum over bins of count * max(1, ceil(bits/7)) (`varint.h:56-72`)."""
    b = np.arange(len(hist))
    per = np.maximum((b + 6) // 7, 1)
    return int((hist * per).sum())


def _select_basic(desc: IntDescriptor, vals, u_zig,
                  vmin: int, vmax: int, n: int, width: int,
                  hist_zig: np.ndarray, hist_for: np.ndarray) -> None:
    """`select_basic` (`integer_codec.h:422-496`): exact costs of
    normal / bitpck / bitfor / varint / varfor with strict-less compare in
    that order (`integer_codec.h:405-420`). Varint totals come from the
    shared bit-length histograms — same exact bytes, one pass."""
    # Base case: normal (`integer_codec.h:430-435`).
    desc.codec = NORMAL
    desc.ref_meta = 0
    desc.ref_data = n * width
    desc.origin = 0
    desc.nbits = 0

    def compare(codec, metaspace, dataspace, origin, nbits):
        if dataspace + metaspace < desc.ref_data + desc.ref_meta:
            desc.codec = codec
            desc.ref_data = dataspace
            desc.ref_meta = metaspace
            desc.origin = origin
            desc.nbits = nbits

    # bitpck on zigzag values (`integer_codec.h:437-458`).
    umax = int(max(zigzag_encode_scalar(vmin), zigzag_encode_scalar(vmax)))
    nbits = umax.bit_length()
    compare(BITPCK, 1, ref_bitpck_space(n, nbits), 0, nbits)

    # bitfor on (v - min) (`integer_codec.h:460-476`).
    rng = vmax - vmin  # python ints: exact
    nbits_for = rng.bit_length()
    meta_for = 1 + varint_size_scalar(zigzag_encode_scalar(vmin))
    compare(BITFOR, meta_for, ref_bitpck_space(n, nbits_for), vmin, nbits_for)

    # varint (zigzag) and varfor (origin=min) (`integer_codec.h:478-495`).
    vispace = _varint_total_from_hist(hist_zig)
    vfspace = _varint_total_from_hist(hist_for)
    meta_vf = varint_size_scalar(zigzag_encode_scalar(vmin))
    compare(VARINT, 0, vispace, 0, 0)
    compare(VARFOR, meta_vf, vfspace, vmin, 0)


def _small_range_hists(vals: np.ndarray, vmin: int, vmax: int,
                       want_zig: bool
                       ) -> tuple[np.ndarray, Optional[np.ndarray]]:
    """Derive the selector's bit-length histograms from ONE value
    histogram when the value range is small (dictionary ids, word
    counts, FOR residues, small deltas — the kernel's dominant inputs).

    Exactness: every histogram entry below is the same integer the
    per-value passes would produce — the bit length of a value is a
    pure function of the value, so grouping a value histogram by
    bit length IS the bit-length histogram. bincount-with-weights sums
    stay exact because every count <= n < 2^53 (float64 integer range).

    Returns (hist_for, hist_zig_or_None). Replaces up to five
    full-array passes (zigzag transform, two bit_length passes, two
    bincounts) with one bincount; a 0-based stream (dictionary ids) is
    counted as it stands, with no shifted copy.
    """
    rng = vmax - vmin
    # exact: vals - vmin lies in [0, rng], rng < 2^16
    hist_vals = np.bincount(vals if vmin == 0 else vals - vmin,
                            minlength=rng + 1)
    blf_dom = bit_length(np.arange(rng + 1, dtype=U64))
    hist_for = np.bincount(blf_dom, weights=hist_vals,
                           minlength=65).astype(np.int64)
    hist_zig = None
    if want_zig:
        vdom = np.arange(vmin, vmax + 1, dtype=I64)
        blz_dom = bit_length(zigzag_encode(vdom))
        hist_zig = np.bincount(blz_dom, weights=hist_vals,
                               minlength=65).astype(np.int64)
    return hist_for, hist_zig


def _small_range_ok(rng: int, n: int) -> bool:
    """Gate for the value-histogram fast path: the domain tables cost
    O(rng); they must be small next to the O(n) passes they replace."""
    return rng < (1 << 16) and n >= 64 and (rng + 1) * 4 <= n


def select(vals: np.ndarray, width: int = 8, try_delta: bool = False,
           _pre: Optional[tuple] = None,
           vrange: Optional[tuple] = None) -> IntDescriptor:
    """Full auto-selection (`integer_codec.h:234-384`), plus the optional
    ``delta`` extension candidate when ``try_delta`` is set.

    ``vals``: int64 array (signed domain; unsigned inputs must fit int64).
    ``_pre``: internal — ``(u_zig_or_None, hist_zig, vmin, vmax)`` already
    computed by the caller (:class:`_Delta` derives all four for its
    gate), so the inner selection doesn't redo those passes. Purely a
    work-reuse handoff: the values are exactly what this function would
    compute itself.
    ``vrange``: optional EXACT (min, max) the caller knows by
    construction (dictionary-id streams always span [0, ndict-1]);
    skips the two scan passes. A wrong hint corrupts selection — only
    pass values that are guaranteed, not estimated.
    """
    vals = np.ascontiguousarray(vals, dtype=I64)
    n = len(vals)
    desc = IntDescriptor(n=n, width=width)

    # Empty sequence -> normal, 0 bytes (`integer_codec.h:248-253`).
    if n == 0:
        desc.codec = NORMAL
        return desc

    if _pre is not None:
        u_zig, hist_zig, vmin, vmax = _pre
    elif vrange is not None:
        vmin, vmax = int(vrange[0]), int(vrange[1])
    else:
        vmin = int(vals.min())
        vmax = int(vals.max())

    # Constant sequence -> naught (`integer_codec.h:256-264`).
    if vmin == vmax:
        desc.codec = NAUGHT
        desc.origin = vmin
        desc.ref_meta = varint_size_scalar(zigzag_encode_scalar(vmin))
        desc.ref_data = 0
        return desc

    # One pass each for the two value transforms + their bit-length
    # histograms; every varint/bitpfr cost below derives from these.
    # Small value ranges take the one-bincount fast path (bit-identical
    # by construction — see _small_range_hists).
    if _small_range_ok(vmax - vmin, n):
        hist_for, hz = _small_range_hists(vals, vmin, vmax,
                                          want_zig=_pre is None)
        if _pre is None:
            u_zig, hist_zig = None, hz
    else:
        if _pre is None:
            u_zig = zigzag_encode(vals)
        u_for = vals.view(U64) - U64(vmin & 0xFFFFFFFFFFFFFFFF)
        if _pre is None:
            hist_zig = np.bincount(bit_length(u_zig), minlength=65)
        hist_for = np.bincount(bit_length(u_for), minlength=65)
    _select_basic(desc, vals, u_zig, vmin, vmax, n, width,
                  hist_zig, hist_for)

    # small-input cutoff (`integer_codec.h:271-272`); the delta
    # candidate is compared last, as an extension of the reference order
    delta = _Delta(vals, width) if try_delta and n >= 5 else None
    if n >= 5:
        _select_bitpfr(desc, vals, hist_for, vmin, vmax, n, delta)
    if delta is not None:
        delta.apply(desc)

    return desc


def _pfr_costs(hist: np.ndarray, n: int, nbits_max: int) -> tuple:
    """Every per-candidate term of the reference's bitpfr loop except
    the exact index cost (`integer_codec.h:275-335`), batched over the
    candidate widths 1..nbits_max-1 from a bit-length histogram:
    (nbits, values at exactly nbits bits, outliers, low-bits bytes,
    packed and varint outlier-value bytes, index lower bound).
    valvar[nbits] = sum_{nb > nbits} ceil((nb - nbits)/7) * hist[nb]
    (the O(nbits_max^2) inner loop of `integer_codec.h:316-321`,
    identical sums). The index lower bound (`integer_codec.h:325-335`):
    packed indices need >= 1 bit each, varint gaps >= 1 byte each —
    true lower bounds, so skipping on them never skips a winner."""
    h = hist[:nbits_max + 1].astype(np.int64)
    nb_i = np.arange(nbits_max + 1, dtype=np.int64)
    diff = nb_i[None, :] - nb_i[:, None]          # (nbits, nb)
    vcost = np.where(diff > 0, (diff + 6) // 7, 0)
    valvar = (vcost @ h)[1:nbits_max]
    ts = nb_i[1:nbits_max]                        # candidate nbits
    nout = n - np.cumsum(h)[1:nbits_max]          # outliers per candidate
    cap_b = 128 // ts
    basic_data = 16 * ((n + cap_b - 1) // cap_b)  # ref_bitpck_space(n, t)
    cap_v = 128 // (nbits_max - ts)
    valpck = np.where(nout > 0, 16 * ((nout + cap_v - 1) // cap_v), 0)
    indmin = np.minimum(np.where(nout > 0, 16 * ((nout + 127) // 128), 0),
                        np.maximum(nout, 1))
    return ts, h[1:nbits_max], nout, basic_data, valpck, valvar, indmin


def _select_bitpfr(desc: IntDescriptor, vals: np.ndarray, hist: np.ndarray,
                   vmin: int, vmax: int, n: int,
                   delta: Optional[_Delta] = None) -> None:
    """The patched-bit-packing histogram sweep (`integer_codec.h:275-383`).
    ``hist`` is the FOR-transform's bit-length histogram (computed once
    in :func:`select`). A value is an outlier at ``nbits`` when its FOR
    residue needs more bits, i.e. when ``vals > vmin + 2^nbits - 1``;
    the sweep tests that on the values themselves, so neither the
    residues nor their bit lengths are materialized. The bound never
    overflows int64: ``nbits`` < the bit length of vmax - vmin, so
    ``vmin + 2^nbits - 1 < vmax``.

    ``delta``, the delta candidate compared after this sweep: when its
    lower bound is under every candidate's estimate, its exact cost is
    taken first and candidates estimated above it are never evaluated.
    That never changes the pick: a skipped candidate costs more than
    delta, which then replaces whatever this sweep keeps, and any
    candidate that would beat or tie delta has an estimate <= delta's
    cost and is still evaluated."""
    basic_metaspace = 1 + varint_size_scalar(zigzag_encode_scalar(vmin))
    nbits_max = (vmax - vmin).bit_length()
    if nbits_max < 2:
        return
    sel0 = desc.ref_data + desc.ref_meta

    ts, cnt, nout, basic_data, valpck, valvar, indmin = \
        _pfr_costs(hist, n, nbits_max)
    nout_u = nout.view(U64)                       # nout >= 0
    extra_meta = 2 + np.maximum(
        (bit_length(nout_u).astype(np.int64) + 6) // 7, 1)
    val_data = np.minimum(valpck, valvar)
    est = (basic_metaspace + extra_meta + basic_data + val_data + indmin)

    # Best-first evaluation in estimate order. The reference iterates
    # nbits ascending with strict-less replacement, so its final pick
    # is exactly: the candidate with minimal exact `required`, smallest
    # nbits on ties, if that beats the basic selection strictly.
    # Because estimate <= required for every candidate, visiting in
    # (estimate, nbits) order and pruning on the best exact cost found
    # so far reaches the same pick while exactly evaluating only
    # candidates whose estimate beats it — on skewed data the huge
    # low-nbits outlier sets the ascending sweep used to materialize
    # first are now never touched.
    live = np.flatnonzero((cnt > 0) & (est < sel0))
    if delta is not None and len(live) \
            and delta.lb < int(est[live].min()):
        live = live[est[live] <= delta.total()]
    if len(live) == 0:
        return
    order = live[np.lexsort((ts[live], est[live]))]

    opos = ovals = None  # nested outlier-position cache
    cached_t = -1
    best = None  # (required, nbits, val_codec, idx_codec, idx_nbits, i)
    for i in order:
        e = int(est[i])
        nbits = int(ts[i])
        if best is not None:
            if e > best[0]:
                break        # est ascending: nothing later can win
            if e == best[0] and nbits > best[1]:
                continue     # tie in required would keep smaller nbits
        noutliers = int(nout[i])

        # Exact outlier-index costs (`integer_codec.h:337-363`): indices
        # are delta-1 gaps (offset_codec<size_t,1>, `oroch/bitpfr.h:75-83`).
        # Candidate outlier sets are nested in nbits, so a candidate at
        # larger nbits filters the cached set instead of re-scanning.
        bound = vmin + (1 << nbits) - 1
        if opos is not None and nbits >= cached_t:
            keep = ovals > bound
            opos = opos[keep]
            ovals = ovals[keep]
        else:
            opos = np.flatnonzero(vals > bound)
            ovals = vals[opos]
        cached_t = nbits
        if len(opos):
            # positions and gaps are non-negative int64 — the U64 view
            # is free (no astype copy of the outlier arrays)
            gaps = np.empty(len(opos), dtype=I64)
            gaps[0] = opos[0]
            gaps[1:] = opos[1:] - opos[:-1] - 1
            blg = bit_length(gaps.view(U64))
            indnbits = max(1, int(blg.max()))
            indvar = int(np.maximum((blg + 6) // 7, 1).sum())
        else:
            indnbits, indvar = 1, 0
        indpck = ref_bitpck_space(noutliers, indnbits)
        if indpck < indvar:
            index_codec, index_dataspace = BITPCK, indpck
        else:
            index_codec, index_dataspace = VARINT, indvar

        required = int(est[i] - indmin[i] + index_dataspace)
        if required >= sel0:
            continue
        if (best is None or required < best[0]
                or (required == best[0] and nbits < best[1])):
            best = (required, nbits, indnbits, index_codec,
                    index_dataspace, i)

    if best is not None:
        required, nbits, indnbits, index_codec, index_dataspace, i = best
        desc.codec = BITPFR
        desc.origin = vmin
        desc.nbits = nbits
        desc.noutliers = int(nout[i])
        # Outlier-value codec choice (`integer_codec.h:307-323`):
        # bitpck at (nbits_max - nbits) vs varint of the overflow bits.
        desc.oval_codec = BITPCK if valpck[i] < valvar[i] else VARINT
        desc.oval_nbits = nbits_max - nbits
        desc.oidx_codec = index_codec
        desc.oidx_nbits = indnbits
        desc.ref_meta = basic_metaspace + int(extra_meta[i])
        desc.ref_data = (int(basic_data[i]) + int(val_data[i])
                         + index_dataspace)


def _delta_transform(vals: np.ndarray, width: int) -> np.ndarray:
    """Consecutive deltas with wraparound arithmetic. For width<8 the
    deltas are wrapped into the width's signed domain (a delta of two
    int32s needs 33 bits; storing it mod 2^32 is lossless because
    decode re-wraps the cumulative sum into int32 — and it keeps the
    inner codec within the width contract)."""
    n = len(vals)
    deltas = np.empty(n - 1, dtype=I64)
    np.subtract(vals[1:].view(U64), vals[:-1].view(U64),
                out=deltas.view(U64))  # wraparound-safe
    if width < 8:
        deltas = deltas.astype(_WIDTH_NP[width]).astype(I64)
    return deltas


def _delta_lower_bound(hist: np.ndarray, n: int, dmin: int,
                       dmax: int) -> int:
    """TRUE lower bound on the inner selection's ref_total for a delta
    array with zigzag bit-length histogram ``hist`` and value range
    [dmin, dmax] — every term under-estimates (or equals) its codec's
    exact cost, so a skip decision based on this bound never changes
    which codec the full computation would pick:

    - varint: exact data bytes from the histogram;
    - bitpck: exact data bytes at the max zigzag bit length;
    - bitfor: exact data bytes at the true range width;
    - varfor: >= 1 byte per value;
    - bitpfr: per split point, exact basic + exact outlier-value bytes
      (both packed and varint options derive exactly from the
      histogram — the same arithmetic `_select_bitpfr` runs), with the
      outlier-INDEX cost replaced by its lower bound and metadata by
      zero. This mirrors the sweep's own early-skip estimate, taken
      over every split point;
    - naught/constant: a single occupied histogram bin may mean
      constant deltas — return 0 (never gate the case delta wins).
    """
    nz = np.flatnonzero(hist)
    maxbits = int(nz[-1]) if len(nz) else 0
    if maxbits <= 2 or len(nz) == 1:
        return 0
    _, _, _, basic_data, valpck, valvar, indmin = \
        _pfr_costs(hist, n, maxbits)
    return min(_varint_total_from_hist(hist),
               ref_bitpck_space(n, maxbits),
               ref_bitpck_space(n, (dmax - dmin).bit_length()),
               n,  # varfor floor
               int((basic_data + np.minimum(valpck, valvar)
                    + indmin).min()))


class _Delta:
    """Extension: the delta candidate (first value + inner selection on
    consecutive deltas) of one selection.

    Built on the reference's offset codec idea (`oroch/offset.h:31-71`) but
    run through full auto-selection; wins on near-monotone sequences (ts,
    turn_idx) that the reference's selector cannot exploit.

    Cost compared at reference-model sizes so selection stays deterministic:
    delta ref cost = varint(zigzag(first)) + inner.ref_total. ``lb`` is a
    cheap histogram lower bound of that cost: when it cannot beat the
    selected codec (the common case for non-monotone data like
    word-dictionary ids), the inner selection never runs — the selected
    codec is bit-identical either way.
    """

    def __init__(self, vals: np.ndarray, width: int):
        n = len(vals)
        self.width = width
        self.deltas = _delta_transform(vals, width)
        self.first = int(vals[0])
        self.meta = varint_size_scalar(zigzag_encode_scalar(self.first))
        dmin = int(self.deltas.min())
        dmax = int(self.deltas.max())
        if _small_range_ok(dmax - dmin, n - 1) and dmin != dmax:
            # same one-bincount derivation as select's fast path (exact)
            dh = np.bincount(self.deltas - dmin, minlength=dmax - dmin + 1)
            vdom = np.arange(dmin, dmax + 1, dtype=I64)
            blz_dom = bit_length(zigzag_encode(vdom))
            hist = np.bincount(blz_dom, weights=dh,
                               minlength=65).astype(np.int64)
            u_zig_d = None
        else:
            u_zig_d = zigzag_encode(self.deltas)
            hist = np.bincount(bit_length(u_zig_d), minlength=65)
        self.lb = self.meta + _delta_lower_bound(hist, n - 1, dmin, dmax)
        # the inner selection takes these transforms as they stand —
        # same values it would recompute (zigzag, histogram, min/max)
        self._pre = (u_zig_d, hist, dmin, dmax)
        self.inner: Optional[IntDescriptor] = None

    def total(self) -> int:
        """The exact reference cost (runs the inner selection once)."""
        if self.inner is None:
            self.inner = select(self.deltas, width=self.width,
                                try_delta=False, _pre=self._pre)
        return self.meta + self.inner.ref_total

    def apply(self, desc: IntDescriptor) -> None:
        """Replace the selected codec by delta when strictly cheaper."""
        if self.lb >= desc.ref_meta + desc.ref_data:
            return
        total = self.total()
        if total < desc.ref_meta + desc.ref_data:
            desc.codec = DELTA
            desc.origin = self.first
            desc.nbits = 0
            desc.noutliers = 0
            desc.ref_meta = self.meta
            desc.ref_data = self.inner.ref_total
            desc.inner = self.inner


# ---------------------------------------------------------------------------
# Encode / decode payloads
# ---------------------------------------------------------------------------

def _encode_sub(u: np.ndarray, codec: int, nbits: int) -> bytes:
    """Encode an unsigned sub-sequence (bitpfr outlier arrays) with an
    identity value codec, mirroring `integer_codec.h:498-528` dispatch for
    the outlier descriptors (zigzag on unsigned == identity)."""
    if codec == BITPCK:
        return pack_bits(u, nbits)
    if codec == VARINT:
        return varint_encode(u)
    raise ValueError(f"bad sub-codec {codec}")


def _decode_sub(buf: bytes, pos: int, n: int, codec: int, nbits: int
                ) -> tuple[np.ndarray, int]:
    if codec == BITPCK:
        nbytes = packed_size(n, nbits)
        return unpack_bits(buf[pos:pos + nbytes], n, nbits), pos + nbytes
    if codec == VARINT:
        vals, consumed = varint_decode(buf[pos:], n)
        return vals, pos + consumed
    raise ValueError(f"bad sub-codec {codec}")


def _u_for(vals: np.ndarray, origin: int) -> np.ndarray:
    """FOR transform to unsigned: (v - origin) mod 2^64. A zero origin
    (dictionary ids, counts, any naturally-0-based stream) is a pure
    reinterpret — no subtract pass, no copy."""
    if origin == 0:
        return vals.view(U64)
    return vals.view(U64) - U64(origin & 0xFFFFFFFFFFFFFFFF)


def _un_for(u: np.ndarray, origin: int) -> np.ndarray:
    """Inverse FOR transform: (u + origin) mod 2^64 viewed signed;
    zero origin is a pure reinterpret."""
    if origin == 0:
        return u.view(I64)
    return (u + U64(origin & 0xFFFFFFFFFFFFFFFF)).view(I64)


def encode_payload(vals: np.ndarray, desc: IntDescriptor) -> bytes:
    """Encode values per the selected descriptor (`integer_codec.h:386-393`,
    dispatch at `integer_codec.h:498-528` / `562-581`). Dense layout."""
    vals = np.ascontiguousarray(vals, dtype=I64)
    n = len(vals)
    c = desc.codec
    if c == NAUGHT:
        return b""  # `oroch/naught.h:31-48`: zero data bytes
    if c == NORMAL:
        return vals.astype(_WIDTH_DT[desc.width]).tobytes()  # `normal.h:31-59`
    if c == VARINT:
        return varint_encode(zigzag_encode(vals))
    if c == VARFOR:
        u = _u_for(vals, desc.origin)
        return varint_encode(u)
    if c == BITPCK:
        return pack_bits(zigzag_encode(vals), desc.nbits)
    if c == BITFOR:
        u = _u_for(vals, desc.origin)
        return pack_bits(u, desc.nbits)
    if c == BITPFR:
        u = _u_for(vals, desc.origin)
        mask = (U64(1) << U64(desc.nbits)) - U64(1)
        # one compare pass finds outliers (u > mask == high bits set) —
        # neither the full-array `u >> nbits` nor `u & mask` is made;
        # only the (few) outliers are gathered and shifted
        oidx = np.flatnonzero(u > mask)  # int64; values non-negative
        low = pack_low_bits(u, desc.nbits)
        ovals = u[oidx] >> U64(desc.nbits)
        gaps_i = np.empty(len(oidx), dtype=I64)
        if len(oidx):
            gaps_i[0] = oidx[0]
            gaps_i[1:] = oidx[1:] - oidx[:-1] - 1
        gaps = gaps_i.view(U64)
        # Order mirrors `integer_codec.h:562-581`: low bits, indices, values.
        return (low
                + _encode_sub(gaps, desc.oidx_codec, desc.oidx_nbits)
                + _encode_sub(ovals, desc.oval_codec, desc.oval_nbits))
    if c == DELTA:
        return encode_block(_delta_transform(vals, desc.width), desc.inner)
    raise ValueError(f"bad codec {c}")


def payload_size(desc: IntDescriptor) -> int:
    """Exact length of :func:`encode_payload`'s output for a descriptor
    :func:`select` returned, from the descriptor alone: a caller can
    compare candidate layouts and encode only the winner. Varint and
    verbatim reference sizes are the actual byte counts; a bit-packed
    stream is charged the reference's 16-byte blocks but written dense,
    so those parts are recomputed at :func:`packed_size`."""
    n, c = desc.n, desc.codec
    if c == NAUGHT:
        return 0
    if c in (NORMAL, VARINT, VARFOR):
        return desc.ref_data
    if c in (BITPCK, BITFOR):
        return packed_size(n, desc.nbits)
    if c == BITPFR:
        # ref_data = low bits + outlier index + outlier value parts
        size = desc.ref_data - ref_bitpck_space(n, desc.nbits) \
            + packed_size(n, desc.nbits)
        for codec, nbits in ((desc.oidx_codec, desc.oidx_nbits),
                             (desc.oval_codec, desc.oval_nbits)):
            if codec == BITPCK:
                size += packed_size(desc.noutliers, nbits) \
                    - ref_bitpck_space(desc.noutliers, nbits)
        return size
    if c == DELTA:
        return blob_size(desc.inner)
    raise ValueError(f"bad codec {c}")


def blob_size(desc: IntDescriptor) -> int:
    """Exact length of :func:`encode_block`'s blob for a selected
    descriptor: header + payload."""
    return len(write_header(desc)) + payload_size(desc)


def decode_payload(buf: bytes, desc: IntDescriptor) -> np.ndarray:
    """Inverse of :func:`encode_payload` (`integer_codec.h:395-402`,
    `530-560`, `583-609`)."""
    n = desc.n
    c = desc.codec
    if c == NAUGHT:
        return np.full(n, desc.origin, dtype=I64)
    if c == NORMAL:
        return np.frombuffer(buf, dtype=_WIDTH_DT[desc.width],
                             count=n).astype(I64)
    if c == VARINT:
        u, _ = varint_decode(buf, n)
        return zigzag_decode(u)
    if c == VARFOR:
        u, _ = varint_decode(buf, n)
        return _un_for(u, desc.origin)
    if c == BITPCK:
        return zigzag_decode(unpack_bits(buf, n, desc.nbits))
    if c == BITFOR:
        u = unpack_bits(buf, n, desc.nbits)
        return _un_for(u, desc.origin)
    if c == BITPFR:
        pos = packed_size(n, desc.nbits)
        u = unpack_bits(buf[:pos], n, desc.nbits)
        gaps, pos = _decode_sub(buf, pos, desc.noutliers,
                                desc.oidx_codec, desc.oidx_nbits)
        ovals, pos = _decode_sub(buf, pos, desc.noutliers,
                                 desc.oval_codec, desc.oval_nbits)
        if len(gaps):
            oidx = np.cumsum(gaps + U64(1)) - U64(1)  # undo delta-1 gaps
            u[oidx.astype(np.int64)] |= ovals << U64(desc.nbits)
        return _un_for(u, desc.origin)
    if c == DELTA:
        inner_desc, pos = read_header(buf, 0, n - 1, desc.width)
        deltas = decode_payload(buf[pos:], inner_desc)
        out = np.empty(n, dtype=U64)
        out[0] = U64(desc.origin & 0xFFFFFFFFFFFFFFFF)
        np.cumsum(deltas.view(U64), out=out[1:])
        out[1:] += out[0]
        vals64 = out.view(I64)
        if desc.width < 8:
            # deltas were stored mod 2^(8*width); re-wrap the running
            # sum into the width's signed domain (exact — true values
            # fit the declared width)
            vals64 = vals64.astype(_WIDTH_NP[desc.width]).astype(I64)
        return vals64
    raise ValueError(f"bad codec {c}")


# ---------------------------------------------------------------------------
# Wire header (`integer_codec.h:128-214`) — tag + params, then payload.
# The element count n is NOT in the header (reference parity, see module
# docstring); it travels in the block-row metadata.
# ---------------------------------------------------------------------------

def write_header(desc: IntDescriptor) -> bytes:
    out = bytearray([desc.codec])
    c = desc.codec
    if c in (NAUGHT, VARFOR):
        out += varint_encode_scalar(zigzag_encode_scalar(desc.origin))
    elif c in (BITFOR, BITPFR):
        out += varint_encode_scalar(zigzag_encode_scalar(desc.origin))
        out.append(desc.nbits)
    elif c == BITPCK:
        out.append(desc.nbits)
    elif c == DELTA:
        out += varint_encode_scalar(zigzag_encode_scalar(desc.origin))
    if c == BITPFR:
        # `encoding_metadata::encode` (`integer_codec.h:196-204`): noutliers
        # + two extra bytes (nbits if bitpck else 0, `:177-182`).
        out += varint_encode_scalar(desc.noutliers)
        out.append(desc.oidx_nbits if desc.oidx_codec == BITPCK else 0)
        out.append(desc.oval_nbits if desc.oval_codec == BITPCK else 0)
    return bytes(out)


def read_header(buf: bytes, pos: int, n: int, width: int
                ) -> tuple[IntDescriptor, int]:
    desc = IntDescriptor(n=n, width=width)
    desc.codec = buf[pos]
    pos += 1
    c = desc.codec
    if c in (NAUGHT, VARFOR, BITFOR, BITPFR, DELTA):
        u, pos = varint_decode_scalar(buf, pos)
        desc.origin = zigzag_decode_scalar(u)
    if c in (BITFOR, BITPFR):
        desc.nbits = buf[pos]
        pos += 1
    elif c == BITPCK:
        desc.nbits = buf[pos]
        pos += 1
    if c == BITPFR:
        desc.noutliers, pos = varint_decode_scalar(buf, pos)
        b1, b2 = buf[pos], buf[pos + 1]
        pos += 2
        desc.oidx_codec = BITPCK if b1 else VARINT
        desc.oidx_nbits = b1 if b1 else 0
        desc.oval_codec = BITPCK if b2 else VARINT
        desc.oval_nbits = b2 if b2 else 0
    return desc, pos


# ---------------------------------------------------------------------------
# Block-level API: header + payload in one blob
# ---------------------------------------------------------------------------

def encode_block(vals: np.ndarray, desc: Optional[IntDescriptor] = None,
                 width: int = 8, try_delta: bool = False,
                 vrange: Optional[tuple] = None) -> bytes:
    """Select (unless given) + header + payload; the analogue of
    ``integer_group::encode`` (`oroch/integer_group.h:44-60`), without the
    8-byte alignment padding (our decoder never reinterprets raw buffers).
    ``vrange``: exact known (min, max) — see :func:`select`."""
    vals = np.ascontiguousarray(vals, dtype=I64)
    if desc is None:
        desc = select(vals, width=width, try_delta=try_delta,
                      vrange=vrange)
    payload = encode_payload(vals, desc)
    desc.data_bytes = len(payload)
    return write_header(desc) + payload


def decode_block(blob: bytes, n: int, width: int = 8) -> np.ndarray:
    """Analogue of ``integer_group::decode`` (`oroch/integer_group.h:62-76`);
    n comes from block-row metadata (see module docstring)."""
    desc, pos = read_header(blob, 0, n, width)
    return decode_payload(blob[pos:], desc)


def describe_block(blob: bytes, n: int, width: int = 8) -> IntDescriptor:
    desc, _ = read_header(blob, 0, n, width)
    return desc


def _fetch_bits(payload: bytes, i: int, nbits: int) -> int:
    """Read the ``nbits`` bits at value index ``i`` from the dense
    little-endian bitstream without touching the rest."""
    bitpos = i * nbits
    byte0 = bitpos >> 3
    chunk = payload[byte0:byte0 + 9].ljust(9, b"\0")
    return (int.from_bytes(chunk, "little") >> (bitpos & 7)) \
        & ((1 << nbits) - 1)


def fetch(blob: bytes, i: int, n: int, width: int = 8) -> int:
    """Random access: value at index ``i`` without decoding the block —
    the analogue of ``bitpck_codec::fetch`` (`/root/reference/oroch/
    bitpck.h:203-225, 258-266`). O(1) for naught/normal/bitpck/bitfor,
    O(noutliers) for bitpfr (low-bit gather + outlier binary search —
    the patched codec matches the reference's fetch asymptotics too);
    the byte-stream codecs (varint/delta) fall back to a full decode,
    as the reference's varint path also must."""
    if not 0 <= i < n:
        raise IndexError(i)
    desc, pos = read_header(blob, 0, n, width)
    payload = blob[pos:]
    c = desc.codec
    if c == NAUGHT:
        return desc.origin
    if c == NORMAL:
        w = desc.width
        return int(np.frombuffer(payload, dtype=_WIDTH_DT[w], count=1,
                                 offset=i * w)[0])
    if c == BITPCK:
        return zigzag_decode_scalar(_fetch_bits(payload, i, desc.nbits))
    if c == BITFOR:
        u = (desc.origin + _fetch_bits(payload, i, desc.nbits)) \
            & 0xFFFFFFFFFFFFFFFF
        return u - (1 << 64) if u >= (1 << 63) else u
    if c == BITPFR:
        return int(_fetch_many_bitpfr(
            payload, np.array([i], dtype=np.int64), n, desc)[0])
    return int(decode_block(blob, n, width)[i])


def _fetch_many_bitpfr(payload: bytes, idxs: np.ndarray, n: int,
                       desc: IntDescriptor) -> np.ndarray:
    """Point access into a patched-FOR block without decoding it:
    gather the ``nbits`` low-bit lanes at ``idxs`` from the dense
    bitstream, reconstruct ONLY the outlier position/value sub-arrays
    (O(noutliers) — bounded by the codec selection's own cost model,
    never n), and binary-search each requested index for an outlier
    patch. Mirrors `bitpck.h:203-225` asymptotics for the patched
    codec (`bitpfr.h:59-124` stores positions as delta-1 gaps, so the
    gap cumsum is the sorted index list searchsorted probes)."""
    low_sz = packed_size(n, desc.nbits)
    u = _fetch_bits_many(payload[:low_sz], idxs, desc.nbits)
    if desc.noutliers:
        gaps, pos = _decode_sub(payload, low_sz, desc.noutliers,
                                desc.oidx_codec, desc.oidx_nbits)
        ovals, _ = _decode_sub(payload, pos, desc.noutliers,
                               desc.oval_codec, desc.oval_nbits)
        oidx = (np.cumsum(gaps.view(I64) + 1) - 1)
        j = np.minimum(np.searchsorted(oidx, idxs), len(oidx) - 1)
        hit = oidx[j] == idxs
        if hit.any():
            u[hit] |= ovals[j[hit]] << U64(desc.nbits)
    return _un_for(u, desc.origin)


def _fetch_bits_many(payload: bytes, idxs: np.ndarray, nbits: int
                     ) -> np.ndarray:
    """Vectorized :func:`_fetch_bits`: the ``nbits``-bit values at the
    given indices from the dense little-endian bitstream, as uint64 —
    one numpy pass, no per-index Python."""
    bitpos = idxs.astype(np.uint64) * np.uint64(nbits)
    byte0 = (bitpos >> np.uint64(3)).astype(np.int64)
    shift = (bitpos & np.uint64(7)).astype(np.uint64)
    buf = np.frombuffer(payload + b"\0" * 9, dtype=np.uint8)
    chunks = buf[byte0[:, None] + np.arange(9)[None, :]]
    lo = np.ascontiguousarray(chunks[:, :8]).view("<u8").reshape(-1)
    hi = chunks[:, 8].astype(np.uint64)
    # (lo >> shift) | (hi << (64-shift)); shift==0 keeps lo alone (a
    # 64-bit left shift is UB-ish in numpy, mask it out explicitly)
    out = lo >> shift
    nz = shift > 0
    out[nz] |= hi[nz] << (np.uint64(64) - shift[nz])
    if nbits < 64:
        out &= np.uint64((1 << nbits) - 1)
    return out


def fetch_many(blob: bytes, idxs: np.ndarray, n: int, width: int = 8
               ) -> np.ndarray:
    """Batched :func:`fetch`: values at ``idxs`` (int64 out). O(k) for
    the O(1)-fetchable codecs (naught/normal/bitpck/bitfor) via one
    vectorized bit-gather, O(k + noutliers) for bitpfr (low-bit gather
    + outlier searchsorted); the byte-stream codecs (varint/delta) pay
    ONE full block decode + take — never k decodes (a k-match range
    lookup is O(n + k), not O(k*n))."""
    idxs = np.asarray(idxs, dtype=np.int64)
    if len(idxs) == 0:
        return np.zeros(0, dtype=I64)
    if idxs.min() < 0 or idxs.max() >= n:
        raise IndexError("fetch_many index out of range")
    desc, pos = read_header(blob, 0, n, width)
    payload = blob[pos:]
    c = desc.codec
    if c == NAUGHT:
        return np.full(len(idxs), desc.origin, dtype=I64)
    if c == NORMAL:
        w = desc.width
        arr = np.frombuffer(payload, dtype=_WIDTH_DT[w], count=n)
        return arr[idxs].astype(I64)
    if c == BITPCK:
        return zigzag_decode(_fetch_bits_many(payload, idxs, desc.nbits))
    if c == BITFOR:
        u = (np.uint64(desc.origin & 0xFFFFFFFFFFFFFFFF)
             + _fetch_bits_many(payload, idxs, desc.nbits))
        return u.view(I64)
    if c == BITPFR:
        return _fetch_many_bitpfr(payload, idxs, n, desc)
    return decode_payload(payload, desc)[idxs]
