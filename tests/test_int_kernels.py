"""Integer kernel tests mirroring the reference's unit suite (SURVEY.md §5).

Fixture shapes follow FIXTURES.md §F2, which cites the reference test files:
- all-prefix-lengths sweep      -> `tests/unit/integer_codec.cc:8-43`
- constant runs                 -> `oroch/integer_codec.h:256-264`
- signed window                 -> `tests/unit/bitpck.cc:33-55`
- FOR base 1000                 -> `tests/unit/bitfor.cc:9-59`
- PFOR outliers                 -> `tests/unit/bitpfr.cc:32-61`
- varint exact sizes            -> `tests/unit/varint.cc:9-18`
- zigzag boundary values        -> `tests/unit/zigzag.cc:9-65`
- seeded randomized round-trip  -> `tests/unit/integer_group.cc:8-22`
- nbits sweep                   -> `tests/unit/bitblk.cc:119-142`
- delta/offset sequences        -> `tests/unit/offset.cc:5-33`
- empty sequence                -> `oroch/integer_codec.h:248-253`
"""
import numpy as np
import pytest

from oroch_spark.kernels import integers as ic
from oroch_spark.kernels.bits import pack_bits, unpack_bits

I64MIN = np.iinfo(np.int64).min
I64MAX = np.iinfo(np.int64).max
I32MIN = np.iinfo(np.int32).min
I32MAX = np.iinfo(np.int32).max


def roundtrip(a, width=8, try_delta=False):
    a = np.asarray(a, dtype=np.int64)
    blob = ic.encode_block(a, width=width, try_delta=try_delta)
    back = ic.decode_block(blob, len(a), width=width)
    assert np.array_equal(a, back), (a[:8], back[:8])
    return blob


class TestZigzag:
    def test_known_values(self):
        # tests/unit/zigzag.cc:9-35 exact mappings
        src = np.array([0, -1, 1, -2, 2, -64, 64], dtype=np.int64)
        exp = np.array([0, 1, 2, 3, 4, 127, 128], dtype=np.uint64)
        assert np.array_equal(ic.zigzag_encode(src), exp)
        assert np.array_equal(ic.zigzag_decode(exp), src)

    def test_bounds(self):
        # tests/unit/zigzag.cc:37-65 INT_MIN/MAX boundaries (64-bit domain)
        src = np.array([I64MIN, I64MAX, I32MIN, I32MAX], dtype=np.int64)
        back = ic.zigzag_decode(ic.zigzag_encode(src))
        assert np.array_equal(src, back)
        assert ic.zigzag_encode_scalar(I64MAX) == 2**64 - 2
        assert ic.zigzag_encode_scalar(I64MIN) == 2**64 - 1


class TestVarint:
    def test_exact_sizes(self):
        # tests/unit/varint.cc:9-18
        vals = [0, 1, 127, 128, 16383, 16384, 2**64 - 1]
        exp = [1, 1, 1, 2, 2, 3, 10]
        got = ic.varint_size(np.array(vals, dtype=np.uint64)).tolist()
        assert got == exp

    def test_exact_wire_bytes(self):
        # tests/unit/varint.cc:40-44: 300 encodes as AC 02 (unsigned domain)
        assert ic.varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"

    def test_roundtrip_stream(self):
        rng = np.random.default_rng(7)
        u = rng.integers(0, 2**63, 10_000, dtype=np.uint64) ** 1  # wide spread
        u[::17] = 0
        buf = ic.varint_encode(u)
        back, consumed = ic.varint_decode(buf, len(u))
        assert consumed == len(buf)
        assert np.array_equal(u, back)


class TestBitpack:
    @pytest.mark.parametrize("nbits", list(range(1, 65)))
    def test_nbits_sweep(self, nbits):
        # tests/unit/bitblk.cc:119-142 analogue incl. truncated blocks
        cap = max(1, 128 // nbits)
        for n in (1, cap - 1 or 1, cap, cap + 1, 3 * cap + 2):
            mask = np.uint64((1 << nbits) - 1 if nbits < 64 else 2**64 - 1)
            vals = np.arange(n, dtype=np.uint64) & mask
            buf = pack_bits(vals, nbits)
            assert len(buf) == (n * nbits + 7) // 8
            assert np.array_equal(unpack_bits(buf, n, nbits), vals)

    @pytest.mark.parametrize("nbits", [1, 2, 3, 4, 5, 6, 7, 10, 12, 14,
                                       20, 28])
    def test_grouped_unpack_random(self, nbits):
        # full-width random values through the grouped (one-window-per-
        # group) unpack path, at lengths that leave every possible
        # partial tail group
        rng = np.random.default_rng(nbits)
        g = 8 // int(np.gcd(nbits, 8))
        for n in range(1, 3 * g + 2):
            vals = rng.integers(0, 1 << nbits, size=n, dtype=np.uint64)
            buf = pack_bits(vals, nbits)
            assert np.array_equal(unpack_bits(buf, n, nbits), vals)
            # oversized buffers (trailing garbage) must not change the
            # decoded lanes nor raise
            assert np.array_equal(
                unpack_bits(buf + b"\xff" * 9, n, nbits), vals)


class TestSelection:
    def test_empty(self):
        d = ic.select(np.array([], dtype=np.int64))
        assert d.codec == ic.NORMAL and d.ref_total == 1
        roundtrip([])

    def test_constant(self):
        for c in (0, 100, -7):
            for n in (1, 5, 256):
                a = np.full(n, c, dtype=np.int64)
                d = ic.select(a)
                assert d.codec == ic.NAUGHT and d.origin == c
                blob = roundtrip(a)
                # naught: tag + varint(zigzag(origin)), zero data bytes
                assert len(blob) == 1 + len(
                    ic.varint_encode_scalar(ic.zigzag_encode_scalar(c)))

    def test_prefix_sweep(self):
        # tests/unit/integer_codec.cc:8-43: all prefixes of 0..n-1
        base = np.arange(128, dtype=np.int64)
        for n in range(129):
            roundtrip(base[:n])

    def test_selection_is_cheapest_of_model(self):
        # chosen ref cost must be <= every candidate's ref cost
        rng = np.random.default_rng(3)
        for _ in range(50):
            kind = rng.integers(0, 4)
            n = int(rng.integers(1, 400))
            if kind == 0:
                a = rng.integers(-100, 100, n)
            elif kind == 1:
                a = rng.integers(0, 2**40, n)
            elif kind == 2:
                a = 10**6 + rng.integers(0, 64, n)
            else:
                a = rng.integers(-2**62, 2**62, n)
            a = a.astype(np.int64)
            d = ic.select(a)
            vmin, vmax = int(a.min()), int(a.max())
            if vmin == vmax:
                continue
            cands = []
            cands.append(("normal", 0, n * 8))
            umax = max(ic.zigzag_encode_scalar(vmin),
                       ic.zigzag_encode_scalar(vmax))
            cands.append(("bitpck", 1,
                          ic.ref_bitpck_space(n, umax.bit_length())))
            nb = (vmax - vmin).bit_length()
            cands.append(("bitfor",
                          1 + ic.varint_size_scalar(
                              ic.zigzag_encode_scalar(vmin)),
                          ic.ref_bitpck_space(n, nb)))
            cands.append(("varint", 0,
                          int(ic.varint_size(ic.zigzag_encode(a)).sum())))
            u = a.view(np.uint64) - np.uint64(vmin & 0xFFFFFFFFFFFFFFFF)
            cands.append(("varfor",
                          ic.varint_size_scalar(
                              ic.zigzag_encode_scalar(vmin)),
                          int(ic.varint_size(u).sum())))
            best = min(m + dsp for _, m, dsp in cands)
            assert d.ref_meta + d.ref_data <= best
            roundtrip(a)

    def test_actual_bytes_le_reference(self):
        # dense layout never exceeds the reference cost model
        rng = np.random.default_rng(11)
        for _ in range(30):
            n = int(rng.integers(2, 1000))
            a = rng.integers(-2**20, 2**20, n).astype(np.int64)
            d = ic.select(a)
            blob = ic.encode_block(a, desc=d)
            assert len(blob) <= d.ref_total


class TestBitpfr:
    def test_forced_outliers(self):
        # tests/unit/bitpfr.cc:32-61 shape: dense base + 2^(7+k) outliers,
        # but encoded via an explicitly constructed bitpfr descriptor.
        base = 100 + np.arange(128, dtype=np.int64) % 100
        out = 100 + 2 ** (7 + np.arange(24, dtype=np.int64))
        a = np.concatenate([base, out])
        d = ic.IntDescriptor(codec=ic.BITPFR, n=len(a), width=8,
                             origin=int(a.min()), nbits=7, noutliers=24,
                             oval_codec=ic.VARINT, oval_nbits=0,
                             oidx_codec=ic.VARINT, oidx_nbits=0)
        payload = ic.encode_payload(a, d)
        back = ic.decode_payload(payload, d)
        assert np.array_equal(a, back)
        # and via the full blob with bitpck sub-codecs
        d2 = ic.IntDescriptor(codec=ic.BITPFR, n=len(a), width=8,
                              origin=int(a.min()), nbits=7, noutliers=24,
                              oval_codec=ic.BITPCK, oval_nbits=24,
                              oidx_codec=ic.BITPCK, oidx_nbits=8)
        blob = ic.write_header(d2) + ic.encode_payload(a, d2)
        rd, pos = ic.read_header(blob, 0, len(a), 8)
        assert (rd.codec, rd.nbits, rd.noutliers) == (ic.BITPFR, 7, 24)
        assert np.array_equal(ic.decode_payload(blob[pos:], rd), a)

    def test_selected_pfor(self):
        # shape engineered so the sweep genuinely wins under the
        # reference 16-byte-block cost model: large n, tight base, few
        # gigantic outliers
        rng = np.random.default_rng(5)
        a = rng.integers(0, 16, 4096).astype(np.int64)
        idx = rng.choice(4096, 8, replace=False)
        a[idx] = 2**40 + rng.integers(0, 2**30, 8)
        d = ic.select(a)
        assert d.codec == ic.BITPFR
        roundtrip(a)


class TestDelta:
    def test_offset_sequences(self):
        # tests/unit/offset.cc:5-33 spirit: near-monotone sequences
        a = np.array([1, 2, 3, 5, 8, 13, 21, 34], dtype=np.int64)
        roundtrip(a, try_delta=True)

    def test_monotone_timestamps(self):
        rng = np.random.default_rng(9)
        gaps = rng.integers(1_000_000, 300_000_000, 5000)
        ts = np.cumsum(gaps).astype(np.int64) + 1_700_000_000_000_000
        d = ic.select(ts, try_delta=True)
        assert d.codec == ic.DELTA
        blob = roundtrip(ts, try_delta=True)
        plain = ic.select(ts, try_delta=False)
        assert len(blob) < plain.ref_total  # delta beats raw FOR


class TestRandomized:
    def test_seeded_group_roundtrip(self):
        # tests/unit/integer_group.cc:8-22 (seeded, unlike the reference)
        rng = np.random.default_rng(42)
        for _ in range(2000):
            a = rng.integers(0, 4096, 8).astype(np.int64)
            roundtrip(a)

    def test_width4(self):
        rng = np.random.default_rng(13)
        a = rng.integers(I32MIN, I32MAX, 777).astype(np.int64)
        roundtrip(a, width=4)
        d = ic.select(a, width=4)
        assert d.codec != ic.NORMAL or d.ref_data == 777 * 4


class TestFetch:
    """Random access without block decode (`oroch/bitpck.h:203-225`)."""

    def test_fetch_matches_decode_across_codecs(self):
        import numpy as np
        from oroch_spark.kernels import integers as ic
        rng = np.random.default_rng(9)
        cases = [
            np.full(100, 7, dtype=np.int64),                 # naught
            rng.integers(-2**60, 2**60, 50),                 # normal-ish
            rng.integers(0, 1000, 300),                      # bitfor/bitpck
            rng.integers(-500, 500, 300),                    # bitpck (zigzag)
            np.arange(1000, 1300, dtype=np.int64),           # delta
            np.concatenate([rng.integers(0, 100, 290),
                            rng.integers(2**40, 2**41, 10)]),  # bitpfr
        ]
        for a in cases:
            a = a.astype(np.int64)
            for try_delta in (False, True):
                blob = ic.encode_block(a, width=8, try_delta=try_delta)
                dec = ic.decode_block(blob, len(a), width=8)
                for i in [0, 1, len(a) // 2, len(a) - 1]:
                    assert ic.fetch(blob, i, len(a)) == dec[i], \
                        (ic.describe_block(blob, len(a)).codec_name, i)

    def test_bitpfr_fetch_has_no_decode_fallback(self, monkeypatch):
        """bitpfr point access is low-bit gather + outlier binary
        search (O(k + noutliers), `bitpck.h:203-225` asymptotics for
        the patched codec) — a whole-block decode would show up as a
        decode_payload call, which this test forbids."""
        import numpy as np
        from oroch_spark.kernels import integers as ic
        rng = np.random.default_rng(17)
        a = np.concatenate([rng.integers(0, 100, 2900),
                            rng.integers(2**40, 2**41, 100)])
        rng.shuffle(a)
        a = a.astype(np.int64)
        blob = ic.encode_block(a, width=8)
        assert ic.describe_block(blob, len(a)).codec_name == "bitpfr"
        expect = ic.decode_block(blob, len(a)).copy()
        idxs = np.unique(rng.integers(0, len(a), 200))

        def boom(*args, **kwargs):
            raise AssertionError("bitpfr fetch fell back to decode")

        monkeypatch.setattr(ic, "decode_payload", boom)
        got = ic.fetch_many(blob, idxs, len(a))
        assert (got == expect[idxs]).all()
        for i in (0, 1, int(idxs[len(idxs) // 2]), len(a) - 1):
            assert ic.fetch(blob, i, len(a)) == expect[i]

    def test_bitpfr_fetch_outlier_edges(self):
        """Outliers at index 0, adjacent indices, and the last index —
        the gap-cumsum edge cases; plus a zero-outlier bitpfr-shaped
        probe set via fetch_many on every index (== full decode)."""
        import numpy as np
        from oroch_spark.kernels import integers as ic
        a = np.zeros(500, dtype=np.int64)
        for i in (0, 1, 2, 37, 499):
            a[i] = 2**50 + i
        a[3:499] = np.arange(3, 499) % 97
        blob = ic.encode_block(a, width=8)
        d = ic.describe_block(blob, len(a))
        if d.codec_name == "bitpfr":  # selection may legitimately differ
            expect = ic.decode_block(blob, len(a))
            got = ic.fetch_many(blob, np.arange(len(a)), len(a))
            assert (got == expect).all()


def test_delta_gate_never_changes_selection():
    """The histogram lower-bound gate of the delta candidate may only
    SKIP work, never change which codec full computation would pick
    (a bound of 0 also takes the delta cost before the bitpfr sweep)."""
    import numpy as np
    from oroch_spark.kernels import integers as ic

    rng = np.random.default_rng(7)
    cases = []
    for n in (5, 100, 3000):
        cases += [
            rng.integers(-1000, 1000, n),
            rng.integers(0, 2**40, n),
            np.cumsum(rng.integers(0, 5, n)),
            np.tile(np.arange(50), n // 50 + 1)[:n],     # sawtooth
            np.sort(rng.integers(0, 2**30, n)),
            np.full(n, 42) + (rng.random(n) < 0.01) * 10**9,
            rng.integers(0, 30000, n),                   # dict-id-like
        ]
    orig = ic._delta_lower_bound
    fields = ("codec", "origin", "nbits", "noutliers",
              "ref_meta", "ref_data")
    try:
        for c in cases:
            vals = np.asarray(c, dtype=np.int64)
            d1 = ic.select(vals, width=8, try_delta=True)
            ic._delta_lower_bound = lambda *a: 0   # force full path
            d2 = ic.select(vals, width=8, try_delta=True)
            ic._delta_lower_bound = orig
            assert tuple(getattr(d1, f) for f in fields) \
                == tuple(getattr(d2, f) for f in fields)
    finally:
        ic._delta_lower_bound = orig


def test_bit_length_table_and_frexp_paths_agree():
    """The 16-bit table gather and the frexp fallback must agree with
    int.bit_length at every path boundary (0, 2^16, 2^53, 2^64-1)."""
    import numpy as np

    from oroch_spark.kernels import bits

    edges = [0, 1, 2, 255, 256, 65535,            # table path
             65536, 65537, (1 << 53) - 1, 1 << 53,  # frexp + fixup
             (1 << 53) + 1, (1 << 63), (1 << 64) - 1]
    # all-small array exercises the table; mixed array the frexp path
    small = np.array([e for e in edges if e < 65536], dtype=np.uint64)
    mixed = np.array(edges, dtype=np.uint64)
    for arr in (small, mixed):
        got = bits.bit_length(arr)
        exp = [int(x).bit_length() for x in arr.tolist()]
        assert [int(g) for g in got] == exp
    assert bits.bit_length(np.zeros(0, dtype=np.uint64)).size == 0


def test_small_range_fast_path_is_bit_identical():
    """select's one-bincount histogram derivation (small value ranges)
    and the vrange hint must produce byte-identical blocks to the
    per-value passes — the fast path is a pure work-reuse rewrite."""
    import numpy as np

    from oroch_spark.kernels import integers as ic

    rng = np.random.default_rng(20260818)
    cases = []
    for i in range(60):
        n = int(rng.integers(5, 20000))
        style = i % 4
        if style == 0:
            v = rng.integers(-1000, 50000, size=n)
        elif style == 1:  # outlier-heavy -> bitpfr with big outlier sets
            v = rng.integers(0, 16, size=n)
            k = max(1, n // 50)
            v[rng.integers(0, n, size=k)] = rng.integers(10**6, 10**9,
                                                         size=k)
        elif style == 2:  # sorted -> delta wrapper territory
            v = np.sort(rng.integers(0, 10**7, size=n))
        else:  # wide range -> must take the slow path
            v = rng.integers(-2**40, 2**40, size=n)
        cases.append(v.astype(np.int64))
    cases.append(np.full(1000, -7, dtype=np.int64))
    cases.append(rng.integers(0, 3, size=200000).astype(np.int64))
    cases.append(np.array([-2**63, -2**63 + 5, -2**63 + 60000] * 40,
                          dtype=np.int64))

    orig = ic._small_range_ok
    try:
        for v in cases:
            for td in (False, True):
                fast = ic.encode_block(v.copy(), width=8, try_delta=td)
                ic._small_range_ok = lambda r, n: False
                slow = ic.encode_block(v.copy(), width=8, try_delta=td)
                ic._small_range_ok = orig
                assert fast == slow
                assert np.array_equal(
                    ic.decode_block(fast, len(v), width=8), v)
    finally:
        ic._small_range_ok = orig

    # vrange hint: dictionary-id-shaped streams (exact [0, u-1] span)
    for u in (1, 2, 17, 801):
        n = u * 7
        ids = np.concatenate([np.arange(u), rng.integers(0, u, size=n - u)])
        _, first_idx = np.unique(ids, return_index=True)
        remap = np.empty(u, dtype=np.int64)
        remap[np.argsort(first_idx)] = np.arange(u)
        ids = remap[ids].astype(np.int64)
        a = ic.encode_block(ids, width=4, try_delta=False)
        b = ic.encode_block(ids, width=4, try_delta=False,
                            vrange=(0, u - 1))
        assert a == b


def test_pack_bits_grouped_path_matches_bitstream():
    """The grouped shift-OR pack (g values per group) must emit the
    exact dense little-endian bitstream at every width and at every
    tail size around whole groups (n = g*k - 1, g*k, g*k + 1), and
    unpack must read it back."""
    import numpy as np

    from oroch_spark.kernels import bits

    def pack_ref(u, nbits):
        n = len(u)
        if n == 0 or nbits == 0:
            return b""
        u = np.ascontiguousarray(u, dtype="<u8")
        nb = (nbits + 7) // 8
        rows = u.view(np.uint8).reshape(n, 8)[:, :nb]
        if nbits == 8 * nb:
            return np.ascontiguousarray(rows).tobytes()
        b = np.unpackbits(rows, axis=1, bitorder="little")[:, :nbits]
        return np.packbits(b.reshape(-1), bitorder="little").tobytes()

    rng = np.random.default_rng(7)
    for nbits in range(1, 65):
        g = 8 // int(np.gcd(nbits, 8))
        mask = np.uint64((1 << nbits) - 1)
        tails = {g * k + d for k in (1, 3) for d in (-1, 0, 1)}
        for n in sorted({0, 1, 2, 3, 7, 8, 9, 17, 1000} | tails):
            u = (rng.integers(0, 2**63, size=n, dtype=np.uint64)
                 * np.uint64(2) + rng.integers(0, 2, n, dtype=np.uint64))
            u &= mask
            if n:  # all-ones values in the first and the last lane
                u[0] = u[-1] = mask
            got = bits.pack_bits(u, nbits)
            assert got == pack_ref(u, nbits), (nbits, n)
            assert np.array_equal(bits.unpack_bits(got, n, nbits), u)
            if nbits < 64:
                # pack_low_bits drops the bits above nbits of any value,
                # wherever the group that holds it is, and keeps its input
                wide = u | (rng.integers(0, 2, n).astype(bool)
                            * ~mask).astype(np.uint64)
                keep = wide.copy()
                assert bits.pack_low_bits(wide, nbits) == got, (nbits, n)
                assert np.array_equal(wide, keep)


def test_blob_size_is_the_encoded_length():
    """blob_size gives, from the selected descriptor alone, the exact
    length encode_block writes: every codec, both bitpfr sub-codecs,
    delta wrappers, both widths."""
    import numpy as np
    from oroch_spark.kernels import integers as ic

    rng = np.random.default_rng(17)
    seen = set()
    for i in range(300):
        n = int(rng.choice([0, 1, 5, 6, 64, 257, 3000]))
        b = int(rng.integers(1, 62))
        v = [rng.integers(0, 1 << b, n),
             np.where(rng.random(n) < rng.random() * 0.3,
                      rng.integers(0, 1 << b, n), rng.integers(0, 16, n)),
             np.cumsum(rng.integers(0, 1 << int(rng.integers(1, 20)), n)),
             rng.integers(-(1 << b), 1 << b, n),
             np.full(n, b)][i % 5].astype(np.int64)
        for width in ((8, 4) if n == 0 or np.abs(v).max() < 2**31
                      else (8,)):
            for try_delta in (False, True):
                d = ic.select(v, width=width, try_delta=try_delta)
                blob = ic.encode_block(v, desc=d)
                assert ic.blob_size(d) == len(blob), (i, d.codec_name)
                seen.add(d.codec_name)
                if d.codec == ic.BITPFR:
                    seen.add(("bitpfr", d.oidx_codec, d.oval_codec))
    assert {"naught", "normal", "varint", "varfor", "bitpck", "bitfor",
            "bitpfr", "delta"} <= seen
    assert {("bitpfr", ic.BITPCK, ic.VARINT),
            ("bitpfr", ic.VARINT, ic.BITPCK)} & seen
