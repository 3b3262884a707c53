"""Structured block fuzz of the codec kernels.

Complements the hypothesis properties (`test_property.py`) with
distribution-shaped generators: hypothesis explores VALUE boundaries by
shrinking, while these generators produce adversarial block SHAPES the
selector actually routes differently — constant runs, sorted ramps,
FOR-friendly narrow ranges, bitpfr-bait outlier mixes, int64/2^53
extremes, delta-wrap alternations, power-of-two boundaries, and string
blocks with dict/rle/wsdict/fsst-bait structure. Every block is
round-tripped, charged against the reference-model size budget, and
random-access fetched (`fetch`/`fetch_many` vs full decode) — the same
invariants the reference's randomized round-trip asserts
(`/root/reference/tests/unit/integer_group.cc:8-22`), at selector scope.

Default budget is a few hundred blocks (~2 s); OROCH_FUZZ_BLOCKS=40000
reruns the deep sweep (~8 min); deep runs totalling 100k int + 25k
string blocks across two seeds have run clean.
"""
import os

import numpy as np
import pyarrow as pa
import pytest

from oroch_spark.kernels import integers as ic
from oroch_spark.kernels import strings as sc

N_BLOCKS = int(os.environ.get("OROCH_FUZZ_BLOCKS", "600"))


def _gen_int_block(r: np.random.Generator) -> np.ndarray:
    kind = r.integers(0, 12)
    n = int(r.integers(0, 2000))
    if kind == 0:
        return np.zeros(n, dtype=np.int64)
    if kind == 1:
        return np.full(n, int(r.integers(-2**62, 2**62)), dtype=np.int64)
    if kind == 2:  # narrow range (FOR bait)
        base = int(r.integers(-2**62, 2**62))
        return base + r.integers(0, max(1, int(r.integers(1, 1000))),
                                 size=n).astype(np.int64)
    if kind == 3:  # sorted ramp (delta bait)
        start = int(r.integers(-2**40, 2**40))
        steps = r.integers(0, int(r.integers(1, 50)), size=n)
        return (start + np.cumsum(steps)).astype(np.int64)
    if kind == 4:  # bitpfr bait: narrow body + rare huge outliers
        body = r.integers(0, 256, size=n).astype(np.int64)
        k = max(1, n // 50) if n else 0
        if k and n:
            pos = r.choice(n, size=min(k, n), replace=False)
            body[pos] = r.integers(2**40, 2**62, size=len(pos))
        return body
    if kind == 5:  # extremes incl. the float64-mantissa boundary
        choices = np.array([-2**63, -2**63 + 1, -1, 0, 1,
                            2**63 - 1, 2**63 - 2, 2**53, -2**53,
                            2**53 + 1, -2**53 - 1], dtype=np.int64)
        return r.choice(choices, size=n)
    if kind == 6:  # runs
        vals: list[int] = []
        while len(vals) < n:
            vals.extend([int(r.integers(-1000, 1000))]
                        * int(r.integers(1, 60)))
        return np.array(vals[:n], dtype=np.int64)
    if kind == 7:  # uniform full-range
        return r.integers(-2**63, 2**63 - 1, size=n, dtype=np.int64)
    if kind == 8:  # small signed (zigzag bait)
        return r.integers(-64, 64, size=n).astype(np.int64)
    if kind == 9:  # descending ramp
        start = int(r.integers(-2**40, 2**40))
        return (start - np.cumsum(r.integers(0, 37, size=n))) \
            .astype(np.int64)
    if kind == 10:  # alternating extremes (delta-wrap stress)
        a = np.empty(n, dtype=np.int64)
        a[0::2] = 2**62
        a[1::2] = -2**62
        return a
    e = r.integers(0, 63, size=n)  # power-of-two boundaries
    s = r.choice(np.array([-1, 1], dtype=np.int64), size=n)
    return (s * (np.int64(1) << e.astype(np.int64))).astype(np.int64)


_WORDS = ["the", "tool", "call", "résumé", "日本語", "a", "", " ", "xx",
          "longer_token_value", "🙂", "\x00", "tab\t", "nl\n"]


def _gen_str_block(r: np.random.Generator) -> list[str]:
    kind = r.integers(0, 6)
    n = int(r.integers(0, 600))
    if kind == 0:  # dict bait
        pool = [f"v{j}" for j in range(int(r.integers(1, 20)))]
        return [pool[int(x)] for x in r.integers(0, len(pool), size=n)]
    if kind == 1:  # rle bait
        vals: list[str] = []
        pool = ["alpha", "beta", "gamma"]
        while len(vals) < n:
            vals.extend([pool[int(r.integers(0, 3))]]
                        * int(r.integers(1, 80)))
        return vals[:n]
    if kind == 2:  # wsdict bait: word sentences
        return [" ".join(_WORDS[int(x)] for x in
                         r.integers(0, len(_WORDS),
                                    size=int(r.integers(0, 40))))
                for _ in range(n)]
    if kind == 3:  # adversarial characters
        alphabet = list("ab c\x00é🙂\t\n")
        return ["".join(alphabet[int(x)] for x in
                        r.integers(0, len(alphabet),
                                   size=int(r.integers(0, 50))))
                for _ in range(n)]
    if kind == 4:  # unique long strings (plain/fsst bait)
        return [f"prefix_common_{j}_" + "pad" * int(r.integers(0, 30))
                for j in range(n)]
    return ["" for _ in range(n)]


def test_int_blocks_roundtrip_budget_and_fetch():
    r = np.random.default_rng(20260821)
    for i in range(N_BLOCKS):
        a = _gen_int_block(r)
        width = 8 if r.integers(0, 2) else 4
        if width == 4:
            a = np.clip(a, -2**31, 2**31 - 1)
        try_delta = bool(r.integers(0, 2))
        desc = ic.select(a, width=width, try_delta=try_delta)
        blob = ic.encode_block(a, width=width, try_delta=try_delta)
        back = ic.decode_block(blob, len(a), width=width)
        np.testing.assert_array_equal(a, back, err_msg=f"block {i}")
        assert len(blob) <= desc.ref_total, \
            f"block {i}: {len(blob)} > model {desc.ref_total}"
        if len(a):
            k = min(len(a), int(r.integers(1, 40)))
            idxs = r.choice(len(a), size=k,
                            replace=bool(r.integers(0, 2)))
            got = ic.fetch_many(blob, idxs, len(a), width=width)
            np.testing.assert_array_equal(got, a[idxs],
                                          err_msg=f"fetch block {i}")
            j = int(r.integers(0, len(a)))
            assert ic.fetch(blob, j, len(a), width=width) == int(a[j])


def test_str_blocks_roundtrip_budget_and_probe():
    r = np.random.default_rng(99020821)
    for i in range(max(1, N_BLOCKS // 4)):
        vals = _gen_str_block(r)
        arr = pa.array(vals, type=pa.large_string())
        blob, desc = sc.encode_str_block(
            arr, text_hint=bool(r.integers(0, 2)))
        back = sc.decode_str_block_arrow(blob, len(vals))
        assert back.cast(pa.large_string()).to_pylist() == vals, \
            f"str block {i} ({desc.codec_name})"
        if desc.codec != sc.PLAIN_STR:
            assert len(blob) <= desc.ref_total, f"str block {i}"
        if vals:
            probe = vals[int(r.integers(0, len(vals)))]
            got = sc.str_block_eq_indices(blob, len(vals), probe)
            exp = [j for j, v in enumerate(vals) if v == probe]
            assert got.tolist() == exp, f"str block {i} eq-probe"
