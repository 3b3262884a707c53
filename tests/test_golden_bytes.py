"""Golden bytes: the sha256 of every encoded column blob and of the
whole block payload, on two seeded blocks, pinned so that any change
to an encode kernel that moves a single output byte fails here.

- a 65,536-row transcript-shaped block (conv_id, turn_idx, role,
  token-soup text, tool, ts), the engine's block size;
- a 4,096-row block with one column per codec: every integer codec
  (naught, normal, varint, varfor, bitpck, bitfor, bitpfr, delta) and
  every string codec (plain, dict, RLE, FSST, wsdict).

Each blob must also decode back to its input. The bit packer's tail
groups are swept against a reference packer in
`test_int_kernels.py::test_pack_bits_grouped_path_matches_bitstream`."""
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from oroch_spark import engine

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array([f"tool_{t}" for t in
                  ["search", "calc", "code", "sql", "web", "files",
                   "mail", "cal", "img", "map", "api", "shell"]])
EPOCH_US = 1_735_689_600_000_000


def transcript_block(seed: int = 1, turns: int = 65536) -> pa.Table:
    """A seeded transcript table of exactly ``turns`` rows in
    (conv_id, turn_idx) order: Zipf conversation lengths, text drawn
    from a 512-word vocabulary."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(letters[rng.integers(0, 26,
                                                   rng.integers(3, 10))])
                      + str(i % 10) for i in range(512)])
    lens, total = [], 0
    while total < turns:
        lens.append(int(min(2000, rng.zipf(1.2))))
        total += lens[-1]
    lens[-1] -= total - turns
    lens = np.array(lens, dtype=np.int64)
    conv = np.repeat(np.arange(len(lens)), lens)
    first = np.repeat(np.cumsum(lens) - lens, lens)
    turn_idx = np.arange(turns) - first
    roles = ROLES[rng.choice(4, size=turns, p=[0.42, 0.42, 0.04, 0.12])]
    tool = np.where(roles == "tool",
                    TOOLS[rng.integers(0, len(TOOLS), turns)], "")
    nchars = np.clip(rng.lognormal(4.0, 1.0, turns), 0, 8000) \
        .astype(np.int64)
    nchars[rng.random(turns) < 0.02] = 0
    nwords = np.where(nchars == 0, 0, np.maximum(1, nchars // 8))
    offsets = np.concatenate([[0], np.cumsum(nwords)]).astype(np.int32)
    words = pa.array(vocab).take(
        pa.array(rng.integers(0, len(vocab), int(offsets[-1]))))
    text = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets), words), " ")
    gaps = (rng.exponential(60.0, turns) + 1.0).clip(1, 300) * 1_000_000
    gaps[turn_idx == 0] = 0
    cum = np.cumsum(gaps)
    ts = EPOCH_US + conv * 3_600_000_000 + (cum - cum[first])
    return pa.table({
        "conv_id": pa.array(np.char.add("conv-", np.char.zfill(
            conv.astype(str), 8))),
        "turn_idx": pa.array(turn_idx.astype(np.int32)),
        "role": pa.array(roles),
        "text": text,
        "tool": pa.array(tool),
        "ts": pa.array(ts.astype(np.int64), type=pa.timestamp("us")),
    })


def codec_block(seed: int = 7, n: int = 4096) -> pa.Table:
    """One column per codec; the column name is the codec the selector
    picks for it."""
    rng = np.random.default_rng(seed)

    def log_uniform(lo, hi):
        return np.exp2(rng.uniform(lo, hi, n)).astype(np.int64)

    small = np.array(["the", "cat", "sat", "on", "a", "mat", "and", "dog"])
    hexs = rng.integers(0, 2 ** 63, n)
    return pa.table({
        "naught": np.full(n, -42, np.int64),
        "normal": rng.integers(-2 ** 63, 2 ** 63 - 1, n, dtype=np.int64),
        "varint": log_uniform(0, 40) * rng.choice([-1, 1], n),
        "varfor": log_uniform(0, 40) + 10 ** 15,
        "bitpck": rng.integers(-1000, 1000, n),
        "bitfor": rng.integers(10 ** 9, 10 ** 9 + 1000, n),
        "bitpfr": np.where(rng.random(n) < 0.01,
                           rng.integers(0, 2 ** 30, n),
                           rng.integers(0, 16, n)),
        "bitpfr_dense": np.where(rng.random(n) < 0.2,
                                 rng.integers(0, 2 ** 12, n),
                                 rng.integers(0, 64, n)),
        "delta": np.cumsum(rng.integers(1, 100, n)) + 10 ** 12,
        "plain_str": [f"{x:x}" for x in rng.integers(0, 2 ** 24, n)],
        "dict_str": ROLES[rng.integers(0, 4, n)],
        "rle_str": np.sort(np.array(["alpha", "beta", "gamma"])[
            rng.integers(0, 3, n)]),
        "fsst_str": [f"https://example.com/api/v2/items/{h:016x}?page=index"
                     for h in hexs],
        "wsdict_str": [" ".join(small[rng.integers(0, 8,
                                                   rng.integers(1, 20))])
                       for _ in range(n)],
    })


CODEC_TEXT = frozenset(["fsst_str", "wsdict_str"])

GOLDEN_TRANSCRIPT = {
    "conv_id": "rle_str:c1ad2614b8bdbb589ebe4b8a4ed3e1e616401815339e41fd3daf16339c520801",
    "turn_idx": "delta:b5b64164b8c070e00dd9de17d03fc04cae6d2c78d9c6de3933f914ccb1b1b8da",
    "role": "dict_str:44bb79af73aa131470df7a1fcb71718a174eab65ce743f047fd8f1f96c5f44eb",
    "text": "wsdict_str:3f22c5bf845c0c97771d58b644abd4357d58a849abd1070ae74c0c52d058a0cb",
    "tool": "rle_str:4b859fbbf1528ec7ac363b6450b0dc24183910b1a1b14b5fd8f6d4569845e778",
    "ts": "delta:9225c24601447ce80819449adb94f6fce0522a36bd3f64de1e65f38aa7257416",
    "payload": "1aa64931ed37292afc58c5448c98e7bd89b7992b2e49f7181bae48890551fbe5",
    "desc": "6a3b9df5ba05915942176070458e2dc9f4e0757c398341a3b7aa558dbb6388fb",
}
GOLDEN_CODECS = {
    "naught": "naught:a96fe66c56d3260e6203d8389086e84b06d36c719f27ce3cbd94d6a84084dd4f",
    "normal": "normal:036c2f3231c96f925fca657eee29344c4e53e7ce81320f3456c04688b2df8d0d",
    "varint": "varint:2acef6e9c856a0b9142f78b14396f1e67db1cd7cc5da9a0d3ad6f7fa43967de7",
    "varfor": "varfor:b3166a2e747ddb3199a55ecdbdb4b2ae309dd19a6ce4798540ef7eb84ad94df1",
    "bitpck": "bitpck:cef5000ac1f348b78989a3b002c458679d301293a2df5315d7802612d1f142a9",
    "bitfor": "bitfor:bb44bdd0eca3029c362b6dd6ee0e0251e057c56d8d381c811da3368211b6d16d",
    "bitpfr": "bitpfr:db01e1b32911adeccf2c9f7d3dc8a596ebf88857153cdacfd28630bb3ddb50f0",
    "bitpfr_dense": "bitpfr:69b57d22f6e9a8c4ed0aed1745d448b9e70eb7cd917d536e8c6b89f6178dbf57",
    "delta": "delta:b5197afb00c8a419b1acbe0153f7b9f20e2ed8cedf3f7a68630be50af4f86a4c",
    "plain_str": "plain_str:4722ff20890713e6bb240bd52daae8b72b2ab29ad6d681a1aaae1f5e44d327d8",
    "dict_str": "dict_str:addfe69a55586d9956c30078462e3aba559fc20c1f8bf600fcf40b9dd61ff568",
    "rle_str": "rle_str:497342484545362ffab41e2a82b7df0ef53f5f56c0b40896a47dcbaca12e1f9a",
    "fsst_str": "fsst_str:aaaede9845e11aa536dfa01f2e389e21c7704762869195756a4dcacfee79cb7c",
    "wsdict_str": "wsdict_str:a9b04c5cfb086e18a76c3a7bfd9d805090d9acc7101c447af7c404520f433dc4",
    "payload": "ee4fdc5a735f8296e5f36cd9b60586053d33346850cae5a74497cc0713c3e95f",
    "desc": "12a754257d82c01afcde500978a38470e9d7385a488933aa78e472eac6c2a7f2",
}


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _hashes(tbl: pa.Table, text_cols: frozenset, key_cols) -> dict:
    kinds = engine.arrow_column_kinds(tbl.schema)
    out = {}
    for name, kind in kinds:
        arr = tbl.column(name).combine_chunks()
        blob, d, _, _ = engine._encode_column(arr, kind, name in text_cols,
                                              name=name)
        back = engine._decode_column(blob, kind, len(arr), arr.type)
        assert back.equals(arr), name
        out[name] = f"{d['c']}:{_sha(blob)}"
    row = engine._encode_chunk(tbl, 0, 0, kinds, key_cols, text_cols)
    out["payload"] = _sha(row["payload"])
    out["desc"] = _sha(row["desc"].encode())
    return out


def test_transcript_block_bytes_are_pinned():
    got = _hashes(transcript_block(), frozenset(["text"]),
                  ["conv_id", "turn_idx"])
    assert got == GOLDEN_TRANSCRIPT


def test_every_codec_bytes_are_pinned():
    tbl = codec_block()
    got = _hashes(tbl, CODEC_TEXT, ["delta"])
    assert got == GOLDEN_CODECS
    for name in tbl.column_names:  # the block covers what it claims
        assert got[name].split(":")[0] == name.replace("_dense", "")
