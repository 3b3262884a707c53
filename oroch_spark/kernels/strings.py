"""String block codecs: plain, dictionary, RLE, FSST — with exact-cost
auto-selection in the style of the reference's integer selector
(`/root/reference/oroch/integer_codec.h:405-420`: strict-less compare in a
fixed candidate order).

The reference library is integers-only (SURVEY.md §1.1); these codecs are
required by the north rule (SURVEY.md §2.7). Every integer sub-sequence a
string codec produces (lengths, dictionary indices, run lengths) is
recursively encoded through the Oroch-style integer selector in
``integers.py`` — exactly the reference's pattern of plugging sequences
into ``integer_codec`` (dictionary indices *are* an Oroch integer
sequence).

Blob layout (self-contained given n, which travels in block-row metadata,
same convention as the integer blobs):
  PLAIN : tag | sized(int-blob lengths)    | utf8 bytes
  DICT  : tag | varint(ndict) | sized(int-blob dict lengths) | dict bytes
              | int-blob indices
  RLE   : tag | varint(nruns) | sized(int-blob run lengths)
              | sized(int-blob run-value lengths) | run-value bytes
  FSST  : tag | symbol table | sized(int-blob encoded lengths) | encoded
where sized(b) = varint(len(b)) + b.

Reference-budget baseline for strings (documented per BASELINE.md): the
reference size of a string block is its PLAIN cost with the length
sequence charged at the Oroch integer-selector model size. The selector
always includes PLAIN, and integer blobs never exceed their model size,
so chosen-actual <= plain-actual <= plain-reference holds by
construction.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa

from . import fsst
from . import integers as ic

import pyarrow.compute as pc

PLAIN_STR = 16
DICT_STR = 17
RLE_STR = 18
FSST_STR = 19
WSDICT_STR = 20

STR_CODEC_NAMES = {
    PLAIN_STR: "plain_str",
    DICT_STR: "dict_str",
    RLE_STR: "rle_str",
    FSST_STR: "fsst_str",
    WSDICT_STR: "wsdict_str",
}

# Selection gates (deterministic functions of block stats).
DICT_MAX_RATIO = 0.5       # try dict when ndistinct <= n * ratio
DICT_MAX_ABS = 1 << 16
RLE_MAX_RATIO = 0.5        # try rle when nruns <= n * ratio
FSST_MIN_AVG_LEN = 8.0     # try fsst on text-like blocks
FSST_MIN_BYTES = 1 << 12
FSST_SKIP_RATIO = 0.55     # skip fsst once best/plain is below this


@dataclass
class StrDescriptor:
    codec: int
    n: int
    ref_total: int      # plain-at-reference-model cost (budget baseline)
    data_bytes: int     # actual blob size
    detail: str = ""

    @property
    def codec_name(self) -> str:
        return STR_CODEC_NAMES[self.codec]


# ---------------------------------------------------------------------------
# pandas/pyarrow <-> (lengths, concatenated utf8) without per-row Python
# ---------------------------------------------------------------------------

def to_string_array(values) -> pa.Array:
    """Normalize input to a flat pa.StringArray/LargeStringArray without
    copying the character data. Nulls are rejected (v0 engine contract:
    the transcript schema is null-free; '' stands for missing)."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not isinstance(values, pa.Array):
        values = pa.array(values, type=pa.large_string())
    if not (pa.types.is_large_string(values.type)
            or pa.types.is_string(values.type)):
        values = values.cast(pa.large_string())
    if values.null_count:
        raise ValueError("null strings not supported in v0 blocks")
    return values


# backwards-compatible alias (tests / older callers)
def to_large_string(values) -> pa.Array:
    arr = to_string_array(values)
    if not pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.large_string())
    return arr


def arrow_to_bytes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """String array -> (lengths int64, data uint8), zero-copy buffer
    views (no per-string Python objects). Handles both 32-bit
    (pa.string) and 64-bit (pa.large_string) offsets natively — no cast
    copy of the character data."""
    buf_off, buf_data = arr.buffers()[1], arr.buffers()[2]
    if pa.types.is_large_string(arr.type):
        offsets = np.frombuffer(buf_off, dtype=np.int64,
                                count=len(arr) + 1, offset=8 * arr.offset)
    else:
        offsets = np.frombuffer(buf_off, dtype=np.int32,
                                count=len(arr) + 1,
                                offset=4 * arr.offset).astype(np.int64)
    data = np.frombuffer(buf_data, dtype=np.uint8)[offsets[0]:offsets[-1]]
    lengths = np.diff(offsets)
    return lengths.astype(np.int64), np.ascontiguousarray(data)


def series_to_bytes(values) -> tuple[np.ndarray, np.ndarray]:
    """-> (lengths int64, data uint8); accepts pandas/numpy/arrow."""
    return arrow_to_bytes(to_large_string(values))


def bytes_to_arrow(lengths: np.ndarray, data: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return pa.LargeStringArray.from_buffers(
        len(lengths),
        pa.py_buffer(offsets.tobytes()),
        pa.py_buffer(np.ascontiguousarray(data).tobytes()),
        None, 0,
    )


def _sized(blob: bytes) -> bytes:
    return ic.varint_encode_scalar(len(blob)) + blob


def _read_sized(buf: bytes, pos: int) -> tuple[bytes, int]:
    size, pos = ic.varint_decode_scalar(buf, pos)
    return buf[pos:pos + size], pos + size


def _int_blob(vals: np.ndarray, width: int = 4,
              try_delta: bool = True,
              vrange: Optional[tuple] = None) -> bytes:
    # asarray, not astype: the callers already hold int64 arrays and
    # astype would copy megabytes per block for nothing
    return ic.encode_block(np.asarray(vals, dtype=np.int64), width=width,
                           try_delta=try_delta, vrange=vrange)


# ---------------------------------------------------------------------------
# Candidate encoders
# ---------------------------------------------------------------------------

def _encode_plain(lengths, data) -> bytes:
    return bytes([PLAIN_STR]) + _sized(_int_blob(lengths)) + data.tobytes()


def _dict_section(dict_arr: pa.Array) -> bytes:
    dl, dd = arrow_to_bytes(dict_arr)
    return (ic.varint_encode_scalar(len(dict_arr))
            + _sized(_int_blob(dl))
            + dd.tobytes())


def _read_dict_section(blob: bytes, pos: int) -> tuple[pa.Array, int]:
    ndict, pos = ic.varint_decode_scalar(blob, pos)
    dl_blob, pos = _read_sized(blob, pos)
    dlens = ic.decode_block(dl_blob, ndict, width=4)
    dsize = int(dlens.sum())
    ddata = np.frombuffer(blob, dtype=np.uint8, offset=pos, count=dsize)
    return bytes_to_arrow(dlens, ddata), pos + dsize


def _encode_dict(codes: np.ndarray, dict_arr: pa.Array,
                 dsec: Optional[bytes] = None) -> bytes:
    # codes are first-appearance dictionary indices — an unordered
    # stream where the delta wrapper essentially never wins; skipping
    # its 4-pass gate is most of the dict-candidate encode cost.
    # Exact range is known by construction: index 0 goes to the first
    # row and every dictionary entry is referenced, so codes span
    # [0, ndict-1] — no scan passes needed.
    return (bytes([DICT_STR])
            + (dsec if dsec is not None else _dict_section(dict_arr))
            + _int_blob(codes, try_delta=False,
                        vrange=(0, len(dict_arr) - 1)))


def _encode_rle(codes: np.ndarray, dict_arr: pa.Array,
                dsec: Optional[bytes] = None) -> bytes:
    """RLE over dictionary codes: run lengths + run-value dict indices +
    the dictionary itself. (Layout change vs v0: run values are dict
    references, so repeated run values are stored once.)"""
    boundaries = np.flatnonzero(np.diff(codes) != 0) + 1
    starts = np.concatenate([[0], boundaries])
    run_len = np.diff(np.concatenate([starts, [len(codes)]]))
    run_idx = codes[starts]
    # run_idx spans [0, ndict-1] exactly: every distinct code's first
    # appearance starts a run (its predecessor differs by definition)
    return (bytes([RLE_STR])
            + ic.varint_encode_scalar(len(starts))
            + _sized(_int_blob(run_len))
            + (dsec if dsec is not None else _dict_section(dict_arr))
            + _int_blob(run_idx, try_delta=False,
                        vrange=(0, len(dict_arr) - 1)))


def _encode_wsdict(arr: pa.Array) -> Optional[bytes]:
    """Word-dictionary codec: split every string on ' ' (C++), dictionary
    the flat word stream (C++ hash), then run the word-id sequence and
    per-string word counts through the Oroch-style integer selector.

    Split-on-space + join-with-space is lossless for ANY string
    (consecutive/leading/trailing spaces become empty words), so this is
    a general codec, not a heuristic: natural-language and code/tool
    transcripts compress far below FSST's in-string-pattern floor
    because the dictionary captures cross-string redundancy. Decode is
    a C++ gather (take) + list binary_join.
    """
    lst = pc.split_pattern(arr, " ")
    counts = pc.list_value_length(lst).to_numpy(zero_copy_only=False) \
        .astype(np.int64)
    flat = pc.list_flatten(lst)
    denc = pc.dictionary_encode(flat)
    ids = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_arr = to_large_string(denc.dictionary)
    # ids span [0, nwords-1] exactly (first-appearance dictionary
    # indices, every entry referenced) — skips the min/max scans
    return (bytes([WSDICT_STR])
            + _dict_section(dict_arr)
            + _sized(_int_blob(counts))
            + _int_blob(ids, try_delta=False,
                        vrange=(0, len(dict_arr) - 1)))


def _decode_wsdict(blob: bytes, n: int, pos: int) -> pa.Array:
    dict_arr, pos = _read_dict_section(blob, pos)
    cnt_blob, pos = _read_sized(blob, pos)
    counts = ic.decode_block(cnt_blob, n, width=4)
    total = int(counts.sum())
    ids = ic.decode_block(blob[pos:], total, width=4)
    words = pc.take(dict_arr, pa.array(ids, type=pa.int64()))
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    lst = pa.LargeListArray.from_arrays(
        pa.array(offsets, type=pa.int64()), words)
    # separator must be large_string to match large_list<large_string>
    return pc.binary_join(lst, pa.scalar(" ", type=pa.large_string()))


def _encode_fsst(lengths, data) -> Optional[bytes]:
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    table = fsst.build_table(data, starts)
    if not table:
        return None
    enc, enc_lens = fsst.encode(data, starts, table)
    return (bytes([FSST_STR])
            + fsst.serialize_table(table)
            + _sized(_int_blob(enc_lens))
            + enc.tobytes())


# ---------------------------------------------------------------------------
# Selection + block API
# ---------------------------------------------------------------------------

def encode_str_block(values, text_hint: bool = False
                     ) -> tuple[bytes, StrDescriptor]:
    """Auto-select and encode one string block.

    ``values``: pa.Array / pa.ChunkedArray / pandas Series / numpy
    object array of str (no nulls). Arrow-native throughout — no
    per-string Python objects. ``text_hint`` forces trying FSST even
    when gates would skip it.
    """
    arr = to_string_array(values)
    n = len(arr)
    lengths, data = arrow_to_bytes(arr)
    total_bytes = int(lengths.sum())

    # Reference baseline: plain with lengths at the Oroch model cost.
    # One selection serves both the budget math and the actual encode
    # (encode_block would re-run the identical select otherwise).
    len_desc = ic.select(lengths.astype(np.int64), width=4, try_delta=True)
    len_blob = ic.encode_block(lengths, desc=len_desc, width=4)
    plain_size = 1 + ic.varint_size_scalar(len(len_blob)) \
        + len(len_blob) + total_bytes
    ref_total = (1 + ic.varint_size_scalar(len_desc.ref_total)
                 + len_desc.ref_total + total_bytes)

    if n == 0:
        blob = _encode_plain(lengths, data)
        return blob, StrDescriptor(PLAIN_STR, 0, ref_total, len(blob))

    avg = total_bytes / n
    # Long-string blocks (text) skip the dictionary machinery entirely:
    # natural-language blocks essentially never dedup/run, and the C++
    # hash pass over the full character data is pure overhead.
    try_dict = avg < 32 or not (text_hint or total_bytes >= FSST_MIN_BYTES)

    best: Optional[bytes] = None  # plain materialized lazily
    best_size = plain_size
    best_codec = PLAIN_STR
    if try_dict:
        denc = pc.dictionary_encode(arr)  # C++ hash table; deterministic
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        dict_arr = to_large_string(denc.dictionary)
        u = len(dict_arr)
        nruns = 1 + int(np.count_nonzero(np.diff(codes)))
        # Strict-less compare in fixed order (dict, rle, fsst) — mirrors
        # the reference's compare discipline (`integer_codec.h:405-420`).
        gate_dict = (u <= max(1, int(n * DICT_MAX_RATIO)) or u <= 256) \
            and u <= DICT_MAX_ABS
        gate_rle = nruns <= max(1, int(n * RLE_MAX_RATIO))
        # dictionary section serialized once for both candidates
        dsec = _dict_section(dict_arr) if (gate_dict or gate_rle) \
            else None
        if gate_dict:
            cand = _encode_dict(codes, dict_arr, dsec)
            if len(cand) < best_size:
                best, best_size, best_codec = cand, len(cand), DICT_STR
        if gate_rle:
            cand = _encode_rle(codes, dict_arr, dsec)
            if len(cand) < best_size:
                best, best_size, best_codec = cand, len(cand), RLE_STR
    else:
        u = n  # assumed distinct; only affects the FSST gate below
    if (text_hint or (avg >= FSST_MIN_AVG_LEN
                      and total_bytes >= FSST_MIN_BYTES
                      and u > n // 8)):
        cand = _encode_wsdict(arr)
        if cand is not None and len(cand) < best_size:
            best, best_size, best_codec = cand, len(cand), WSDICT_STR
        # FSST is the expensive candidate; try it only while the best
        # so far has not already beaten FSST's practical compression
        # floor on text (deterministic gate — a pure function of sizes)
        if best_size > int(total_bytes * FSST_SKIP_RATIO):
            cand = _encode_fsst(lengths, data)
            if cand is not None and len(cand) < best_size:
                best, best_size, best_codec = cand, len(cand), FSST_STR

    if best is None:
        best = (bytes([PLAIN_STR]) + _sized(len_blob) + data.tobytes())
    return best, StrDescriptor(best_codec, n, ref_total, len(best))


def _from_dict_codes(codes: np.ndarray, dict_arr: pa.Array) -> pa.Array:
    ind = pa.array(codes.astype(np.int32), type=pa.int32())
    return (pa.DictionaryArray.from_arrays(ind, dict_arr)
            .cast(pa.large_string()))


def decode_str_block_arrow(blob: bytes, n: int) -> pa.Array:
    tag = blob[0]
    pos = 1
    if tag == PLAIN_STR:
        len_blob, pos = _read_sized(blob, pos)
        lengths = ic.decode_block(len_blob, n, width=4)
        data = np.frombuffer(blob, dtype=np.uint8, offset=pos)
        return bytes_to_arrow(lengths, data[: int(lengths.sum())])
    if tag == DICT_STR:
        dict_arr, pos = _read_dict_section(blob, pos)
        codes = ic.decode_block(blob[pos:], n, width=4)
        return _from_dict_codes(codes, dict_arr)
    if tag == RLE_STR:
        nruns, pos = ic.varint_decode_scalar(blob, pos)
        rl_blob, pos = _read_sized(blob, pos)
        run_len = ic.decode_block(rl_blob, nruns, width=4)
        dict_arr, pos = _read_dict_section(blob, pos)
        run_idx = ic.decode_block(blob[pos:], nruns, width=4)
        codes = np.repeat(run_idx, run_len)
        return _from_dict_codes(codes, dict_arr)
    if tag == WSDICT_STR:
        return _decode_wsdict(blob, n, pos)
    if tag == FSST_STR:
        table, pos = fsst.deserialize_table(blob, pos)
        el_blob, pos = _read_sized(blob, pos)
        enc_lens = ic.decode_block(el_blob, n, width=4)
        enc = np.frombuffer(blob, dtype=np.uint8, offset=pos,
                            count=int(enc_lens.sum()))
        data, dec_lens = fsst.decode_split(enc, enc_lens, table)
        return bytes_to_arrow(dec_lens, data)
    raise ValueError(f"bad string codec tag {tag}")


def decode_str_block(blob: bytes, n: int) -> pd.Series:
    return decode_str_block_arrow(blob, n).to_pandas()


def str_block_eq_indices(blob: bytes, n: int, value) -> np.ndarray:
    """Row indices where the block equals ``value`` (a str, or a
    list/tuple of str for the IN form), touching as little data as the
    codec allows: DICT blocks compare the (small) dictionary and scan
    only the int code stream for the matching code set; RLE blocks
    compare the dictionary and expand only the matching RUNS into
    index ranges (non-matching rows never materialize in any form);
    PLAIN/FSST/WSDICT decode and compare C++-side. The equality-probe
    analogue of the reference's find
    (`/root/reference/oroch/integer_array.h:192-208`) for string
    payloads."""
    tag = blob[0]
    values = list(value) if isinstance(value, (list, tuple)) else [value]

    def _dict_hits(dict_arr: pa.Array) -> np.ndarray:
        m = pc.is_in(dict_arr, value_set=pa.array(values,
                                                  type=dict_arr.type))
        return np.flatnonzero(m.to_numpy(zero_copy_only=False))

    if tag == DICT_STR:
        dict_arr, pos = _read_dict_section(blob, 1)
        hits = _dict_hits(dict_arr)
        if not len(hits):
            return np.empty(0, dtype=np.int64)
        codes = ic.decode_block(blob[pos:], n, width=4)
        if len(hits) == 1:
            return np.flatnonzero(codes == hits[0])
        return np.flatnonzero(np.isin(codes, hits))
    if tag == RLE_STR:
        nruns, pos = ic.varint_decode_scalar(blob, 1)
        rl_blob, pos = _read_sized(blob, pos)
        run_len = ic.decode_block(rl_blob, nruns, width=4)
        dict_arr, pos = _read_dict_section(blob, pos)
        hits = _dict_hits(dict_arr)
        if not len(hits):
            return np.empty(0, dtype=np.int64)
        run_idx = ic.decode_block(blob[pos:], nruns, width=4)
        starts = np.zeros(nruns, dtype=np.int64)
        np.cumsum(run_len[:-1], out=starts[1:])
        hit = np.flatnonzero(np.isin(run_idx, hits))
        if not len(hit):
            return np.empty(0, dtype=np.int64)
        return np.concatenate([np.arange(starts[r], starts[r] + run_len[r])
                               for r in hit])
    arr = decode_str_block_arrow(blob, n)
    m = pc.is_in(arr, value_set=pa.array(values, type=arr.type))
    return np.flatnonzero(pc.fill_null(m, False)
                          .to_numpy(zero_copy_only=False))


def str_block_value_counts(blob: bytes, n: int
                           ) -> tuple[pa.Array, np.ndarray]:
    """Distinct values of one encoded string block with their row
    counts, WITHOUT materializing the row values when the codec
    already holds them factored: DICT blocks bincount the code stream
    against the stored dictionary; RLE blocks scatter-add run lengths
    per run value (the run stream is never expanded — a block of k
    runs costs O(k), not O(n)). PLAIN/FSST/WSDICT decode and group
    C++-side via Arrow ``value_counts``. This is the group-by/distinct
    pushdown primitive: the engine's GROUP BY col COUNT(*) touches
    only dictionaries and code streams for dictionary-coded blocks."""
    tag = blob[0]
    if tag == DICT_STR:
        dict_arr, pos = _read_dict_section(blob, 1)
        codes = ic.decode_block(blob[pos:], n, width=4)
        counts = np.bincount(codes, minlength=len(dict_arr))
    elif tag == RLE_STR:
        nruns, pos = ic.varint_decode_scalar(blob, 1)
        rl_blob, pos = _read_sized(blob, pos)
        run_len = ic.decode_block(rl_blob, nruns, width=4)
        dict_arr, pos = _read_dict_section(blob, pos)
        run_idx = ic.decode_block(blob[pos:], nruns, width=4)
        counts = np.zeros(len(dict_arr), dtype=np.int64)
        np.add.at(counts, run_idx, run_len)
    else:
        vc = pc.value_counts(decode_str_block_arrow(blob, n))
        return vc.field("values"), \
            vc.field("counts").to_numpy(zero_copy_only=False)
    keep = np.flatnonzero(counts)  # dict entries can be unreferenced
    if len(keep) != len(counts):
        return dict_arr.take(pa.array(keep)), counts[keep]
    return dict_arr, counts
