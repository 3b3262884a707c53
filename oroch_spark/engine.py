"""Spark encode/decode jobs: the engine proper.

Spark-first architecture (SURVEY.md §3-4): the relational layer is plain
DataFrame ops — salted repartition (shuffle), groupBy-applyInPandas for
the vectorized encode kernel, mapInPandas (no shuffle) for decode, and
DataFrame aggregations for the manifest. No RDDs, no driver-side loops
over rows, no per-row Python. The codec work happens inside Arrow-batched
pandas UDFs calling the numpy kernels.

Scale design (the 10^12-turn story):
- **Skew**: one conversation with millions of turns must not pin one
  task. The partition key is ``xxhash64(conv_id, turn_idx // chunk_rows)
  % n_buckets`` — long conversations split across buckets in
  ``chunk_rows`` runs, short conversations stay whole; every bucket gets
  a bounded, roughly equal share. Decode needs no cross-bucket state.
- **Blocks**: within a bucket, rows are sorted by the stable key
  (conv_id, turn_idx) and cut into ``block_rows`` blocks; each block is
  one self-contained row of the encoded table (per-column blobs + a
  descriptor). This is the scaled-up analogue of the reference's
  256-value groups (`/root/reference/oroch/integer_array.h:44`).
- **Resume**: the blocks table is written ``partitionBy(bucket)`` with
  dynamic partition overwrite, so re-encoding a bucket is idempotent;
  a manifest row per bucket (lineage: snapshot id, bounds, codec
  histogram, bytes in/out, wall) marks completion. A restarted run
  anti-joins planned buckets against the manifest and encodes only the
  remainder (see `checkpoint.py`).
- **No collect() of table rows** in the data path. Query plans are
  built with two bounded planning reads: ``zorder_key``'s one
  min/max row and the top-k threshold (at most k ``(n, bound)``
  metadata rows, never a payload); ``lookup_join`` collects its
  probe's distinct keys, so its probe must be an entity list (33,334
  keys is the largest measured). The resume path's pending-bucket id
  list is bounded by n_buckets.
- **Block index**: against a bare parquet scan of a persisted blocks
  table, the point-query builders read its non-payload columns on the
  driver (``_BlockIndex``, checked against the files on every use),
  answer metadata-only queries with no Spark job and hand the payload
  job only the blocks they keep; the top-k threshold then walks the
  index instead of a planning read.
"""
from __future__ import annotations

import base64
import bisect
import decimal as _dec
import gc
import json
import os
import re
import time
from dataclasses import dataclass
from typing import Iterator, Optional

import numpy as np

from pyspark.sql import DataFrame, functions as F, types as T

from .kernels import bits as kbits
from .kernels import integers as ic
from .kernels import strings as sc

# Column kind tags. The reference handles every integer width/signedness
# uniformly via integer_traits promotion (`/root/reference/oroch/
# integer_traits.h:31-59`); the engine mirrors that: every scalar kind
# normalizes into the int64 codec domain with a declared byte width.
K_I32, K_I64, K_F64, K_TS, K_STR = "i32", "i64", "f64", "ts", "str"
K_BOOL, K_I8, K_I16, K_DATE, K_F32 = "bool", "i8", "i16", "date", "f32"
K_BIN = "bin"
# decimal kinds carry their params: "dec(p,s)" with p <= 18 (unscaled
# value fits int64, Spark's own compact representation for that range)

BLOCK_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("block_idx", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("key_min", T.StringType()),
    T.StructField("key_max", T.StringType()),
    # TRUE min/max of the LEADING key column (null when the key has no
    # pruning domain or is all-null): plain columns, so the block index
    # reads them without the desc JSON and ``format("oroch")``'s
    # row-group planning skips whole groups of blocks on their parquet
    # min/max stats before any payload bytes are read. Integral-domain
    # keys (ints, date, bool, ts-as-micros) fill key_lo/key_hi; string
    # keys fill key_slo/key_shi (lexicographic).
    T.StructField("key_lo", T.LongType()),
    T.StructField("key_hi", T.LongType()),
    T.StructField("key_slo", T.StringType()),
    T.StructField("key_shi", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("desc", T.StringType()),
    T.StructField("bytes_in", T.LongType()),
    T.StructField("bytes_out", T.LongType()),
    T.StructField("ref_bytes", T.LongType()),
    T.StructField("wall_ms", T.DoubleType()),
])


def column_kinds(schema: T.StructType) -> list[tuple[str, str]]:
    out = []
    for f in schema.fields:
        if f.name.startswith("_"):
            continue
        dt = f.dataType
        if isinstance(dt, T.IntegerType):
            out.append((f.name, K_I32))
        elif isinstance(dt, T.LongType):
            out.append((f.name, K_I64))
        elif isinstance(dt, T.DoubleType):
            out.append((f.name, K_F64))
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            out.append((f.name, K_TS))
        elif isinstance(dt, T.StringType):
            out.append((f.name, K_STR))
        elif isinstance(dt, T.BooleanType):
            out.append((f.name, K_BOOL))
        elif isinstance(dt, T.ByteType):
            out.append((f.name, K_I8))
        elif isinstance(dt, T.ShortType):
            out.append((f.name, K_I16))
        elif isinstance(dt, T.DateType):
            out.append((f.name, K_DATE))
        elif isinstance(dt, T.FloatType):
            out.append((f.name, K_F32))
        elif isinstance(dt, T.BinaryType):
            out.append((f.name, K_BIN))
        elif isinstance(dt, T.DecimalType):
            if dt.precision > 18:
                raise ValueError(
                    f"decimal column {f.name}: precision {dt.precision} "
                    "> 18 (unscaled value would not fit int64)")
            out.append((f.name, f"dec({dt.precision},{dt.scale})"))
        elif isinstance(dt, T.ArrayType) and isinstance(
                dt.elementType, (T.FloatType, T.DoubleType)):
            w = 4 if isinstance(dt.elementType, T.FloatType) else 8
            out.append((f.name, f"arr(f{w * 8})"))
        else:
            raise ValueError(f"unsupported column type {f.name}: {dt}")
    return out


def spark_type_of(kind: str) -> T.DataType:
    if kind.startswith("dec("):
        p, s = kind[4:-1].split(",")
        return T.DecimalType(int(p), int(s))
    if kind == "arr(f32)":
        return T.ArrayType(T.FloatType())
    if kind == "arr(f64)":
        return T.ArrayType(T.DoubleType())
    return {
        K_I32: T.IntegerType(), K_I64: T.LongType(), K_F64: T.DoubleType(),
        K_TS: T.TimestampType(), K_STR: T.StringType(),
        K_BOOL: T.BooleanType(), K_I8: T.ByteType(), K_I16: T.ShortType(),
        K_DATE: T.DateType(), K_F32: T.FloatType(), K_BIN: T.BinaryType(),
    }[kind]


# ---------------------------------------------------------------------------
# Per-block column encode/decode (inside the UDF; arrow/numpy only — no
# pandas object arrays, no per-row Python)
# ---------------------------------------------------------------------------

def _float_encode(f: np.ndarray, width: int, kind: str, nullable: bool,
                  vblob: bytes):
    """Shared float32/float64 block encoder.

    ALP-style exact decimal scaling: if every value is bitwise
    reconstructible as round(v*10^e)/10^e with the integer in
    float-exact range, integer-code the scaled values (price-like
    columns drop from 64 raw bits to ~20 packed bits). Verification
    uses the EXACT decode expression (int64 -> float64 -> /scale ->
    target float width), so anything the round-trip cannot reproduce
    bitwise — including -0.0 — falls back to raw bits. The reference
    budget stays the raw-bits selection (the reference model has no
    float transform). Tag byte: 0 = raw IEEE bits at the column width,
    else e+1 = scaled ints (always encoded at width 8: round(v*10^e)
    can exceed the int32 domain even for float32 inputs).
    """
    n = len(f)
    fdt = np.float32 if width == 4 else np.float64
    bdt = np.int32 if width == 4 else np.int64
    raw_bits = f.view(bdt).astype(np.int64, copy=False)
    ref_desc = ic.select(raw_bits, width=width, try_delta=False)
    raw_blob = bytes([0]) + ic.encode_block(raw_bits, desc=ref_desc,
                                            width=width)
    f64 = f.astype(np.float64, copy=False)
    for e in (0, 1, 2, 3, 4):
        scale = 10.0 ** e
        ints = np.round(f64 * scale)
        if not (np.abs(ints) < 2.0 ** 53).all():
            continue
        iv = ints.astype(np.int64)
        dec = (iv.astype(np.float64) / scale).astype(fdt).view(bdt)
        if (dec.astype(np.int64, copy=False) == raw_bits).all():
            desc = ic.select(iv, width=8, try_delta=True)
            blob = bytes([e + 1]) + ic.encode_block(iv, desc=desc, width=8)
            if len(blob) >= len(raw_blob):
                break  # scaled ints lost to the actual raw encoding
            d = {"k": kind, "c": f"dec{e}+{desc.codec_name}"}
            if nullable:
                d["z"] = 1
            return (vblob + blob, d, width * n,
                    ref_desc.ref_total + len(vblob) + 1)
    d = {"k": kind, "c": ref_desc.codec_name}
    if nullable:
        d["z"] = 1
    return (vblob + raw_blob, d, width * n,
            ref_desc.ref_total + len(vblob) + 1)


def _float_decode(blob: bytes, n: int, width: int) -> np.ndarray:
    tag = blob[0]
    if tag == 0:
        bdt = np.int32 if width == 4 else np.int64
        fdt = np.float32 if width == 4 else np.float64
        return ic.decode_block(blob[1:], n, width=width) \
            .astype(bdt).view(fdt)
    ints = ic.decode_block(blob[1:], n, width=8)
    # decimal-scaled: encode verified round(v*10^e)/10^e is
    # bitwise-identical, and IEEE division is deterministic
    vals = ints.astype(np.float64) / (10.0 ** (tag - 1))
    return vals.astype(np.float32) if width == 4 else vals


def _decimal_unscaled(arr: "pa.Array") -> np.ndarray:
    """Unscaled int64 values of a decimal128(p<=18, s) array, read
    straight from the 16-byte little-endian two's-complement buffer
    (low word first) — no per-row Python, no object arrays."""
    import pyarrow as pa

    n = len(arr)
    data = np.frombuffer(arr.buffers()[1], dtype="<i8")
    pairs = data[2 * arr.offset: 2 * (arr.offset + n)].reshape(n, 2)
    low, high = pairs[:, 0].copy(), pairs[:, 1]
    if not (high == (low >> 63)).all():
        raise ValueError("decimal value exceeds 64-bit unscaled range")
    return low


def _decimal_rebuild(iv: np.ndarray, arrow_type) -> "pa.Array":
    import pyarrow as pa

    n = len(iv)
    data = np.empty((n, 2), dtype="<i8")
    data[:, 0] = iv
    data[:, 1] = iv >> 63  # sign extension into the high word
    return pa.Array.from_buffers(arrow_type, n,
                                 [None, pa.py_buffer(data.tobytes())])


def _encode_float_array(arr: "pa.ListArray", kind: str, nullable: bool,
                        vblob: bytes, valid: Optional[np.ndarray] = None):
    """Embedding-column codec: ``array<float>`` / ``array<double>``.

    Generalizes the reference's per-block cheapest-of selection
    (`/root/reference/oroch/integer_codec.h:234-384`) to float vectors:
    the flattened element buffer is split into IEEE byte planes and each
    plane runs through the Oroch-style integer selector at width 1 (the
    sign/exponent plane of real embedding data is low-entropy — e.g.
    unit-norm float32 vectors use only a handful of exponent bytes —
    while mantissa planes stay near-random and degrade to `normal`).
    Per-row element counts are themselves an Oroch-selected integer
    sequence (fixed-dim tables collapse to `naught`, ~3 bytes/block).

    Layout: mode(1B: 1=planes, 0=raw LE values)
            ‖ varint(n_elems) ‖ varint(len) + lengths_block
            ‖ per plane: varint(len) + plane_block   (mode 1)
            ‖ raw element bytes                      (mode 0)
    The raw fallback guarantees actual bytes <= raw + O(header), and the
    reference budget is the raw element bytes + the lengths block (the
    reference model has no float/vector concept).
    """
    elem_w = 4 if kind == "arr(f32)" else 8
    n = len(arr)
    off = arr.offsets.to_numpy().astype(np.int64) if n \
        else np.zeros(1, dtype=np.int64)
    raw_counts = np.diff(off)
    counts = (np.where(valid, raw_counts, 0)
              if valid is not None else raw_counts)
    child = arr.values
    if child.null_count:
        raise ValueError("array columns with null ELEMENTS are not "
                         "supported (null rows are)")
    vall = child.to_numpy(zero_copy_only=False)
    # vectorized gather of the logical elements (row slices of the
    # child buffer, skipping null rows) — no per-row Python
    n_elems = int(counts.sum())
    if n_elems >= 2 ** 31:
        # decode rebuilds int32 list offsets (the Arrow list layout);
        # past 2^31 total elements they would wrap silently — fail at
        # ENCODE time like the binary path does
        raise ValueError("array block exceeds int32 offset range; "
                         "lower block_rows for this table")
    within = (np.arange(n_elems)
              - np.repeat(np.cumsum(counts) - counts, counts))
    idx = np.repeat(off[:-1], counts) + within
    v = vall[idx]
    udt = np.uint32 if elem_w == 4 else np.uint64
    bits = np.ascontiguousarray(v).view(udt)
    len_desc = ic.select(counts, width=4)
    len_blob = ic.encode_block(counts, desc=len_desc, width=4)
    head = (ic.varint_encode_scalar(n_elems)
            + ic.varint_encode_scalar(len(len_blob)) + len_blob)
    raw = bits.astype(f"<u{elem_w}").tobytes()
    plane_blobs = []
    plane_names = []
    byte_rows = bits.view(np.uint8).reshape(n_elems, elem_w) if n_elems \
        else np.zeros((0, elem_w), dtype=np.uint8)
    for k in range(elem_w):
        plane = byte_rows[:, k].astype(np.int64)
        if k == elem_w - 1:
            # MSB plane = sign + exponent high bits. Rotate the sign
            # down to bit 0 so +x and -x exponents interleave into one
            # tight range instead of two clusters 128 apart — FOR then
            # needs ~log2(exponent spread)+1 bits, not 8. Bijective,
            # inverted on decode.
            plane = ((plane << 1) | (plane >> 7)) & 0xFF
        pdesc = ic.select(plane, width=1)
        plane_blobs.append(ic.encode_block(plane, desc=pdesc, width=1))
        plane_names.append(pdesc.codec_name)
    planes = b"".join(ic.varint_encode_scalar(len(p)) + p
                      for p in plane_blobs)
    if len(planes) < len(raw):
        blob = bytes([1]) + head + planes
    else:
        blob = bytes([0]) + head + raw
        plane_names = ["raw"]
    d = {"k": kind, "c": "fplane", "pc": ",".join(plane_names)}
    if nullable:
        d["z"] = 1
    ref_bytes = elem_w * n_elems + len_desc.ref_total + len(vblob) + 1
    return (vblob + blob, d, elem_w * n_elems + 4 * n, ref_bytes)


def _decode_float_array(blob: bytes, kind: str, n: int, arrow_type,
                        valid: Optional[np.ndarray] = None) -> "pa.Array":
    import pyarrow as pa

    elem_w = 4 if kind == "arr(f32)" else 8
    fdt = np.float32 if elem_w == 4 else np.float64
    mode = blob[0]
    pos = 1
    n_elems, pos = ic.varint_decode_scalar(blob, pos)
    ln, pos = ic.varint_decode_scalar(blob, pos)
    counts = ic.decode_block(blob[pos:pos + ln], n, width=4)
    pos += ln
    if mode == 0:
        v = np.frombuffer(blob, dtype=f"<u{elem_w}", count=n_elems,
                          offset=pos)
    else:
        byte_rows = np.empty((n_elems, elem_w), dtype=np.uint8)
        for k in range(elem_w):
            ln, pos = ic.varint_decode_scalar(blob, pos)
            plane = ic.decode_block(blob[pos:pos + ln], n_elems, width=1)
            if k == elem_w - 1:
                # decode_block(width=1) returns the int8-interpreted
                # domain (-128..127); mask back to the unsigned byte
                # BEFORE un-rotating, or the arithmetic right shift
                # sign-extends rotated bytes >= 0x80 (any |v| >= 2.0)
                # and flips the decoded sign bit
                plane = plane & 0xFF
                plane = ((plane >> 1) | ((plane & 1) << 7)) & 0xFF
            byte_rows[:, k] = plane
            pos += ln
        v = byte_rows.reshape(-1).view(f"<u{elem_w}")
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    values = pa.array(v.view(fdt))
    if valid is not None:
        # a null at offsets[i] marks list i null (Arrow from_arrays
        # contract); the final offset stays valid
        mask = np.append(~valid, False)
        oarr = pa.array(offsets, type=pa.int32(), mask=mask)
    else:
        oarr = pa.array(offsets, type=pa.int32())
    return pa.ListArray.from_arrays(oarr, values).cast(arrow_type)


def _bin_lens_and_bytes(arr: "pa.Array") -> tuple[np.ndarray, bytes]:
    """(per-row byte lengths, contiguous logical bytes) of a binary
    array, straight from the Arrow offsets/data buffers."""
    n = len(arr)
    bufs = arr.buffers()
    import pyarrow as pa
    off_dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=off_dt)[
        arr.offset: arr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None \
        else np.zeros(0, dtype=np.uint8)
    return np.diff(offs), data[offs[0]:offs[n]].tobytes()


def _encode_binary(arr: "pa.Array", nullable: bool, vblob: bytes):
    """Opaque binary (media payload) column codec.

    Layout: mode(1B) ‖ body
      mode 0 (raw):  varint(len) + lengths_block ‖ concatenated bytes
      mode 1 (dict): varint(n_dict) + varint(len) + dict_lengths_block
                     ‖ varint(len) + index_block ‖ dict bytes
    Lengths and dictionary indices are Oroch-selected integer
    sequences; duplicate detection runs C++-side via Arrow
    ``dictionary_encode`` (media tables repeat thumbnails / empty
    payloads heavily). The payload bytes themselves stay opaque — the
    engine's job is structure, dedup, and lossless round-trip, not
    transcoding. Reference budget = 4 bytes/row (offsets) + raw bytes."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(arr)
    lens, raw = _bin_lens_and_bytes(arr)
    if len(raw) >= 2 ** 31:
        raise ValueError("binary block exceeds int32 offset range; "
                         "lower block_rows for this table")
    len_desc = ic.select(lens.astype(np.int64), width=4)
    len_blob = ic.encode_block(lens.astype(np.int64), desc=len_desc,
                               width=4)
    raw_body = (ic.varint_encode_scalar(len(len_blob)) + len_blob + raw)
    blob = bytes([0]) + raw_body
    codec = "binraw"
    if n:
        denc = pc.dictionary_encode(arr)
        dvals = denc.dictionary
        if len(dvals) <= n // 2:  # real duplication: try the dict form
            didx = denc.indices.to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            dlens, draw = _bin_lens_and_bytes(dvals)
            dl_blob = ic.encode_block(dlens.astype(np.int64), width=4)
            di_blob = ic.encode_block(didx, width=4)
            dict_body = (ic.varint_encode_scalar(len(dvals))
                         + ic.varint_encode_scalar(len(dl_blob)) + dl_blob
                         + ic.varint_encode_scalar(len(di_blob)) + di_blob
                         + draw)
            if len(dict_body) < len(raw_body):
                blob = bytes([1]) + dict_body
                codec = "bindict"
    d = {"k": K_BIN, "c": codec}
    if nullable:
        d["z"] = 1
    ref = 4 * n + len(raw) + len(vblob) + 1
    return (vblob + blob, d, 4 * n + len(raw), ref)


def _decode_binary(blob: bytes, n: int) -> "pa.Array":
    import pyarrow as pa

    mode = blob[0]
    pos = 1
    if mode == 0:
        ln, pos = ic.varint_decode_scalar(blob, pos)
        lens = ic.decode_block(blob[pos:pos + ln], n, width=4)
        pos += ln
        offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lens, out=offs[1:])
        return pa.Array.from_buffers(
            pa.binary(), n,
            [None, pa.py_buffer(offs.tobytes()),
             pa.py_buffer(blob[pos:])])
    n_dict, pos = ic.varint_decode_scalar(blob, pos)
    ln, pos = ic.varint_decode_scalar(blob, pos)
    dlens = ic.decode_block(blob[pos:pos + ln], n_dict, width=4)
    pos += ln
    ln, pos = ic.varint_decode_scalar(blob, pos)
    didx = ic.decode_block(blob[pos:pos + ln], n, width=4)
    pos += ln
    offs = np.zeros(n_dict + 1, dtype=np.int32)
    np.cumsum(dlens, out=offs[1:])
    dvals = pa.Array.from_buffers(
        pa.binary(), n_dict,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(blob[pos:])])
    return dvals.take(pa.array(didx, type=pa.int64()))


def _encode_column(arr: "pa.Array", kind: str, text_hint: bool,
                   name: str = ""):
    """-> (blob bytes, desc dict, bytes_in, ref_bytes). ``arr`` is a
    flat (combined) pyarrow array. Nullable columns get a packed
    validity bitmap prefix (ceil(n/8) bytes, little-endian bit order)
    and encode with nulls filled; decode restores the mask. The bitmap
    is charged to both actual and reference bytes (the reference has no
    null concept, so the budget comparison stays apples-to-apples)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(arr)
    nullable = bool(arr.null_count)
    if nullable:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        vblob = np.packbits(valid, bitorder="little").tobytes()
    else:
        vblob = b""
    if kind == K_STR:
        a = pc.fill_null(arr, "") if nullable else arr
        blob, d = sc.encode_str_block(a, text_hint=text_hint)
        desc = {"k": kind, "c": d.codec_name}
        if nullable:
            desc["z"] = 1
        elif n and not text_hint:
            # lexicographic per-column zone stats (like the numeric
            # lo/hi/s) so scan_where/lookup_where prune string
            # predicates too; declared text (payload) columns skip —
            # min/max of prose isn't a useful pruning domain and the
            # strings would bloat the descriptor
            mm = pc.min_max(arr if d.distinct is None else d.distinct)
            # keep desc small: long bounds are widened, not dropped
            # (floor the low / ceil the high — still superset-safe)
            slo, shi = _str_bounds_capped(mm["min"].as_py(),
                                          mm["max"].as_py())
            if shi is not None:
                desc["slo"], desc["shi"] = slo, shi
        return (vblob + blob, desc, d.raw_bytes + 4 * n,
                d.ref_total + len(vblob))
    if kind == K_TS:
        ia = arr
        if pa.types.is_timestamp(ia.type) and ia.type.unit != "us":
            # normalize to the engine's epoch-micros domain: file-pull
            # inputs can surface as ns (e.g. INT96 parquet) and a raw
            # int64 view would be off by 1000x after decode. Policy:
            # whole-microsecond values only — genuine sub-microsecond
            # precision is a hard error (never silent truncation),
            # because the decode target (Spark TimestampType) is
            # micros and the bit-identical round-trip would be broken.
            try:
                ia = ia.cast(pa.timestamp("us", tz=ia.type.tz))
            except pa.lib.ArrowInvalid as exc:
                raise ValueError(
                    f"timestamp column {name!r} carries sub-microsecond "
                    f"precision ({ia.type}); the engine's domain is "
                    "epoch-micros (Spark TimestampType). Truncate "
                    "explicitly upstream (e.g. date_trunc) before "
                    "encoding.") from exc
        ia = ia.cast(pa.int64())
        if nullable:
            ia = pc.fill_null(ia, 0)
        ints = ia.to_numpy(zero_copy_only=False)
        width, delta = 8, True
    elif kind == K_F64:
        a = pc.fill_null(arr, 0.0) if nullable else arr
        return _float_encode(a.to_numpy(zero_copy_only=False), 8, kind,
                             nullable, vblob)
    elif kind == K_F32:
        a = pc.fill_null(arr, np.float32(0.0)) if nullable else arr
        return _float_encode(a.to_numpy(zero_copy_only=False), 4, kind,
                             nullable, vblob)
    elif kind.startswith("arr("):
        # null rows encode as zero-length lists (the validity bitmap
        # restores them); element-level nulls are unsupported
        return _encode_float_array(arr, kind, nullable, vblob,
                                   valid if nullable else None)
    elif kind == K_BIN:
        a = pc.fill_null(arr, b"") if nullable else arr
        return _encode_binary(a, nullable, vblob)
    elif kind == K_BOOL:
        a = pc.fill_null(arr, False) if nullable else arr
        ints = a.to_numpy(zero_copy_only=False).astype(np.int64)
        width, delta = 1, False
    elif kind == K_I8:
        a = pc.fill_null(arr, 0) if nullable else arr
        ints = a.to_numpy(zero_copy_only=False).astype(np.int64)
        width, delta = 1, True
    elif kind == K_I16:
        a = pc.fill_null(arr, 0) if nullable else arr
        ints = a.to_numpy(zero_copy_only=False).astype(np.int64)
        width, delta = 2, True
    elif kind == K_DATE:
        # date32: int32 days since epoch — delta/FOR codecs win on the
        # near-sorted date runs typical of event tables
        ia = arr.cast(pa.int32())
        if nullable:
            ia = pc.fill_null(ia, 0)
        ints = ia.to_numpy(zero_copy_only=False).astype(np.int64)
        width, delta = 4, True
    elif kind.startswith("dec("):
        a = arr
        if nullable:
            a = pc.fill_null(arr, pa.scalar(_dec.Decimal(0),
                                            type=arr.type))
        ints = _decimal_unscaled(a)
        width, delta = 8, True
    elif kind == K_I32:
        a = pc.fill_null(arr, 0) if nullable else arr
        ints = a.to_numpy(zero_copy_only=False).astype(np.int64)
        width, delta = 4, True
    else:
        a = pc.fill_null(arr, 0) if nullable else arr
        ints = a.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        width, delta = 8, True
    desc = ic.select(ints, width=width, try_delta=delta)
    blob = ic.encode_block(ints, desc=desc, width=width)
    d = {"k": kind, "c": desc.codec_name}
    if nullable:
        d["z"] = 1
    elif n:
        # per-column zone stats (min/max/sum in the int64 codec domain)
        # for metadata-answered range aggregates (range_agg): near-free
        # here, saves a full decode per interior block later. Nullable
        # columns skip stats (fill values would corrupt them) and
        # degrade to the decode path.
        lo_v, hi_v = int(ints.min()), int(ints.max())
        d["lo"], d["hi"], d["s"] = lo_v, hi_v, _exact_sum(ints)
    return (vblob + blob, d, width * n, desc.ref_total + len(vblob))


def _exact_sum(ints: np.ndarray) -> int:
    """Exact sum of int64 values as a Python int, fully vectorized:
    split each value into (v >> 32) and (v & 0xFFFFFFFF); each partial
    int64 sum is safe for any block under 2^31 rows, and
    (hi_sum << 32) + lo_sum reassembles the true sum in Python's
    unbounded-int domain (two's-complement split identity)."""
    return ((int((ints >> 32).sum(dtype=np.int64)) << 32)
            + int((ints & 0xFFFFFFFF).sum(dtype=np.int64)))


# byte width of each integer-domain kind's codec values (8 otherwise:
# i64, ts, dec(p,s))
_INT_WIDTHS = {K_I32: 4, K_DATE: 4, K_BOOL: 1, K_I8: 1, K_I16: 2}


def _split_validity(blob: bytes, n: int):
    """(validity mask, value blob) of a nullable column's blob: the
    packed little-endian bitmap prefix, then the encoded values."""
    nb = (n + 7) // 8
    valid = np.unpackbits(np.frombuffer(blob[:nb], dtype=np.uint8),
                          count=n, bitorder="little").astype(bool)
    return valid, blob[nb:]


def _decode_column(blob: bytes, kind: str, n: int, arrow_type,
                   nullable: bool = False) -> "pa.Array":
    import pyarrow as pa
    import pyarrow.compute as pc

    if nullable:
        valid, blob = _split_validity(blob, n)
    if kind == K_STR:
        out = sc.decode_str_block_arrow(blob, n).cast(arrow_type)
    elif kind == K_F64:
        out = pa.array(_float_decode(blob, n, 8), type=arrow_type)
    elif kind == K_F32:
        out = pa.array(_float_decode(blob, n, 4), type=arrow_type)
    elif kind.startswith("arr("):
        # validity is restored structurally (nullable list offsets)
        return _decode_float_array(blob, kind, n, arrow_type,
                                   valid if nullable else None)
    elif kind == K_BIN:
        out = _decode_binary(blob, n).cast(arrow_type)
    elif kind.startswith("dec("):
        out = _decimal_rebuild(ic.decode_block(blob, n, width=8),
                               arrow_type)
    else:
        ints = ic.decode_block(blob, n, width=_INT_WIDTHS.get(kind, 8))
        if kind == K_TS:
            out = pa.array(ints, type=pa.int64()).cast(arrow_type)
        elif kind == K_I32:
            out = pa.array(ints.astype(np.int32), type=arrow_type)
        elif kind == K_DATE:
            out = pa.array(ints.astype(np.int32),
                           type=pa.int32()).cast(arrow_type)
        elif kind == K_BOOL:
            out = pa.array(ints.astype(bool), type=arrow_type)
        elif kind == K_I8:
            out = pa.array(ints.astype(np.int8), type=arrow_type)
        elif kind == K_I16:
            out = pa.array(ints.astype(np.int16), type=arrow_type)
        else:
            out = pa.array(ints, type=arrow_type)
    if nullable:
        out = pc.if_else(pa.array(valid), out,
                         pa.scalar(None, type=out.type))
    return out


def _block_arrow_schema():
    import pyarrow as pa
    return pa.schema([
        ("bucket", pa.int32()), ("block_idx", pa.int64()),
        ("n", pa.int64()), ("key_min", pa.string()),
        ("key_max", pa.string()), ("key_lo", pa.int64()),
        ("key_hi", pa.int64()), ("key_slo", pa.string()),
        ("key_shi", pa.string()), ("payload", pa.binary()),
        ("desc", pa.string()), ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()), ("ref_bytes", pa.int64()),
        ("wall_ms", pa.float64()),
    ])


# Lead-key string zone bounds are capped at this many characters.
# Long keys (URLs, file paths) would otherwise replicate into every
# block row AND into the parquet min/max stats the pruning rides on.
# Truncation must stay superset-safe: the low bound is floored (a
# prefix is <= the original), the high bound is ceiled (prefix with
# its last incrementable code point bumped is > every string sharing
# the prefix), so a pruned block provably cannot hold the probe.
_KEY_BOUND_MAX = 256


def _floor_str_bound(s: Optional[str],
                     limit: int = _KEY_BOUND_MAX) -> Optional[str]:
    if s is None or len(s) <= limit:
        return s
    return s[:limit]


def _ceil_str_bound(s: Optional[str],
                    limit: int = _KEY_BOUND_MAX) -> Optional[str]:
    """Upper bound of length <= ``limit`` for every string with the
    same ``limit``-char prefix: bump the last code point of the prefix
    that has a successor (skipping the surrogate gap — bounds must
    stay valid UTF-8, and code-point order == UTF-8 byte order, the
    collation Spark/Arrow/parquet stats compare strings in). Returns
    None ("unbounded above") only for the degenerate all-U+10FFFF
    prefix."""
    if s is None or len(s) <= limit:
        return s
    p = s[:limit]
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c < 0x10FFFF:
            nxt = 0xE000 if c == 0xD7FF else c + 1
            return p[:i] + chr(nxt)
    return None


def _str_bounds_capped(slo: Optional[str], shi: Optional[str]):
    """(floor(lo), ceil(hi)) — or (None, None) when the high side has
    no finite bound, because the prune predicates test both sides and
    a one-sided bound would read as "empty range", wrongly pruning."""
    hi = _ceil_str_bound(shi)
    if shi is not None and hi is None:
        return None, None
    return _floor_str_bound(slo), hi


def _lead_bounds(lead: "pa.Array"):
    """TRUE (min, max) of the leading key column for the block's zone
    map — (key_lo, key_hi, key_slo, key_shi). The reference prunes its
    ``find`` on real group bounds for any key type
    (`/root/reference/oroch/integer_array.h:71-136`); first/last-row
    bounds would only be correct for key-sorted input, and
    ``encode_parquet_maponly`` explicitly supports unsorted files.
    Integral-domain keys (ints, date32 as days, bool, timestamp as
    epoch-micros) fill the int64 pair; string keys fill the
    lexicographic pair; anything else — or an all-null key — yields
    all-None, which every prune path treats as "cannot prune, keep the
    block" (never silently drop)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(lead) == 0 or lead.null_count == len(lead):
        return None, None, None, None
    t = lead.type
    try:
        if pa.types.is_timestamp(t):
            lead = lead.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
        elif pa.types.is_date32(t):
            lead = lead.cast(pa.int32())
        elif pa.types.is_boolean(t):
            lead = lead.cast(pa.int8())
    except pa.lib.ArrowInvalid:
        return None, None, None, None  # encode raises its own clear error
    if pa.types.is_integer(lead.type):
        mm = pc.min_max(lead)  # null-skipping
        return int(mm["min"].as_py()), int(mm["max"].as_py()), None, None
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        mm = pc.min_max(lead)
        slo, shi = _str_bounds_capped(mm["min"].as_py(),
                                      mm["max"].as_py())
        return None, None, slo, shi
    return None, None, None, None


# --- per-block Bloom filters ----------------------------------------------
# Zone maps (key_lo/key_hi, per-column lo/hi stats) prune range
# predicates but are useless for point lookups on a high-cardinality
# column UNCORRELATED with the block order (every block's [lo, hi]
# spans the whole domain). A small per-block Bloom filter answers
# "value definitely not in this block" for exactly that shape. The
# filter is stored base64 in the block descriptor ("bm" per column)
# and probed on the driver's block index (`bloom_might_contain`) — no
# payload bytes move before the surviving blocks decode. False
# positives only cost a wasted decode; false negatives cannot happen
# (every value, nulls filled, is hashed).

_BLOOM_K = 6          # probes per value
_BLOOM_MIN_BYTES = 128    # 1 Kib
_BLOOM_MAX_BYTES = 65536  # 512 Kib; ~8 bits/row at 64k-row blocks


def _mix64(x: "np.ndarray") -> "np.ndarray":
    """Vectorized splitmix64 finalizer (public-domain constants) — the
    independent second hash for Kirsch-Mitzenmacher double hashing."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _bloom_hash_vals(arr_or_value, kind: str) -> "np.ndarray":
    """Deterministic uint64 hash of values in the canonical domain:
    int-domain kinds hash their int64 codec representation (ts =
    epoch-micros, date = days, bool = 0/1; nulls fill 0 — extra bits
    only, never a false negative), strings hash their text (nulls
    fill ""). Both sides of the filter — block build (Arrow array) and
    probe (single value) — go through this one function, so the probe
    positions always match the built bits."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pandas.util import hash_array

    if isinstance(arr_or_value, (pa.Array, pa.ChunkedArray)):
        arr = arr_or_value
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if kind == K_STR:
            vals = pc.fill_null(arr, "").to_numpy(zero_copy_only=False)
        else:
            t = arr.type
            if pa.types.is_timestamp(t):
                arr = arr.cast(pa.timestamp("us", tz=t.tz)) \
                         .cast(pa.int64())
            elif pa.types.is_date32(t):
                arr = arr.cast(pa.int32())
            elif pa.types.is_boolean(t):
                arr = arr.cast(pa.int8())
            if not pa.types.is_integer(arr.type):
                raise ValueError(
                    f"bloom filters support string/integer-domain "
                    f"columns only, not kind {kind!r}")
            vals = pc.fill_null(arr, 0).to_numpy(zero_copy_only=False) \
                     .astype(np.int64, copy=False)
    elif kind == K_STR:
        vals = np.array([arr_or_value], dtype=object)
    else:
        vals = np.array([int(arr_or_value)], dtype=np.int64)
    return hash_array(vals)  # pandas' fixed default key: deterministic


def _bloom_build(arr, kind: str) -> bytes:
    """Blocked Bloom filter bytes for one column of one block: size is
    the power of two nearest 8 bits/row (clamped), so the JVM probe's
    signed pmod trick is exact (2^64 == 0 mod m for power-of-two m)."""
    n = len(arr)
    m_bytes = 1 << min(max((max(n, 1) - 1).bit_length(),
                           _BLOOM_MIN_BYTES.bit_length() - 1),
                       _BLOOM_MAX_BYTES.bit_length() - 1)
    m_bits = np.uint64(m_bytes * 8)
    h1 = _bloom_hash_vals(arr, kind)
    h2 = _mix64(h1)
    bloom = np.zeros(m_bytes, dtype=np.uint8)
    for i in range(_BLOOM_K):
        pos = ((h1 + np.uint64(i) * h2) % m_bits).astype(np.int64)
        np.bitwise_or.at(bloom, pos >> 3,
                         np.left_shift(np.uint8(1),
                                       (pos & 7).astype(np.uint8)))
    return bloom.tobytes()


# token grammar shared by the token-Bloom build (pyarrow RE2) and the
# grep_where row filter (Java regex): a token is a maximal [0-9A-Za-z_]
# run. The two engines agree on this class exactly.
_TOKEN_SPLIT_RE = "[^0-9A-Za-z_]+"


def _token_bloom_build(arr) -> bytes:
    """Bloom filter over the DISTINCT word tokens of a string column's
    block: split every value on non-word runs (C++ RE2), flatten,
    unique, hash like any string Bloom. Sized by the distinct-token
    count, so text blocks (thousands of distinct words per block) get
    the bigger power-of-two automatically."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    toks = pc.unique(pc.list_flatten(pc.split_pattern_regex(
        pc.fill_null(arr, ""), _TOKEN_SPLIT_RE)))
    toks = toks.filter(pc.not_equal(toks, ""))
    return _bloom_build(toks, K_STR)


# --- per-block sketches (approximate analytics at metadata speed) ----------
# Opt-in like the Blooms (``sketch_cols``): each block stores a
# HyperLogLog register file ("hll", Flajolet et al. 2007) and, for
# integer-domain columns, an equi-spaced order-statistic summary
# ("qs"). Both are MERGEABLE — HLL by elementwise register max,
# summaries by weighted combine — so APPROX COUNT(DISTINCT) and approx
# percentiles over any slice of a 100 TB table reduce to a fold over
# O(blocks) kilobyte sketches: no payload byte is ever read, and the
# merge tree (partition partials -> one final fold) is exactly the
# two-level aggregation Spark would plan for a native sketch.

_HLL_P = 11                 # 2^11 registers: 2 KiB/block, ~2.3% stderr
_QS_T = 64                  # 65 order stats: 528 B/block, rank err ~n/64


def _hll_build(arr, kind: str) -> bytes:
    """HyperLogLog registers (m = 2^_HLL_P, uint8) for the DISTINCT
    non-null values of one column of one block."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.drop_null()
    m = 1 << _HLL_P
    regs = np.zeros(m, dtype=np.uint8)
    if len(arr) == 0:
        return regs.tobytes()
    if kind in (K_F32, K_F64):
        # floats hash by value (f32 widens injectively to f64);
        # equal floats collide as required, NaNs collapse to one
        from pandas.util import hash_array

        h = hash_array(arr.cast(pa.float64())
                       .to_numpy(zero_copy_only=False))
    else:
        h = _bloom_hash_vals(arr, kind)
    idx = (h >> np.uint64(64 - _HLL_P)).astype(np.int64)
    rem = h & np.uint64((1 << (64 - _HLL_P)) - 1)
    # rho = leading-zero count of the remaining 64-p bits, + 1;
    # bits.bit_length is exact here (rem < 2^53 for p >= 11)
    rho = (np.uint8(64 - _HLL_P + 1)
           - kbits.bit_length(rem).astype(np.uint8))
    np.maximum.at(regs, idx, rho)
    return regs.tobytes()


def _hll_estimate(regs: "np.ndarray") -> int:
    """Standard HLL estimator with the small-range linear-counting
    correction (64-bit hashes make the large-range correction moot)."""
    m = len(regs)
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / np.sum(np.exp2(-regs.astype(np.float64)))
    if est <= 2.5 * m:
        zeros = int(np.count_nonzero(regs == 0))
        if zeros:
            est = m * np.log(m / zeros)
    return int(round(est))


_MG_K = 64                  # heavy-hitter counters per block


def _mg_build(arr, kind: str) -> str:
    """Per-block heavy-hitter summary: the top-_MG_K exact (value,
    count) pairs plus the residual bound ``rb`` = largest dropped
    count (<= n/(K+1) by pigeonhole). Exact top-k counters with a
    residual bound are a mergeable Misra-Gries-style summary (Agarwal
    et al., Mergeable Summaries, PODS 2012): merged estimates
    undercount each item by at most the sum of the blocks' ``rb``.
    JSON string (values as strings — exact for string/int domains);
    ties broken (count desc, value asc) for determinism."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.drop_null()
    if kind == K_STR:
        vc = pc.value_counts(arr)
        uvals, cnt = vc.field("values"), \
            vc.field("counts").to_numpy(zero_copy_only=False)
    else:
        iv = _canon_int64(arr)
        u, cnt = np.unique(iv, return_counts=True)
        uvals = pa.array(u)
    n_u = len(cnt)
    if n_u <= _MG_K:
        cand = np.arange(n_u)
        rb = 0
    else:
        cut = int(np.partition(cnt, n_u - _MG_K)[n_u - _MG_K])
        cand = np.flatnonzero(cnt >= cut)   # >= K entries (cut ties)
        below = cnt[cnt < cut]
        rb_below = int(below.max()) if len(below) else 0
        rb = cut if len(cand) > _MG_K else rb_below
    # only the candidate set (K + ties) materializes as Python values
    keys = [str(v) for v in uvals.take(pa.array(cand)).to_pylist()]
    ccnt = cnt[cand]
    order = sorted(range(len(keys)),
                   key=lambda i: (-int(ccnt[i]), keys[i]))[:_MG_K]
    return json.dumps({"rb": int(rb),
                       "items": {keys[i]: int(ccnt[i]) for i in order}})


def approx_topk(blocks: DataFrame, col: str, k: int = 10,
                kind: str = "str") -> DataFrame:
    """Approximate top-k most frequent values of ``col`` from per-block
    heavy-hitter summaries alone (``sketch_cols`` at encode) — the
    "top domains / languages / tools over 100 TB" query without
    shuffling the column: the driver sums the O(blocks x K) counter
    pairs from the block index and ranks. Estimates UNDERCOUNT only;
    rows out: (value, count_lo, count_hi) with true count in
    [count_lo, count_hi] (count_hi adds every block's residual bound).
    Raises at the call if any block lacks the summary. ``kind``
    controls the output value type ("str" or "int")."""
    if k > _MG_K:
        raise ValueError(f"k must be <= {_MG_K}")
    acc: dict[str, int] = {}
    rb = 0
    for s in _sketches(blocks, col, "mg", "approx_topk",
                       "heavy-hitter summary"):
        d = json.loads(s)
        rb += int(d["rb"])
        for v, c in d["items"].items():
            acc[v] = acc.get(v, 0) + int(c)
    top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return _local_df(blocks.sparkSession, T.StructType([
        T.StructField("value",
                      T.LongType() if kind == "int" else T.StringType()),
        *_longs("count_lo", "count_hi").fields]),
        [[int(v) if kind == "int" else v for v, _ in top],
         [c for _, c in top], [c + rb for _, c in top]])


def _canon_int64(arr):
    """Non-null values of an int-domain Arrow array in the canonical
    int64 codec domain (ts = epoch-micros, date = days, bool = 0/1)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.drop_null()
    t = arr.type
    if pa.types.is_timestamp(t):
        arr = arr.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_date32(t):
        arr = arr.cast(pa.int32())
    elif pa.types.is_boolean(t):
        arr = arr.cast(pa.int8())
    if not pa.types.is_integer(arr.type):
        raise ValueError("quantile sketches support integer-domain "
                         "columns only")
    return arr.to_numpy(zero_copy_only=False).astype(np.int64,
                                                     copy=False)


def _qsketch_build(arr) -> bytes:
    """Equi-spaced order-statistic summary of one int-domain column of
    one block: ``[n_nonnull, v_0 .. v_T]`` little-endian int64, where
    v_i is the EXACT order statistic at rank round(i*(n-1)/T). Using a
    point for any in-block rank errs by at most n/(2T) rows."""
    vals = _canon_int64(arr)
    nn = len(vals)
    if nn == 0:
        return np.array([0], dtype="<i8").tobytes()
    svals = np.sort(vals)
    idx = np.round(np.linspace(0, nn - 1, _QS_T + 1)).astype(np.int64)
    out = np.empty(_QS_T + 2, dtype="<i8")
    out[0] = nn
    out[1:] = svals[idx]
    return out.tobytes()


def _qsketch_build_f(arr) -> bytes:
    """Float-column variant of :func:`_qsketch_build`: count travels as
    the first float64 (exact below 2^53), points as float64 order
    stats; NaNs are excluded like nulls (they have no rank)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    vals = arr.drop_null().cast(pa.float64()) \
        .to_numpy(zero_copy_only=False)
    vals = vals[~np.isnan(vals)]
    nn = len(vals)
    if nn == 0:
        return np.array([0.0], dtype="<f8").tobytes()
    svals = np.sort(vals)
    idx = np.round(np.linspace(0, nn - 1, _QS_T + 1)).astype(np.int64)
    out = np.empty(_QS_T + 2, dtype="<f8")
    out[0] = float(nn)
    out[1:] = svals[idx]
    return out.tobytes()


def _encode_chunk(table: "pa.Table", bucket: int, block_idx: int,
                  kinds, key_cols, text_cols,
                  bloom_cols: frozenset = frozenset(),
                  token_bloom_cols: frozenset = frozenset(),
                  sketch_cols: frozenset = frozenset()) -> dict:
    t0 = time.time()
    n = table.num_rows
    pieces = []
    desc_cols = []
    bytes_in = 0
    ref_bytes = 0
    for name, kind in kinds:
        arr = table.column(name).combine_chunks()
        blob, d, b_in, b_ref = _encode_column(arr, kind, name in text_cols,
                                              name=name)
        if arr.null_count:
            # exact null count per nullable column: IS NULL aggregates
            # answer from metadata (the validity bitmap already paid
            # for the popcount)
            d["nc"] = int(arr.null_count)
        d["o"] = sum(len(p) for p in pieces)
        d["l"] = len(blob)
        d["n"] = name
        if name in bloom_cols:
            d["bm"] = base64.b64encode(_bloom_build(table.column(name),
                                                    kind)).decode("ascii")
        if name in token_bloom_cols:
            if kind != K_STR:
                raise ValueError(f"token_bloom_cols: {name!r} is not a "
                                 "string column")
            d["tbm"] = base64.b64encode(
                _token_bloom_build(table.column(name))).decode("ascii")
        if name in sketch_cols:
            d["hll"] = base64.b64encode(
                _hll_build(table.column(name), kind)).decode("ascii")
            if kind in (K_I8, K_I16, K_I32, K_I64, K_TS, K_DATE, K_BOOL):
                d["qs"] = base64.b64encode(
                    _qsketch_build(table.column(name))).decode("ascii")
            elif kind in (K_F32, K_F64):
                d["qsf"] = base64.b64encode(
                    _qsketch_build_f(table.column(name))).decode("ascii")
            if kind == K_STR or kind in (K_I8, K_I16, K_I32, K_I64,
                                         K_TS, K_DATE, K_BOOL):
                d["mg"] = _mg_build(table.column(name), kind)
        pieces.append(blob)
        desc_cols.append(d)
        bytes_in += b_in
        ref_bytes += b_ref
    payload = b"".join(pieces)
    # display/legacy composite key (capped: any numeric string the
    # legacy try_cast prune can use is <20 chars, untouched by the cap)
    key = lambda i: _floor_str_bound("|".join(
        str(table.column(k)[i].as_py()) for k in key_cols))
    key_lo, key_hi, key_slo, key_shi = _lead_bounds(
        table.column(key_cols[0]).combine_chunks())
    return {
        "bucket": bucket, "block_idx": block_idx, "n": n,
        "key_min": key(0), "key_max": key(n - 1),
        "key_lo": key_lo, "key_hi": key_hi,
        "key_slo": key_slo, "key_shi": key_shi,
        "payload": payload,
        "desc": json.dumps({"cols": desc_cols}),
        "bytes_in": bytes_in,
        "bytes_out": len(payload),
        "ref_bytes": ref_bytes,
        "wall_ms": (time.time() - t0) * 1000.0,
    }


def make_encode_fn(kinds: list[tuple[str, str]], key_cols: list[str],
                   block_rows: int, text_cols: frozenset[str],
                   bloom_cols: frozenset = frozenset(),
                   token_bloom_cols: frozenset = frozenset(),
                   sketch_cols: frozenset = frozenset()):
    """Streaming mapInArrow encode kernel.

    Input partitions are hash-distributed by ``_bucket`` and sorted by
    (_bucket, *key_cols), so each bucket's rows arrive contiguously in
    stable-key order. The kernel buffers at most ``block_rows`` rows of
    zero-copy RecordBatch slices at a time — executor memory is bounded
    by the block size, never by the bucket/partition size (the 100 TB
    constraint: a partition can be arbitrarily large, Arrow streams it
    in ~10k-row batches). No pandas object arrays are ever created."""

    def encode_stream(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        out_schema = _block_arrow_schema()
        buf: list[pa.RecordBatch] = []
        buffered = 0
        cur_bucket: Optional[int] = None
        block_idx = 0
        # Amortize the python->JVM crossing: completed blocks accumulate
        # and ship several per output RecordBatch (one from_pylist + one
        # Arrow IPC frame each), instead of one frame per block. Bounded
        # by count AND payload bytes so memory stays O(few blocks).
        pending: list[dict] = []
        pending_bytes = 0

        def flush():
            nonlocal buf, buffered, block_idx, pending_bytes
            if not buffered:
                return
            table = pa.Table.from_batches(buf)
            row = _encode_chunk(table, cur_bucket, block_idx,
                                kinds, key_cols, text_cols,
                                bloom_cols, token_bloom_cols,
                                sketch_cols)
            block_idx += 1
            buf = []
            buffered = 0
            pending.append(row)
            pending_bytes += row["bytes_out"]

        def drain():
            nonlocal pending_bytes
            out = pa.RecordBatch.from_pylist(pending, schema=out_schema)
            pending.clear()
            pending_bytes = 0
            return out

        for batch in batches:
            while batch.num_rows:
                bvals = batch.column("_bucket").to_numpy()
                if cur_bucket is None:
                    cur_bucket = int(bvals[0])
                mask = bvals == cur_bucket
                run = batch.num_rows if mask.all() else int(np.argmin(mask))
                if run == 0:
                    flush()
                    cur_bucket = int(bvals[0])
                    block_idx = 0
                    continue
                take = min(run, block_rows - buffered)
                buf.append(batch.slice(0, take))  # zero-copy
                buffered += take
                batch = batch.slice(take)
                if buffered >= block_rows:
                    flush()
            if len(pending) >= 8 or pending_bytes >= 32 << 20:
                yield drain()
        flush()
        if pending:
            yield drain()

    return encode_stream


class _BlockReader:
    """One encoded block, read column by column — the only code that
    knows the descriptor's per-column layout (offset ``o``, length
    ``l``, kind ``k``, nullable ``z``; Oroch's self-describing block
    header, `integer_group.h:62-76`). Every decode kernel and the
    ``format("oroch")`` readers go through it.

    A column the block predates (added to the table later) reads as
    all-null — Iceberg add-column semantics. The payload is copied to
    Python bytes once, on the first column read: a ``memoryview`` of
    the Arrow buffer would be signed (format ``'b'``) and misread the
    codec tag bytes."""

    __slots__ = ("n", "_cols", "_payload", "_bytes", "_codes")

    def __init__(self, desc, payload, n):
        if isinstance(desc, str):
            desc = json.loads(desc)
        self.n = int(n)
        self._cols = {d["n"]: d for d in desc["cols"]}
        self._payload = payload
        self._bytes = None
        # what :meth:`codes` decoded, so that a column a row test read
        # is never decoded again for the output: int64 NumPy codes of
        # a non-nullable integer column, the Arrow array of a string or
        # float column
        self._codes = {}

    def _blob(self, d) -> bytes:
        if self._bytes is None:
            self._bytes = self._payload.as_py()
        return self._bytes[d["o"]:d["o"] + d["l"]]

    def str_blob(self, name: str) -> Optional[bytes]:
        """Raw blob of a non-nullable string column, for the
        dictionary-only kernels in `strings` (None otherwise)."""
        d = self._cols.get(name)
        if d is None or d["k"] != K_STR or d.get("z"):
            return None
        return self._blob(d)

    def column(self, name: str, arrow_type,
               idxs: Optional[np.ndarray] = None) -> "pa.Array":
        """Column ``name`` as ``arrow_type``: every row, or only the
        rows at ``idxs`` (value-level fetch where the codec has one)."""
        import pyarrow as pa

        d = self._cols.get(name)
        if d is None:
            return pa.nulls(self.n if idxs is None else len(idxs),
                            type=arrow_type)
        got = self._codes.get(name)
        if isinstance(got, pa.Array):
            return (got if idxs is None
                    else got.take(pa.array(idxs, type=pa.int64()))) \
                .cast(arrow_type)
        if idxs is None:
            return _decode_column(self._blob(d), d["k"], self.n,
                                  arrow_type, nullable=bool(d.get("z")))
        return _column_at_indices(self._blob(d), d["k"], self.n,
                                  arrow_type, bool(d.get("z")), idxs, got)

    def codes(self, name: str) -> Optional["pa.Array"]:
        """Column ``name`` in its comparison domain, for kernels that
        filter and reduce a block themselves: int64 codec values for
        integer-domain kinds (epoch-micros for ts, days for date,
        unscaled ints for dec(p,s)), UTF-8 bytes for strings, float64
        for floats. None when the block predates the column."""
        import pyarrow as pa

        d = self._cols.get(name)
        if d is None:
            return None
        if d["k"] == K_BIN or d["k"].startswith("arr("):
            raise ValueError(f"{d['k']} column {name!r} is not comparable")
        if d["k"] in (K_STR, K_F64, K_F32):
            if name not in self._codes:
                self._codes[name] = self.column(
                    name, pa.binary() if d["k"] == K_STR else pa.float64())
            return self._codes[name]
        blob, valid = self._blob(d), None
        if d.get("z"):
            valid, blob = _split_validity(blob, self.n)
        ints = ic.decode_block(blob, self.n, width=_INT_WIDTHS.get(d["k"], 8))
        if valid is None:
            self._codes[name] = ints
        return pa.array(ints, mask=None if valid is None else ~valid)

    def validity(self, name: str) -> Optional["pa.Array"]:
        """Column ``name``'s nulls alone, from its validity bitmap with
        no decode (so of any kind, bin and array too): a bool array,
        null where the column is. None when the block predates it."""
        import pyarrow as pa

        d = self._cols.get(name)
        if d is None:
            return None
        valid = _split_validity(self._blob(d), self.n)[0] if d.get("z") \
            else np.ones(self.n, dtype=bool)
        return pa.array(valid, mask=~valid)

    def select(self, preds: list[tuple]) -> np.ndarray:
        """Positions of the rows that pass the row tests
        (:attr:`_KeyPred.raw`) of every ``(col, _KeyPred)`` of
        ``preds``: the one row evaluator. Each column is read once
        (:meth:`codes`, or :meth:`validity` for null tests alone),
        none once no row is left; an IN on a non-nullable dictionary-
        or RLE-coded string column matches the dictionary
        (`strings.str_block_eq_indices`) without decoding the rows; a
        column the block predates is all NULL."""
        keep = np.ones(self.n, dtype=bool)
        for col, pred in preds:
            if not keep.any():
                break
            tests = list(pred.raw)
            kb = self.str_blob(col) if any(op == "in" for op, _ in tests) \
                else None
            if kb is not None and kb[0] in (sc.DICT_STR, sc.RLE_STR):
                for vs in (v for op, v in tests if op == "in"):
                    hit = sc.str_block_eq_indices(kb, self.n, vs, vs.arrow)
                    keep &= np.bincount(hit, minlength=self.n) > 0
                tests = [(op, v) for op, v in tests if op != "in"]
            if not tests:
                continue
            nulls_only = all(op in ("isnull", "notnull") for op, _ in tests)
            vals = self.validity(col) if nulls_only else self.codes(col)
            if vals is None:  # the block predates col: every row is NULL
                if pred.rejects_null:
                    keep[:] = False
                continue
            for op, v in tests:
                keep &= _row_test(vals, op, v)
        return np.flatnonzero(keep)

    def batch(self, schema: "pa.Schema",
              idxs: Optional[np.ndarray] = None,
              passthrough: Optional[dict] = None) -> "pa.RecordBatch":
        """The block's rows (or the rows at the ascending positions
        ``idxs``, a plain decode when that is every row) as ``schema``;
        fields named in ``passthrough`` are BLOCK-level values
        replicated onto every row instead of decoded columns."""
        import pyarrow as pa

        if idxs is not None and len(idxs) == self.n:
            idxs = None
        m = self.n if idxs is None else len(idxs)
        cols = [pa.repeat(passthrough[f.name], m).cast(f.type)
                if passthrough and f.name in passthrough
                else self.column(f.name, f.type, idxs)
                for f in schema]
        return pa.RecordBatch.from_arrays(cols, schema=schema)


def _row_test(vals: "pa.Array", op: str, v) -> np.ndarray:
    """Row mask of one row test ``(op, v)`` of a :attr:`_KeyPred.raw`
    on a column read by :meth:`_BlockReader.codes`, ``v`` in that
    column's domain (a string compared by its UTF-8 bytes; an
    :class:`_InSet` for IN and NOT IN). A null row passes only IS NULL
    and NOT(col <=> v): every other test is NULL on it under SQL's
    ternary logic, which rejects the row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    pos = {"neq": "in", "nsw": "sw", "new": "ew", "nct": "ct"}.get(op, op)
    if op == "isnull":
        m = vals.is_null()
    elif op == "notnull":
        m = vals.is_valid()
    elif op == "nseq":  # NOT(col <=> v) for a non-null v
        m = pc.invert(pc.fill_null(
            pc.equal(vals, pa.scalar(v[0], vals.type)), False))
    elif pos == "in":
        m = pa.array(sc.in_set(vals, v, v.arrow))
    elif pos == "tok":  # grep -w: v is one [0-9A-Za-z_]+ word
        m = pc.match_substring_regex(
            vals, pattern=f"(^|{_TOKEN_SPLIT_RE}){v}({_TOKEN_SPLIT_RE}|$)")
    elif pos in ("sw", "ew", "ct"):
        m = {"sw": pc.starts_with, "ew": pc.ends_with,
             "ct": pc.match_substring}[pos](vals, pattern=v)
    else:
        m = {"<": pc.less, "<=": pc.less_equal, ">": pc.greater,
             ">=": pc.greater_equal}[op](
            vals, pa.scalar(v) if isinstance(v, float)
            else pa.scalar(v, vals.type))
    if pos != op:  # NOT IN and the NOT string tests
        m = pc.invert(m)
    if op not in ("isnull", "nseq") and vals.null_count:
        m = pc.and_kleene(m, vals.is_valid())
    return m.to_numpy(zero_copy_only=False)


def _read_blocks(batch) -> Iterator[_BlockReader]:
    """A reader per row of a blocks batch (``desc``/``payload``/``n``)."""
    descs = batch.column("desc").to_pylist()
    payloads = batch.column("payload")
    ns = batch.column("n").to_pylist()
    for i in range(batch.num_rows):
        yield _BlockReader(descs[i], payloads[i], ns[i])


def make_decode_fn(arrow_schema_bytes: bytes):
    """mapInArrow kernel: each encoded block row expands to its rows.
    No shuffle — blocks decode independently (SURVEY.md §3.2). The
    target arrow schema (incl. Spark's timestamp tz convention) is
    serialized on the driver and rebuilt in the worker.

    Projection pushdown: the kernel decodes ONLY the columns named in
    the target schema — each column's blob is located by its (offset,
    length) in the block descriptor, so unrequested columns' bytes are
    never touched (the block-format analogue of parquet column
    pruning)."""

    def decode_blocks(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        out_schema = pa.ipc.read_schema(pa.py_buffer(arrow_schema_bytes))
        for batch in batches:
            for blk in _read_blocks(batch):
                yield blk.batch(out_schema)

    return decode_blocks


# ---------------------------------------------------------------------------
# Jobs
# ---------------------------------------------------------------------------

def with_bucket(df: DataFrame, conv_col: str, order_col: Optional[str],
                n_buckets: int, chunk_rows: int) -> DataFrame:
    """Salted bucket id: xxhash64(conv_id, turn_idx // chunk) % buckets.
    Defuses long-conversation skew while keeping chunk_rows-sized runs
    contiguous for run-length-friendly codecs (SURVEY.md §7 step 5)."""
    if order_col is not None:
        salt = (F.col(order_col).cast("long") / F.lit(chunk_rows)).cast("long")
        h = F.xxhash64(F.col(conv_col), salt)
    else:
        h = F.xxhash64(F.col(conv_col))
    return df.withColumn("_bucket", F.pmod(h, F.lit(n_buckets)).cast("int"))


def encode_df(df: DataFrame, key_cols: list[str], n_buckets: int = 32,
              block_rows: int = 65536, chunk_rows: int = 8192,
              text_cols: Optional[list[str]] = None,
              bucket_filter: Optional[list[int]] = None,
              bloom_cols: Optional[list[str]] = None,
              token_bloom_cols: Optional[list[str]] = None,
              sketch_cols: Optional[list[str]] = None) -> DataFrame:
    """Encode a DataFrame into the blocks table. Lazy — returns the
    blocks DataFrame; callers write/aggregate it. ``token_bloom_cols``
    names string columns that additionally store a per-block Bloom
    over their distinct WORD TOKENS (:func:`grep_where` prunes on it —
    full-text block skipping for needle-in-100TB searches).
    ``sketch_cols`` names columns that store per-block HLL (+ quantile
    summaries for int-domain kinds) powering :func:`approx_distinct`
    and :func:`approx_quantile` at metadata speed."""
    kinds = column_kinds(df.schema)
    conv_col = key_cols[0]
    order_col = key_cols[1] if len(key_cols) > 1 else None
    text_cols = frozenset(text_cols or [])
    df = with_bucket(df, conv_col, order_col, n_buckets, chunk_rows)
    if bucket_filter is not None:
        df = df.filter(F.col("_bucket").isin([int(b) for b in bucket_filter]))
    fn = make_encode_fn(kinds, key_cols, block_rows, text_cols,
                        frozenset(bloom_cols or []),
                        frozenset(token_bloom_cols or []),
                        frozenset(sketch_cols or []))
    # One shuffle (repartition by bucket) + in-partition sort; the encode
    # kernel then streams Arrow batches with O(block_rows) memory.
    df = (df.repartition(n_buckets, F.col("_bucket"))
            .sortWithinPartitions("_bucket", *key_cols))
    return df.mapInArrow(fn, schema=BLOCK_SCHEMA)


# --- Z-order clustering ----------------------------------------------------
# Morton bit-interleave magic numbers (public-domain bit trick, e.g.
# "Bit Twiddling Hacks" / Morton-code interleaving): spread the low k
# bits of a value so co-sorted columns share locality. 2 columns get 31
# bits each (62-bit z, sign bit clear), 3 columns get 21 bits each.
_MORTON2 = ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
            (1, 0x5555555555555555))
_MORTON3 = ((32, 0x1F00000000FFFF), (16, 0x1F0000FF0000FF),
            (8, 0x100F00F00F00F00F), (4, 0x10C30C30C30C30C3),
            (2, 0x1249249249249249))


def _morton_spread_expr(u, magic):
    for sh, mask in magic:
        u = (u.bitwiseOR(F.shiftleft(u, sh))).bitwiseAND(F.lit(mask))
    return u


def morton_np(cols: list[np.ndarray], bits: int) -> np.ndarray:
    """Numpy reference Morton code (tests / kernel-side use): interleave
    the low ``bits`` bits of each uint64 column, column 0 in the lowest
    lane. Mirrors :func:`_morton_spread_expr` exactly."""
    magic = _MORTON2 if len(cols) == 2 else _MORTON3
    z = np.zeros(len(cols[0]), dtype=np.uint64)
    for i, c in enumerate(cols):
        u = np.asarray(c, dtype=np.uint64) & np.uint64((1 << bits) - 1)
        for sh, mask in magic:
            u = (u | (u << np.uint64(sh))) & np.uint64(mask)
        z |= u << np.uint64(i)
    return z


def _zorder_domain_expr(df: DataFrame, c: str, skip: int = 0):
    """Long-domain expression of a z column. Integer-domain columns
    cast; STRING columns map to the big-endian value of the 7 UTF-8
    bytes after ``skip`` (hex slice, zero-padded on the right, base-16
    conv) — order-preserving under Spark's binary string collation and
    always < 2**56, so the Morton normalization treats it like any
    long. ``skip`` strips the column's common prefix (conv-/user-/URL
    keys share one almost by construction; without the strip the
    window is constant and the column would contribute nothing to the
    interleave). Only the SORT key sees the prefix window; the
    per-block lexicographic (slo, shi) stats that do the pruning
    remain exact full strings."""
    if df.schema[c].dataType.typeName() == "string":
        return F.conv(
            F.rpad(F.hex(F.substring(F.col(c).cast("binary"),
                                     skip + 1, 7)),
                   14, "0"), 16, 10).cast("long")
    return F.col(c).cast("long")


def str_prefix_long(s: str, skip: int = 0) -> int:
    """Python mirror of the string branch of
    :func:`_zorder_domain_expr` (tests / driver-side bound math)."""
    b = s.encode("utf-8")[skip:skip + 7]
    return int.from_bytes(b.ljust(7, b"\0"), "big")


def _lcp_len(a: bytes, b: bytes) -> int:
    i = 0
    while i < min(len(a), len(b)) and a[i] == b[i]:
        i += 1
    return i


def zorder_key(df: DataFrame, zcols: list[str]):
    """Build a Z-order (Morton) sort key over 2 or 3 columns as a pure
    JVM expression (whole-stage codegen; no UDF). Integer-domain
    columns interleave directly; string columns via their 7-byte
    prefix (:func:`_zorder_domain_expr`).

    One columnar min/max aggregation per call normalizes each column to
    a non-negative offset, then ALIGNS every column's most significant
    bit at the per-column bit budget (31 bits for 2 columns, 21 for 3):
    wide ranges shift right (coarser quantization), narrow ranges shift
    left. Without the alignment a narrow column (say an 11-value enum
    against a 17-bit measure) contributes nothing to the high z bits
    and the interleave degenerates to a single-column sort. The shifts
    only coarsen the SORT key, never the per-block (lo, hi) stats that
    do the actual pruning, so correctness is unaffected.

    Why: the reference container prunes only on its sort key
    (`integer_array.h:71-136`); this engine already stores min/max for
    every column, but a single-key layout leaves secondary-column stats
    spanning the whole domain. Z-ordering makes the stored stats of ALL
    interleaved columns selective at once — the standard lakehouse
    answer (Delta/Iceberg OPTIMIZE ZORDER) re-expressed over this
    engine's block descriptors.
    """
    if len(zcols) not in (2, 3):
        raise ValueError("zorder_key supports 2 or 3 columns")
    bits = 31 if len(zcols) == 2 else 21
    magic = _MORTON2 if len(zcols) == 2 else _MORTON3
    is_str = {c: df.schema[c].dataType.typeName() == "string"
              for c in zcols}
    aggs = []
    for c in zcols:
        # string columns aggregate the RAW min/max value: the common
        # prefix and the window bounds both derive from them driver-
        # side (min of the prefix long == prefix long of the min
        # string — the mapping is order-preserving)
        col = F.col(c) if is_str[c] else F.col(c).cast("long")
        aggs += [F.min(col).alias(f"mn_{c}"), F.max(col).alias(f"mx_{c}")]
    row = df.agg(*aggs).collect()[0]  # bounded: one row of scalars
    z = F.lit(0).cast("long")
    for i, c in enumerate(zcols):
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        if mn is None:  # empty input: any constant key works
            return F.lit(0).cast("long")
        if is_str[c]:
            lcp = _lcp_len(mn.encode("utf-8"), mx.encode("utf-8"))
            dom_c = _zorder_domain_expr(df, c, skip=lcp)
            mn = str_prefix_long(mn, skip=lcp)
            mx = str_prefix_long(mx, skip=lcp)
        else:
            dom_c = _zorder_domain_expr(df, c)
        shift = int(mx - mn).bit_length() - bits
        u = dom_c - F.lit(int(mn))
        if shift > 0:
            u = F.shiftright(u, shift)
        elif shift < 0:
            u = F.shiftleft(u, -shift)
        z = z.bitwiseOR(F.shiftleft(_morton_spread_expr(u, magic), i))
    return z


def encode_df_zorder(df: DataFrame, zcols: list[str],
                     key_cols: Optional[list[str]] = None,
                     n_buckets: int = 32, block_rows: int = 65536,
                     text_cols: Optional[list[str]] = None,
                     bloom_cols: Optional[list[str]] = None,
                     token_bloom_cols: Optional[list[str]] = None,
                     sketch_cols: Optional[list[str]] = None
                     ) -> DataFrame:
    """:func:`encode_df` with Z-order clustering instead of key sorting.

    Rows are range-partitioned and sorted by the Morton interleave of
    ``zcols``, so each block covers a small hyper-rectangle of the
    z-column space and the per-column (lo, hi) descriptor stats —
    already written for every column — prune :func:`scan_where` /
    :func:`count_where` predicates on ANY of the z columns, not just
    the lead key. Same single shuffle as :func:`encode_df`
    (repartitionByRange samples boundaries, so bucket sizes stay
    balanced under skew); decode and every query operator are unchanged
    — clustering is purely a layout choice recorded in the data.

    ``key_cols`` only labels the block key metadata (defaults to
    ``zcols``); lead-key bounds stay scan-true min/max, just wider than
    a key-sorted layout's — lookups stay correct, range pruning on the
    z columns rides the per-column stats instead.
    """
    key_cols = key_cols or zcols
    kinds = column_kinds(df.schema)
    text_cols = frozenset(text_cols or [])
    z = zorder_key(df, zcols)
    fn = make_encode_fn(kinds, key_cols, block_rows, text_cols,
                        frozenset(bloom_cols or []),
                        frozenset(token_bloom_cols or []),
                        frozenset(sketch_cols or []))
    df = (df.repartitionByRange(n_buckets, z)
            .withColumn("_bucket", F.spark_partition_id())
            .sortWithinPartitions(z, *key_cols))
    return df.mapInArrow(fn, schema=BLOCK_SCHEMA)


def arrow_column_kinds(schema: "pa.Schema") -> list[tuple[str, str]]:
    """column_kinds for a pyarrow (parquet footer) schema."""
    import pyarrow as pa

    out = []
    for field in schema:
        if field.name.startswith("_"):
            continue
        t = field.type
        if pa.types.is_int32(t):
            out.append((field.name, K_I32))
        elif pa.types.is_int64(t):
            out.append((field.name, K_I64))
        elif pa.types.is_float64(t):
            out.append((field.name, K_F64))
        elif pa.types.is_timestamp(t):
            out.append((field.name, K_TS))
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            out.append((field.name, K_STR))
        elif pa.types.is_boolean(t):
            out.append((field.name, K_BOOL))
        elif pa.types.is_int8(t):
            out.append((field.name, K_I8))
        elif pa.types.is_int16(t):
            out.append((field.name, K_I16))
        elif pa.types.is_date32(t):
            out.append((field.name, K_DATE))
        elif pa.types.is_float32(t):
            out.append((field.name, K_F32))
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            out.append((field.name, K_BIN))
        elif pa.types.is_decimal(t):
            if t.precision > 18:
                raise ValueError(
                    f"decimal column {field.name}: precision "
                    f"{t.precision} > 18 (unscaled exceeds int64)")
            out.append((field.name, f"dec({t.precision},{t.scale})"))
        elif (pa.types.is_list(t) or pa.types.is_large_list(t)) and (
                pa.types.is_float32(t.value_type)
                or pa.types.is_float64(t.value_type)):
            w = 32 if pa.types.is_float32(t.value_type) else 64
            out.append((field.name, f"arr(f{w})"))
        else:
            raise ValueError(f"unsupported column type {field.name}: {t}")
    return out


def _encode_files(spark, rows: list[tuple[str, int]], tasks: int,
                  kinds, key_cols, block_rows, text_cols, bloom_cols,
                  sketch_cols) -> DataFrame:
    """Encode the parquet files named by ``rows``, a list of (path,
    bucket) pairs (one bucket each), in ``tasks`` map-only tasks.

    Each task PULLS its input: its rows are ``id`` ordinals into
    ``rows``, and the worker reads those files directly via pyarrow's
    C++ reader. The bulk bytes never cross the JVM<->Python pipe — only
    ordinals go in and compressed blocks come out. (On a host where the
    pipe layer collapses under concurrency this matters most; on a real
    cluster it is still the cheaper path: arrow IPC serialization is
    skipped and the columnar decode happens where the data is
    consumed.)

    The plan is a bare spark.range of file ORDINALS (contiguous slices
    per task); the (path, bucket) list rides the UDF closure. Two
    rejected alternatives, both measured against a same-structure
    no-op job at 8 pinned cores: sc.parallelize(rows) puts a pickled
    python RDD under the scan, so every task runs a SECOND python
    worker before the encode runner (~2x the fixed per-task cost); a
    Catalyst literal-array plan (element_at over F.array of 256 F.lit
    paths) costs ~0.3 s of driver-serial analyze/codegen plus ~0.4 s
    per-job literal evaluation — pure Amdahl serial terms that cap the
    pinned 2-vs-8-core scaling ratio (BENCH/BASELINE.md). The closure
    is O(#files) bytes inside the once-per-stage broadcast task binary
    (~60 B/file: 10^5 files ~ 6 MB — fine at cluster scale)."""
    inner = make_encode_fn(kinds, key_cols, block_rows,
                           frozenset(text_cols or []),
                           frozenset(bloom_cols or []), frozenset(),
                           frozenset(sketch_cols or []))

    def encode_files(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        def row_batches():
            for task in batches:
                for i in task.column("id").to_pylist():
                    path, bucket = rows[i]
                    pf = pq.ParquetFile(path)
                    for rb in pf.iter_batches(batch_size=16384):
                        bcol = pa.array(
                            np.full(rb.num_rows, bucket, dtype=np.int32))
                        yield pa.RecordBatch.from_arrays(
                            list(rb.columns) + [bcol],
                            names=list(rb.schema.names) + ["_bucket"])
        yield from inner(row_batches())

    return spark.range(0, len(rows), 1, numPartitions=tasks) \
        .mapInArrow(encode_files, schema=BLOCK_SCHEMA)


def encode_parquet_maponly(spark, source: str, key_cols: list[str],
                           block_rows: int = 65536,
                           text_cols: Optional[list[str]] = None,
                           file_filter=None,
                           tasks: Optional[int] = None,
                           bloom_cols: Optional[list[str]] = None,
                           sketch_cols: Optional[list[str]] = None
                           ) -> DataFrame:
    """Shuffle-free (map-only) encode for conv-clustered input.

    An Iceberg transcript table is normally written clustered by
    conv_id (ingest appends whole conversations; compaction sorts by
    the natural key), so the expensive salted shuffle in
    ``encode_df``/``encode_df_staged`` buys nothing: every file already
    holds contiguous runs of conversations in turn order. This path
    maps each source parquet file straight to encoded blocks — one
    narrow stage, no wide exchange anywhere, which is the plan that
    survives a 100 TB scale-up (encode cost grows linearly with data;
    shuffle cost would grow super-linearly with cluster pressure).

    Correctness does not depend on clustering: blocks are
    self-contained and the round-trip invariant is equality under
    stable (conv_id, turn_idx) ordering, which a decode + sort always
    restores. Un-clustered input merely compresses worse; for that
    case use ``encode_df_staged`` (explicit salted repartition,
    SURVEY.md §7 step 5).

    Skew: a single huge conversation or file does not pin one task
    beyond its own bytes — the kernel cuts ``block_rows`` blocks while
    streaming, O(block_rows) memory; file-level parallelism is the
    same unit Spark's own scan uses. ``bucket`` in the output is the
    file ordinal (lineage: which source file produced the block).
    """
    import glob

    files = sorted(glob.glob(os.path.join(source, "*.parquet"))) \
        if os.path.isdir(source) else [source]
    if not files:
        raise ValueError(f"no parquet files under {source}")
    import pyarrow.parquet as pq
    kinds = arrow_column_kinds(pq.read_schema(files[0]))
    # bucket id = ordinal in the FULL sorted listing, so a resume
    # filter never renumbers buckets (manifest rows stay valid)
    rows = [(f, i) for i, f in enumerate(files)
            if file_filter is None or file_filter(f)]
    if not rows:
        raise ValueError("file_filter excluded every input file")
    # Deterministic contiguous file->task grouping via spark.range
    # slices (DataFrame repartition(n) is round-robin with a random
    # per-partition offset — it leaves ~1/e of the partitions empty and
    # doubles others, creating stragglers). Task count targets ~4 waves
    # per core slot: a python-runner task costs a fixed setup
    # regardless of size, so one-file-per-task wastes
    # nfiles x latency at small parallelism while too-few tasks lose
    # balance. Output blocks are identical for any grouping (bucket =
    # file ordinal, block_idx scoped per bucket).
    if tasks is None:
        tasks = max(1, min(len(rows),
                           spark.sparkContext.defaultParallelism * 4))
    return _encode_files(spark, rows, tasks, kinds, key_cols, block_rows,
                         text_cols, bloom_cols, sketch_cols)


def encode_df_staged(df: DataFrame, key_cols: list[str], staging_dir: str,
                     n_buckets: int = 32, block_rows: int = 65536,
                     chunk_rows: int = 8192,
                     text_cols: Optional[list[str]] = None,
                     bucket_filter: Optional[list[int]] = None,
                     bloom_cols: Optional[list[str]] = None,
                     sketch_cols: Optional[list[str]] = None) -> DataFrame:
    """Two-phase encode: (1) JVM-only shuffle+sort materialized to a
    staging parquet directory laid out ``_bucket=<k>/`` (exactly one
    sorted file per bucket — no hash-collision skew); (2) python
    workers read staged files directly (no bulk pipe transfer) and emit
    compressed blocks.

    Phase boundaries also make the shuffle restartable for free: the
    staging directory is a reusable artifact of the expensive wide op.
    """
    import glob
    import re

    spark = df.sparkSession
    kinds = column_kinds(df.schema)
    conv_col = key_cols[0]
    order_col = key_cols[1] if len(key_cols) > 1 else None
    # micros on disk so pyarrow reads timestamp[us] (INT96/nanos would
    # silently change the int64 scale the ts codec round-trips through)
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    staged = with_bucket(df, conv_col, order_col, n_buckets, chunk_rows)
    if bucket_filter is not None:
        staged = staged.filter(
            F.col("_bucket").isin([int(b) for b in bucket_filter]))
    # Sort MUST lead with _bucket: FileFormatWriter requires output
    # ordered by the partition columns and would otherwise insert its
    # own (non-stable) sort on _bucket, scrambling the key order inside
    # each bucket file.
    (staged.repartition(n_buckets, F.col("_bucket"))
           .sortWithinPartitions("_bucket", *key_cols)
           .write.mode("overwrite").partitionBy("_bucket")
           .parquet(staging_dir))
    files = sorted(glob.glob(
        os.path.join(staging_dir, "_bucket=*", "part-*.parquet")))
    rows = [(f, int(re.search(r"_bucket=(\d+)", f).group(1)))
            for f in files]
    return _encode_files(spark, rows, max(len(rows), 1), kinds, key_cols,
                         block_rows, text_cols, bloom_cols, sketch_cols)


def decode_df(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              columns: Optional[list[str]] = None) -> DataFrame:
    """Decode the blocks table back to rows. ``columns`` selects a
    projection: only those columns' blobs are decoded (located by the
    descriptor offsets — the rest of each payload is never touched),
    so a 2-column read of a 50-column table pays for 2 columns."""
    out_schema, fn = _decoder(schema_kinds, columns)
    return blocks.mapInArrow(fn, schema=out_schema)


def _decoder(schema_kinds: list[tuple[str, str]],
             columns: Optional[list[str]] = None):
    """:func:`decode_df`'s output schema and :func:`make_decode_fn`
    kernel: the ``columns`` projection, or every column."""
    if columns is not None:
        by_name = dict(schema_kinds)
        schema_kinds = [(c, by_name[c]) for c in columns]
    return _row_schema(schema_kinds), make_decode_fn(
        _schema_bytes(schema_kinds))


def _row_schema(schema_kinds: list[tuple[str, str]]) -> T.StructType:
    """The Spark schema that rows of ``schema_kinds`` decode to."""
    return T.StructType([T.StructField(n, spark_type_of(k))
                         for n, k in schema_kinds])


def _schema_bytes(schema_kinds: list[tuple[str, str]]) -> bytes:
    """:func:`_row_schema`'s Arrow form (Spark's timestamp time-zone
    convention included), serialized for a worker to rebuild."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(_row_schema(schema_kinds)).serialize().to_pybytes()


def roundtrip_df(df: DataFrame, key_cols: list[str], **kw) -> DataFrame:
    """encode -> decode in one lazy plan (the flagship correctness path:
    decoded output must be bit-identical to the source under the stable
    key ordering — `tests/unit/integer_codec.cc:8-43` generalized to all
    columns per the north rule)."""
    kinds = column_kinds(df.schema)
    return decode_df(encode_df(df, key_cols, **kw), kinds)


def recompact(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              key_cols: list[str], n_buckets: int = 32,
              block_rows: int = 65536,
              text_cols: Optional[list[str]] = None) -> DataFrame:
    """Compaction: decode small blocks (e.g. streaming increments, tiny
    buckets) and re-encode at full block size. The analogue of the
    reference's insert-then-re-encode group maintenance
    (`/root/reference/oroch/integer_array.h:216-245`) for an immutable
    table: instead of rippling values between groups, a periodic batch
    job rewrites a snapshot's small blocks as right-sized ones."""
    dec = decode_df(blocks, schema_kinds)
    return encode_df(dec, key_cols, n_buckets=n_buckets,
                     block_rows=block_rows, text_cols=text_cols)


def checksum_df(df: DataFrame) -> int:
    """Order-insensitive whole-table checksum: sum of per-row xxhash64
    over all columns (no global sort — scales to any size)."""
    cols = [F.col(c) for c in sorted(df.columns)]
    s = (df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
           .agg(F.sum("h").alias("s")).collect()[0]["s"])
    return int(s) if s is not None else 0


def _sql_lit(v) -> str:
    """SQL text of a Python value, safe to splice into an expression
    string: ints as BIGINT (``5L``), strings as the cast of their UTF-8
    bytes (``CAST(X'61' AS STRING)`` — nothing to escape, and Spark
    folds it back to a plain literal, so a predicate on it still pushes
    to the parquet scan), decimals as exact ``BD`` literals.

    Why text: in PySpark 4 every ``Column`` method and ``F.col`` records
    its Python call site (several py4j round trips and a stack walk
    each), so a prune predicate built from a chain of ``Column`` calls
    cost more driver CPU than the metadata it reads. The engine's
    predicates, stats and aggregates are therefore each one SQL string
    handed to ``filter``/``selectExpr``/``F.expr``."""
    if isinstance(v, (bool, np.bool_)):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, np.integer)):
        return f"{int(v)}L"
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(v, _dec.Decimal):
        return f"{v:f}BD"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def _q(name: str) -> str:
    """Backtick-quoted column name."""
    return "`" + name.replace("`", "``") + "`"


_AGG_BAD_KINDS = (K_STR, K_F64, K_F32, K_BIN)


def _check_agg_kind(op: str, kind: str) -> None:
    if kind in _AGG_BAD_KINDS or kind.startswith(("arr(", "bin")):
        raise ValueError(f"{op} aggregates integer-domain columns "
                         f"only, not kind {kind!r}")


# ---------------------------------------------------------------------------
# The Python prune rules and the driver-side block index
# ---------------------------------------------------------------------------

class _InSet(tuple):
    """The distinct values of an IN or NOT IN test (ints or strs),
    ascending, as :func:`_stats_overlap` bisects them and
    ``strings.in_set`` matches a block's rows against them: no block
    sorts the set or hashes a large one whole. Its Arrow form is built
    once where it runs, never pickled."""

    def __new__(cls, values):
        return super().__new__(cls, sorted(set(values)))

    @classmethod
    def distinct(cls, col: "pa.ChunkedArray") -> "_InSet":
        """From a pyarrow column of distinct non-null values."""
        import pyarrow.compute as pc

        return tuple.__new__(cls, col.take(pc.sort_indices(col)).to_pylist())

    def __reduce__(self):
        return _InSet, (tuple(self),)

    @property
    def arrow(self) -> "pa.Array":
        """The values as a pyarrow array: int64, or large_string as a
        string block decodes."""
        import pyarrow as pa

        if "arrow" not in self.__dict__:
            self.__dict__["arrow"] = pa.array(
                self, pa.large_string() if self and isinstance(self[0], str)
                else pa.int64())
        return self.__dict__["arrow"]


@dataclass
class _KeyPred:
    """Predicates on one column: the filters ``format("oroch")``
    accepts, or a builder's range, probe values or row test. The block
    rules read a bounds envelope and an exact IN set (``values``, also
    the equality set, ascending) in the prune domain;
    :meth:`_BlockReader.select` reads the ``raw`` row tests."""
    lo: Optional[object] = None
    hi: Optional[object] = None
    values: Optional[list] = None  # exact set (EqualTo / In), ascending
    neq: Optional[set] = None      # excluded set (Not(EqualTo/In))
    raw: tuple = ()                # (op, literal) row tests, ANDed

    @property
    def wants_null(self) -> bool:
        return any(op == "isnull" for op, _ in self.raw)

    @property
    def wants_notnull(self) -> bool:
        return any(op == "notnull" for op, _ in self.raw)

    @property
    def nullish(self) -> bool:
        """Is it a null test that the null counts can decide: IS NULL,
        or an IS NOT NULL with no values or bounds beside it (a row
        that matches those cannot be null)?"""
        return self.wants_null or (self.wants_notnull and self.values is None
                                   and self.lo is None and self.hi is None)

    @property
    def rejects_null(self) -> bool:
        """Does no null row match it? Every op but IS NULL and NOT(col
        <=> v) is NULL on a null row under SQL ternary logic."""
        return self.values is not None or self.lo is not None \
            or self.hi is not None or bool(self.neq) \
            or any(op not in ("isnull", "nseq") for op, _ in self.raw)

    @property
    def probe(self):
        """A value of its prune domain (a string picks the
        lexicographic bounds), None when it has none."""
        return next((v for v in (*(self.values or ())[:1], self.lo,
                                 self.hi, *(self.neq or ()))
                     if v is not None), None)


def _stats_overlap(stats_lo, stats_hi, pred: _KeyPred) -> bool:
    """Can a container with [stats_lo, stats_hi] bounds hold any row
    matching pred? Missing stats => True (never prune blind)."""
    if stats_lo is None or stats_hi is None:
        return True
    if pred.values is not None:
        j = bisect.bisect_left(pred.values, stats_lo)
        if j == len(pred.values) or pred.values[j] > stats_hi:
            return False
    if pred.lo is not None and stats_hi < pred.lo:
        return False
    if pred.hi is not None and stats_lo > pred.hi:
        return False
    if pred.neq and stats_lo == stats_hi and stats_lo in pred.neq:
        # constant container: equal capped bounds imply lo == hi ==
        # the stored bound exactly (floor(lo) == ceil(hi) squeezes),
        # so every row is an excluded value. NOT(v = x) also rejects
        # nulls, so a block with null rows still holds no match.
        return False
    return True


def _stats_inside(stats_lo, stats_hi, pred: _KeyPred) -> bool:
    """Does every value of a container with [stats_lo, stats_hi]
    bounds match pred's range, so metadata alone answers its
    aggregates? Missing stats => False (decode, never guess)."""
    if stats_lo is None or stats_hi is None or pred.values is not None \
            or pred.neq:
        return False
    return ((pred.lo is None or stats_lo >= pred.lo)
            and (pred.hi is None or stats_hi <= pred.hi))


# The block columns the index holds: all but the payload and the
# per-block accounting. The lead-key rules need all but ``desc`` (a few
# KB per block with Blooms and sketches), which is loaded only on demand.
_INDEX_COLS = ("bucket", "block_idx", "n", "key_lo", "key_hi", "key_slo",
               "key_shi", "desc")
_LEAD_COLS = _INDEX_COLS[:-1]
# A bare scan the index reads from its files has these columns.
_INDEX_NEEDS = frozenset(("bucket", "block_idx", "n", "desc", "payload"))
_INDEX_KEEP = 4  # tables whose index stays cached at once
_indexes: dict = {}  # ((path, ino, mtime_ns, size), ...) -> index


def _scan_files(blocks: DataFrame) -> Optional[list[str]]:
    """Local paths of the files ``blocks`` reads when it is a bare,
    uncached parquet scan of a blocks table with no partition columns
    (``spark.read.parquet(dir)``; extra stored columns are fine) — the
    listing Spark itself would read. None for any other plan,
    schema or file system."""
    from urllib.parse import unquote, urlparse

    types = {f.name: f.dataType for f in BLOCK_SCHEMA.fields}
    schema = blocks.schema
    if not _INDEX_NEEDS <= set(schema.names) or any(
            types.get(f.name, f.dataType) != f.dataType
            for f in schema.fields):
        return None
    try:
        plan = blocks._jdf.queryExecution().withCachedData()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if (rel.getClass().getSimpleName() != "HadoopFsRelation"
                or rel.fileFormat().getClass().getSimpleName()
                != "ParquetFileFormat"
                or rel.partitionSchema().nonEmpty()):
            return None
        uris = [urlparse(u) for u in blocks.inputFiles()]
    except Exception:  # not a classic scan: no file listing
        return None
    if any(u.scheme != "file" for u in uris):
        return None
    return [unquote(u.path) for u in uris]


def _index_table(t: "pa.Table", cols=_INDEX_COLS) -> "pa.Table":
    """``t`` as the index columns ``cols`` in their block types; a
    column ``t`` lacks reads as null, as Spark's read does (legacy
    files have no ``key_slo``/``key_shi``)."""
    import pyarrow as pa

    want = _block_arrow_schema()
    return pa.table({c: t[c].cast(want.field(c).type)
                     if c in t.column_names
                     else pa.nulls(t.num_rows, want.field(c).type)
                     for c in cols})


_BLOCK_COLS = ("n", "desc", "payload")  # what a decode kernel reads


def _read_rows(pf: "pq.ParquetFile", group: int,
               rows: list[int]) -> "pa.Table":
    """The ``n``/``desc``/``payload`` of the blocks at positions ``rows``
    of row group ``group`` of ``pf``: how every planned block is read."""
    return pf.read_row_group(group, columns=list(_BLOCK_COLS)).take(rows)


def _read_index(files: list[str], cols=_INDEX_COLS):
    """The index columns ``cols`` of every file, in order, read with
    pyarrow; and from the same footers, per row group in that order
    its ``(first index row, file, row group, bytes)``, the bytes being
    those of its compressed ``n``/``desc``/``payload`` chunks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts, groups, start = [], [], 0
    for f, path in enumerate(files):
        pf = pq.ParquetFile(path)
        have = set(pf.schema_arrow.names)
        parts.append(_index_table(
            pf.read(columns=[c for c in cols if c in have]), cols))
        meta = pf.metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            groups.append((start, f, g, sum(
                rg.column(j).total_compressed_size
                for j in range(rg.num_columns)
                if rg.column(j).path_in_schema in _BLOCK_COLS)))
            start += rg.num_rows
    return pa.concat_tables(parts), groups


def _stat_key(files: list[str]) -> tuple:
    """Each file's ``(path, st_ino, st_mtime_ns, st_size)``."""
    return tuple((f, st.st_ino, st.st_mtime_ns, st.st_size)
                 for f, st in zip(files, map(os.stat, files)))


def _stable(files: list[str], key: tuple, read):
    """``read()`` of ``files`` when they have the stats ``key`` before
    and after it; None when one changed, so a read never mixes two
    versions of a file with each other or with an index."""
    if _stat_key(files) != key:
        return None
    out = read()
    return out if _stat_key(files) == key else None


def _split_bytes(spark, sizes: list[int]) -> int:
    """Spark's input split size for a scan of files of ``sizes`` bytes
    (``FilePartition.maxSplitBytes``): what one task reads. It is
    ``maxPartitionBytes``, or less on a small scan, which Spark spreads
    over the default parallelism, charging each file
    ``openCostInBytes`` more."""
    js = spark._jsparkSession
    conf = js.sessionState().conf()
    cost = conf.filesOpenCostInBytes()
    par = conf.filesMinPartitionNum()
    par = par.get() if par.isDefined() else js.leafNodeDefaultParallelism()
    return min(conf.filesMaxPartitionBytes(),
               max(cost, sum(size + cost for size in sizes) // par))


def _index_frame(blocks: DataFrame, cols=_INDEX_COLS) -> DataFrame:
    """The index columns ``cols`` that ``blocks`` has: what the collect
    loader reads (parquet column pruning keeps payload bytes on
    disk)."""
    return blocks.select(*[c for c in cols if c in blocks.columns])


# Plan nodes whose rows are the same on every read: stored files, a
# cache and local rows; and the nodes that only pass rows through.
_STORED_LEAVES = frozenset(("LogicalRelation", "DataSourceV2Relation",
                            "InMemoryRelation", "LocalRelation"))
_PASS_NODES = frozenset(("Project", "Filter", "Union", "SubqueryAlias"))


def _stored(blocks: DataFrame) -> bool:
    """Does every read of ``blocks`` yield the same rows? True when its
    plan, with caches substituted, is deterministic and only projects,
    filters, unions or aliases stored files, a cache, local rows or a
    persisted (checkpointed) RDD. An encode is not: the order of rows
    that tie on its key — and so which block holds which of them — is
    the shuffle's fetch and spill-merge order, which may differ per
    read."""
    try:
        plan = blocks._jdf.queryExecution().withCachedData()
        if not plan.deterministic():
            return False
        todo = [plan]
        while todo:
            p = todo.pop()
            name = p.getClass().getSimpleName()
            if name in _PASS_NODES:
                ch = p.children()
                todo += [ch.apply(i) for i in range(ch.size())]
            elif not (name in _STORED_LEAVES or name == "LogicalRDD"
                      and p.rdd().getStorageLevel().isValid()):
                return False
        return True
    except Exception:  # not a classic plan
        return False


def _indexed(blocks: DataFrame,
             desc: bool = True) -> tuple[DataFrame, "_BlockIndex"]:
    """``blocks`` and its index, for a builder that reads ``blocks``
    again after the index has decided which blocks that read keeps and
    which it answers from metadata: both reads must see the same
    blocks. A frame whose every read does (:func:`_stored`) is used as
    is; any other is pinned first by a lazy local checkpoint, which the
    index collect fills and the payload read reuses (so it is computed
    once, not twice)."""
    if not _stored(blocks):
        blocks = blocks.localCheckpoint(eager=False)
    return blocks, _BlockIndex.of(blocks, desc)


class _BlockIndex:
    """The non-payload columns of a blocks frame, held on the driver:
    per block its ``(bucket, block_idx)``, row count ``n``, lead-key
    bounds and parsed descriptor. Oroch keeps a container's group
    descriptors in process and checks them before it touches a payload
    (`integer_array.h:192-208`); every builder and ``format("oroch")``
    do the same here. It decides kept blocks in Python with one
    per-block rule, :meth:`admits`, and interior ones with
    :func:`_stats_inside`; answers metadata-only queries with no Spark
    job, and gives the payload job only the kept blocks (:meth:`narrow`).

    :meth:`of` loads it one of two ways. A bare parquet scan
    (:meth:`scanned`) is read with pyarrow and cached (:meth:`load`,
    which ``format("oroch")`` plans on too), checked on every use
    against each file's ``(st_ino, st_mtime_ns, st_size)`` the way
    ``_zipcache`` checks archives. Any other frame is collected in one
    Spark job and not cached. A builder that reads the payload after
    the index takes both from :func:`_indexed`, which pins a frame
    whose reads may differ.

    A loaded index also knows where each block lives (its file's row
    groups, in order; :meth:`placed`) and each row group's block-column
    bytes, so :meth:`local` can read kept blocks on the driver instead
    of in a Spark job: the one place that decides between the two.

    A ``(bucket, block_idx)`` that repeats (or holds a null) cannot
    single its block out, so the index only ever over-reads it:
    :meth:`narrow` keeps every block that shares a kept id, and
    :meth:`split` answers nothing on the driver."""

    __slots__ = ("n", "ids", "key", "skey", "desc", "_cols", "repeated",
                 "_files", "_stats", "_groups")

    def __init__(self, t: "pa.Table", groups=None, files=None, stats=None):
        self._files, self._stats, self._groups = files, stats, groups
        self.n = t["n"].to_pylist()
        self.ids = list(zip(t["bucket"].to_pylist(),
                            t["block_idx"].to_pylist()))
        self.repeated = len(set(self.ids)) < len(self.ids) \
            or any(None in i for i in self.ids)
        self.key = list(zip(t["key_lo"].to_pylist(),
                            t["key_hi"].to_pylist()))
        self.skey = list(zip(t["key_slo"].to_pylist(),
                             t["key_shi"].to_pylist()))
        self.desc = t["desc"] if "desc" in t.column_names else None
        self._cols = None

    @property
    def cols(self) -> list[dict]:
        """Per block, its parsed descriptor columns by name; parsed on
        first use, so a builder that needs only ids, ``n`` and the
        lead-key bounds never parses one."""
        if self._cols is None:
            self._cols = [{d["n"]: d for d in json.loads(s)["cols"]}
                          for s in self.desc.to_pylist()]
            self.desc = None
        return self._cols

    @classmethod
    def of(cls, blocks: DataFrame, desc: bool = True) -> "_BlockIndex":
        """The index of ``blocks``, as this read of it sees it. Without
        ``desc`` it holds only the ids, ``n`` and lead-key bounds (no
        :attr:`cols`): all the lead-key rules read."""
        ix = cls.scanned(blocks, desc)
        if ix is None:
            cols = _INDEX_COLS if desc else _LEAD_COLS
            ix = cls(_index_table(_index_frame(blocks, cols).toArrow(),
                                  cols))
        return ix

    @classmethod
    def scanned(cls, blocks: DataFrame,
                desc: bool = True) -> Optional["_BlockIndex"]:
        """The cached index of a bare scan (:meth:`load`); None for any
        other frame, or when its files cannot be read here or keep
        changing while they are (Spark reads them then)."""
        files = _scan_files(blocks)
        try:
            return None if files is None else cls.load(files, desc)
        except Exception:  # unreadable here
            return None

    @classmethod
    def load(cls, files: list[str],
             desc: bool = True) -> Optional["_BlockIndex"]:
        """The index of the blocks files ``files``, read with pyarrow
        and cached by their stats; None when they keep changing while
        they are read. Every read — the index, a ``desc`` loaded later
        — is checked against the stats the index is cached by
        (:func:`_stable`); a file rewritten during it is read again,
        never mixed into that index."""
        cols = _INDEX_COLS if desc else _LEAD_COLS
        for _ in range(2):  # a file changed mid-read: read it anew
            key = _stat_key(files)
            ix = _indexes.get(key)
            if ix is None:
                got = _stable(files, key, lambda: _read_index(files, cols))
                if got is None:
                    continue
                ix = cls(*got, files, key)
                while len(_indexes) >= _INDEX_KEEP:
                    del _indexes[next(iter(_indexes))]
                _indexes[key] = ix
            if desc and ix.desc is None and ix._cols is None:
                got = _stable(files, key, lambda: _read_index(
                    files, ("desc",))[0]["desc"])
                if got is None:
                    continue
                ix.desc = got
            return ix
        return None

    def __len__(self) -> int:
        return len(self.n)

    def bounds(self, i: int, probe) -> tuple:
        """Block ``i``'s lead-key bounds in ``probe``'s domain: the
        lexicographic pair for a string, else the int64 pair."""
        return self.skey[i] if isinstance(probe, str) else self.key[i]

    def stats(self, i: int, col: str, probe) -> tuple:
        """Block ``i``'s per-column bounds of ``col`` in ``probe``'s
        domain, (None, None) when it has none."""
        d = self.cols[i].get(col, {})
        return (d.get("slo"), d.get("shi")) if isinstance(probe, str) \
            else (d.get("lo"), d.get("hi"))

    def nulls(self, i: int, col: str) -> Optional[int]:
        """Block ``i``'s exact null count of ``col``: every row when
        the block predates the column, 0 when it is not nullable, else
        the stored ``nc`` (None for a legacy block)."""
        d = self.cols[i].get(col)
        return self.n[i] if d is None else d.get("nc") if d.get("z") else 0

    def bloom(self, i: int, col: str, value, kind: str,
              field: str = "bm") -> bool:
        """May block ``i`` hold ``value`` in ``col`` by its stored Bloom
        ``field`` ("bm" values, "tbm" word tokens)?"""
        return bloom_might_contain(self.cols[i].get(col, {}).get(field),
                                   value, kind)

    def keep(self, test) -> list[int]:
        """Positions of the blocks ``test(i)`` accepts."""
        return [i for i in range(len(self)) if test(i)]

    def admits(self, i: int, col: Optional[str], pred: _KeyPred,
               kind: Optional[str] = None, lead: bool = False) -> bool:
        """May block ``i`` hold a row whose ``col`` matches ``pred``?
        The one per-block prune rule, checked in order: ``col``'s stats,
        or with ``lead`` the lead-key bounds, overlap ``pred``
        (:func:`_stats_overlap`, in ``pred``'s domain); a block whose
        ``col`` is all null (it predates ``col``, say) matches no
        null-rejecting ``pred``, and one with no null no IS NULL — a
        legacy block has no null count and is kept; ``col``'s Bloom
        (of ``kind``) may hold one of ``pred``'s values. A lead-key
        ``pred`` that is no null test reads the bounds alone, so it
        needs no ``desc``."""
        probe = pred.probe
        if not _stats_overlap(*(self.bounds(i, probe) if lead
                                else self.stats(i, col, probe)), pred):
            return False
        if lead and not pred.nullish:
            return True
        nulls = self.nulls(i, col)
        if nulls == self.n[i] and pred.rejects_null \
                or nulls == 0 and pred.wants_null:
            return False
        return not pred.values \
            or any(self.bloom(i, col, v, kind) for v in pred.values)

    def where(self, tests: list[tuple], lead: bool = False) -> list[int]:
        """Positions of the blocks that :meth:`admits` for every
        ``(col, _KeyPred)`` of ``tests`` (:func:`_range_tests`), by
        ``col``'s stats or with ``lead`` by the lead-key bounds."""
        return self.keep(lambda i: all(self.admits(i, c, p, lead=lead)
                                       for c, p in tests))

    def narrow(self, blocks: DataFrame, keep: list[int]) -> DataFrame:
        """``blocks`` cut to the blocks at positions ``keep``, by a
        pushable ``bucket = b AND block_idx IN (...)`` filter built from
        the Python decision (so not a second rule set). A repeated id
        keeps every block that carries it; a null id keeps them all."""
        if len(keep) == len(self) or any(None in self.ids[i] for i in keep):
            return blocks
        by_bucket: dict = {}
        for i in keep:
            b, j = self.ids[i]
            by_bucket.setdefault(b, set()).add(j)
        return blocks.filter(" OR ".join(
            f"(bucket = {int(b)} AND block_idx IN "
            f"({', '.join(map(_sql_lit, sorted(js)))}))"
            for b, js in sorted(by_bucket.items())) or "FALSE")

    def local(self, blocks: DataFrame, keep: list[int],
              take=None) -> Optional[list["pa.RecordBatch"]]:
        """The ``n``/``desc``/``payload`` of the blocks at positions
        ``keep``, read on the driver for a builder to run its kernel
        in-process, with no Spark job. Only a scanned index reads them,
        and only when the row groups that hold them fit in one Spark
        input split: their block-column bytes at most the split size
        Spark would cut this scan into (:func:`_split_bytes`), so the
        driver reads what one task would. Each such row group is read
        and cut to the kept rows by position; ``take``, when given, sees
        each row group's batches as they are read and stops the read by
        returning False. None — take the Spark path — for a collected
        index, a larger read, a stopped one, or files changed since the
        index."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self._groups is None:
            return None
        where = self.placed(keep)
        if sum(size for *_, size in where) > _split_bytes(
                blocks.sparkSession, [st[3] for st in self._stats]):
            return None

        def read():
            out, pfs = [], {}
            for f, g, rows, _ in where:
                if f not in pfs:
                    pfs[f] = pq.ParquetFile(self._files[f])
                got = _read_rows(pfs[f], g, rows).to_batches()
                if take is not None and not take(got):
                    return None
                out += got
            return out

        try:
            return _stable(self._files, self._stats, read)
        except (OSError, pa.ArrowException):  # unreadable here: Spark
            return None  # reads it, or raises the error itself

    def placed(self, keep: list[int]) -> list[tuple]:
        """The blocks at positions ``keep`` of a loaded index by the row
        group that holds them, in file order: per row group its
        ``(file position, row group, the blocks' rows in it, its
        block-column bytes)``."""
        starts = [start for start, *_ in self._groups]
        rows: dict = {}  # row group position -> its kept rows
        for i in keep:
            j = bisect.bisect_right(starts, i) - 1
            rows.setdefault(j, []).append(i - starts[j])
        return [(*self._groups[j][1:3], take, self._groups[j][3])
                for j, take in sorted(rows.items())]

    @classmethod
    def every(cls, blocks: DataFrame) -> Optional[list["pa.RecordBatch"]]:
        """Every block of a bare scan, read on the driver as
        :meth:`local` reads kept ones; None when :meth:`local` does not
        read them. A scan whose files are larger than one input split
        is not even indexed: its block columns are nearly all of its
        bytes, so :meth:`local` would not read them."""
        files = _scan_files(blocks)
        try:
            sizes = [os.stat(f).st_size for f in files or ()]
        except OSError:
            return None
        if files is None \
                or sum(sizes) > _split_bytes(blocks.sparkSession, sizes):
            return None
        ix = cls.scanned(blocks, desc=False)
        return None if ix is None else ix.local(blocks, range(len(ix)))

    def split(self, blocks: DataFrame, keep: list[int], inside, interior,
              tests: list[tuple], agg_col: Optional[str] = None) -> list:
        """Partials ``(_c, _s, _lo, _hi)`` of the blocks at positions
        ``keep``: those ``inside(i)`` accepts from ``interior(i)`` on the
        driver, the boundary rest from :func:`make_partials_fn` under
        the row ``tests`` — on the driver when :meth:`local` reads them,
        else in one job over just those blocks (no shuffle). With
        repeated ids every kept block is boundary, so no block is
        counted twice; a pruned block that rides along with a kept id
        matches no row."""
        parts, boundary = [], []
        for i in keep:
            if not self.repeated and inside(i):
                parts.append(interior(i))
            else:
                boundary.append(i)
        if boundary:
            fn = make_partials_fn(tests, agg_col)
            got = self.local(blocks, boundary)
            if got is None:
                parts += self.narrow(blocks, boundary) \
                    .select(*_BLOCK_COLS).mapInArrow(
                        fn, ", ".join(f"{c} long" for c in _PARTIALS)) \
                    .collect()
            else:
                parts += [row for b in fn(got)
                          for row in zip(*b.to_pydict().values())]
        return parts


def _range_tests(preds: list[tuple]) -> list[tuple]:
    """``(col, lo, hi)`` range predicates as ``(col, _KeyPred)`` tests:
    the bounds :meth:`_BlockIndex.where` prunes by and the ``>=``/``<=``
    row tests :meth:`_BlockReader.select` keeps rows by. A string
    bound stays a string (the lexicographic stats), a float a float (a
    NaN raises), any other becomes an int64."""
    tests = []
    for c, *bounds in preds:
        lo, hi = (v if isinstance(v, str) else float(v)
                  if isinstance(v, (float, np.floating)) else int(v)
                  for v in bounds)
        if lo != lo or hi != hi:
            raise ValueError(f"a range bound on {c!r} is NaN")
        tests.append((c, _KeyPred(lo=lo, hi=hi,
                                  raw=((">=", lo), ("<=", hi)))))
    return tests


# ---------------------------------------------------------------------------
# Latest-wins
# ---------------------------------------------------------------------------
# One resolver for every latest-wins reader (``format("oroch")``'s
# latest mode, ``compact_sink``, ``dml.table_changes``,
# ``incremental.read_latest``): versions of a key are blocks files
# tagged with a batch id, and the newest batch wins — Oroch's one
# insert-then-re-encode rule (`integer_array.h:216-245`) as a read.

_LATEST_RANGES = 32  # lead-key ranges a resolve is cut into, at most


def _planned(file: str, stats: tuple, row_group: int,
             rows: list[int]) -> "pa.Table":
    """The planned blocks of one row group, read only while ``file``
    still has the ``stats`` it was planned on: a file rewritten since
    raises, so no read decodes blocks its plan did not keep."""
    import pyarrow.parquet as pq

    got = _stable([file], (stats,), lambda: _read_rows(
        pq.ParquetFile(file), row_group, rows))
    if got is None:
        raise OSError(f"{file} changed since this read was planned; "
                      "retry the read")
    return got


def latest_plan(pairs: list[tuple[str, int]], key_cols: list[str],
                kind_of: dict, preds: Optional[dict] = None) -> list[tuple]:
    """Plan a latest-wins resolve of the blocks files ``pairs``, each
    ``(file, batch id)`` (a base snapshot's at -1), on their block
    index alone: the lead-key domain is cut at the kept blocks' lows
    into at most :data:`_LATEST_RANGES` ranges, each given every kept
    block whose bounds overlap it, so all versions of a key land in
    one range. The NULL lead key is one key, owned by the first range,
    which also gets every block that may hold it. A block without
    bounds collapses the plan to one range (correct, not parallel).
    ``preds``, by column, are KEY filters: a block they prune holds no
    version of a key they keep; ``desc`` is read for them, or for the
    null counts of several ranges that may read a NULL key. Per range
    ``(lo, hi, items)``: ``lo`` inclusive, ``hi`` exclusive, None when
    open; ``items`` the row groups ``(file, stats, row group, rows,
    batch id)`` to read."""
    if not pairs:
        return []
    files, lead, preds = [f for f, _ in pairs], key_cols[0], preds or {}
    need = any(c != lead or p.nullish for c, p in preds.items())
    nulls = lead not in preds or not preds[lead].rejects_null
    ix = _BlockIndex.load(files, need)
    keep = [] if ix is None else ix.keep(lambda i: all(
        ix.admits(i, c, p, kind_of[c], c == lead) for c, p in preds.items()))
    bounds = [ix.bounds(i, "" if kind_of[lead] == K_STR else 0)
              for i in keep]
    edges = [None, None]
    if len(keep) > 1 and not any(None in b for b in bounds):
        los = sorted(lo for lo, _ in bounds)
        n = min(_LATEST_RANGES, len(keep))
        edges = [None] + sorted({los[len(los) * i // n]
                                 for i in range(1, n)}) + [None]
    if ix is None or len(edges) > 2 and nulls and not need \
            and _BlockIndex.load(files) is not ix:  # the null counts
        raise OSError("the files of a latest-wins read kept changing "
                      "while it was planned; retry it")
    plan = []
    for rlo, rhi in zip(edges, edges[1:]):
        items = [(ix._files[f], ix._stats[f], g, rows, pairs[f][1])
                 for f, g, rows, _ in ix.placed(
                     [i for i, (lo, hi) in zip(keep, bounds)
                      if (rhi is None or lo < rhi)
                      and (rlo is None or hi >= rlo)
                      or rlo is None and nulls
                      and ix.nulls(i, lead) != 0])]
        if items:
            plan.append((rlo, rhi, items))
    return plan


def latest_rows(part: tuple, key_cols: list[str], schema: "pa.Schema",
                preds: tuple = (),
                tombstone: Optional[str] = None) -> "pa.Table":
    """The newest version of every key of one :func:`latest_plan`
    range ``part``, but those whose newest row is a ``tombstone`` (a
    bool column, null for no): per block the rows that the ``(col,
    _KeyPred)`` row tests ``preds`` select and whose lead key is in
    the range (the first also owns NULL), decoded as ``schema`` plus
    the int64 ``_batch_id`` of their file (no table column is named
    ``_``); then one vectorized sort by key and descending batch and
    a group-boundary scan keep each key's first row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lo, hi, items = part
    full = schema.append(pa.field("_batch_id", pa.int64()))
    got = []
    for file, stats, rg, rows, bid in items:
        for blk in _read_blocks(_planned(file, stats, rg, rows)):
            idxs = blk.select(list(preds))
            # lo <= key < hi; a NULL key is never >= v, so only the
            # first range (lo None) keeps it
            for v, inside in ((lo, True), (hi, False)):
                if v is not None and len(idxs):
                    idxs = idxs[_row_test(blk.codes(key_cols[0]), ">=", v)
                                [idxs] == inside]
            if len(idxs):
                got.append(blk.batch(full, idxs,
                                     passthrough={"_batch_id": bid}))
    tbl = pa.Table.from_batches(got, full)
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[
        *((k, "ascending") for k in key_cols), ("_batch_id", "descending")]))
    n = tbl.num_rows
    first = np.zeros(n, dtype=bool)
    first[:1] = True
    for k in key_cols if n > 1 else ():  # row i starts a key group iff
        col = tbl.column(k).combine_chunks()  # any key column differs
        a, b = col.slice(1), col.slice(0, n - 1)
        same = pc.or_(pc.fill_null(pc.equal(a, b), False),
                      pc.and_(pc.is_null(a), pc.is_null(b)))
        first[1:] |= pc.invert(same).to_numpy(zero_copy_only=False)
    tbl = tbl.filter(pa.array(first))
    return tbl if tombstone is None else tbl.filter(pc.invert(
        pc.fill_null(tbl.column(tombstone), False)))


def latest_df(spark, pairs: list[tuple[str, int]],
              schema_kinds: list[tuple[str, str]],
              key_cols: list[str],
              tombstone: Optional[str] = None) -> DataFrame:
    """:func:`latest_rows` of the blocks files ``pairs`` as rows of
    ``schema_kinds`` plus ``_batch_id``: one task per range of their
    :func:`latest_plan`, the plan in the closure of a bare
    ``spark.range`` (as :func:`_encode_files` pulls its files), so the
    plan holds no Exchange."""
    out = _row_schema(schema_kinds).add("_batch_id", T.LongType())
    plan = latest_plan(pairs, key_cols, dict(schema_kinds))
    if not plan:
        return _local_df(spark, out)
    schema_bytes = _schema_bytes(schema_kinds)

    def resolve(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        schema = pa.ipc.read_schema(pa.py_buffer(schema_bytes))
        for task in batches:
            for i in task.column("id").to_pylist():
                yield from latest_rows(plan[i], key_cols, schema,
                                       tombstone=tombstone).to_batches()

    return spark.range(0, len(plan), 1, numPartitions=len(plan)) \
        .mapInArrow(resolve, schema=out)


def _longs(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.LongType()) for n in names])


def _local_df(spark, schema: T.StructType,
              columns: Optional[list[list]] = None) -> DataFrame:
    """A LocalRelation of ``columns`` (python lists, one per field; no
    rows when None). Built from a pyarrow Table: a list or pandas
    ``createDataFrame`` is a Python RDD, whose every read starts Python
    workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    return _arrow_df(spark, schema, [] if columns is None else pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow).to_batches())


def _arrow_df(spark, schema: T.StructType, batches) -> DataFrame:
    """A LocalRelation of ``batches`` in ``schema``'s Arrow form, such
    as a kernel's output."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(pa.Table.from_batches(
        list(batches), to_arrow_schema(schema)), schema)


def _batch_rows(spark) -> int:
    """``spark.sql.execution.arrow.maxRecordsPerBatch``: one batch."""
    return spark._jsparkSession.sessionState().conf().arrowMaxRecordsPerBatch()


def _fold_partials(spark, parts: list[tuple], aggs: bool,
                   name: str = "n_rows") -> DataFrame:
    """One local row from :meth:`_BlockIndex.split` partials: the
    count ``name``, and with ``aggs`` the exact sum, min and max. A sum
    past int64 raises, as Spark's own sum does."""
    n = sum(p[0] or 0 for p in parts)
    if not aggs:
        return _local_df(spark, _longs(name), [[n]])
    s, lo, hi = ([p[j] for p in parts if p[j] is not None]
                 for j in (1, 2, 3))
    s = sum(s) if s else None
    if s is not None and not -(1 << 63) <= s < (1 << 63):
        raise OverflowError("[ARITHMETIC_OVERFLOW] the sum overflows "
                            "BIGINT")
    return _local_df(spark, _longs("n_rows", "sum_v", "min_v", "max_v"),
                     [[n], [s], [min(lo) if lo else None],
                      [max(hi) if hi else None]])


def prune_blocks(blocks: DataFrame, value) -> DataFrame:
    """Zone-map block skip: drop blocks whose key bounds cannot contain
    the key — the analogue of the reference's metadata-pruned ``find``
    answering "not here" without touching the payload
    (`/root/reference/oroch/integer_array.h:71-136`, which prunes for
    any key type T). The block index decides; against a persisted
    blocks table the kept ids are a parquet PushedFilter, so row-group
    stats skip whole groups of blocks before any payload bytes leave
    disk. NULL bounds keep the block."""
    return prune_blocks_in(blocks, [value])


def prune_blocks_range(blocks: DataFrame, lo, hi) -> DataFrame:
    """Range variant of :func:`prune_blocks`: keep blocks whose bounds
    overlap [lo, hi]."""
    blocks, ix = _indexed(blocks, desc=False)
    return ix.narrow(blocks, ix.where(_range_tests([(None, lo, hi)]),
                                      lead=True))


def prune_blocks_in(blocks: DataFrame, values) -> DataFrame:
    """IN-list variant: keep blocks whose bounds can contain ANY probe
    value (the kernel's exact match does the rest)."""
    vals = sorted({v if isinstance(v, str) else int(v) for v in values})
    if not vals:
        return blocks.filter("FALSE")
    blocks, ix = _indexed(blocks, desc=False)
    return ix.narrow(blocks, ix.where([(None, _KeyPred(values=vals))],
                                      lead=True))


def _int64_parts(s: int) -> list[int]:
    """``s`` as int64 addends: one when it fits, else enough that
    Spark's sum over them overflows exactly as it would have over the
    block's rows — an exact partial is never wrapped."""
    parts = []
    while not -(1 << 63) <= s < (1 << 63):
        step = (1 << 63) - 1 if s > 0 else -(1 << 63)
        parts.append(step)
        s -= step
    return [s] + parts


_PARTIALS = ("_c", "_s", "_lo", "_hi")


def make_partials_fn(tests: list[tuple], agg_col: Optional[str]):
    """mapInArrow kernel: one partial row ``(_c, _s, _lo, _hi)`` per
    block. Each block keeps the rows the ``(col, _KeyPred)`` tests
    accept (:meth:`_BlockReader.select`, which decodes only their
    columns), reads ``agg_col`` when a row is kept, and reduces the
    kept rows itself: the row count, and the exact sum, min and max
    of the non-null ``agg_col`` values in the int64 codec domain. Only
    partials cross back to the JVM, never rows. A sum past int64 spills
    into extra ``(0, part, NULL, NULL)`` rows (:func:`_int64_parts`)."""

    def block_partials(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for batch in batches:
            out = {c: [] for c in _PARTIALS}
            for blk in _read_blocks(batch):
                idxs = blk.select(tests)
                c, s, lo, hi = len(idxs), None, None, None
                vals = None if agg_col is None or not c \
                    else blk.codes(agg_col)
                if vals is not None:
                    sel = vals.take(idxs).drop_null().to_numpy()
                    if len(sel):
                        s, lo, hi = (_exact_sum(sel), int(sel.min()),
                                     int(sel.max()))
                parts = [s] if s is None else _int64_parts(s)
                for row in [(c, parts[0], lo, hi),
                            *((0, p, None, None) for p in parts[1:])]:
                    for col, v in zip(_PARTIALS, row):
                        out[col].append(v)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out[c], type=pa.int64()) for c in _PARTIALS],
                names=list(_PARTIALS))

    return block_partials


def _index_split(blocks: DataFrame, preds: list[tuple],
                 agg_col: Optional[str] = None,
                 lead: bool = False) -> DataFrame:
    """COUNT(*) — and with ``agg_col`` that column's exact SUM, MIN and
    MAX in the int64 codec domain — under an AND of ``(col, lo, hi)``
    range predicates, split on the block index: each predicate checked
    against its column's stats (the lead-key bounds with ``lead``). A
    block some predicate excludes is dropped; a block every predicate
    contains, with no null in a predicate column, answers on the driver
    from its row count ``n`` and, with ``agg_col``, that column's
    stored ``(s, lo, hi)`` (without them it is a boundary block); the
    boundary rest reduce in one job. One local row: ``n_rows`` (+
    ``sum_v, min_v, max_v``)."""
    blocks, ix = _indexed(blocks)
    tests = _range_tests(preds)

    def agg(i):
        d = ix.cols[i].get(agg_col, {})
        return d.get("s"), d.get("lo"), d.get("hi")

    parts = ix.split(
        blocks, ix.where(tests, lead),
        lambda i: all(_stats_inside(*(ix.bounds(i, p.lo) if lead
                                      else ix.stats(i, c, p.lo)), p)
                      and not ix.cols[i].get(c, {}).get("z")
                      for c, p in tests)
        and (agg_col is None or None not in agg(i)),
        lambda i: (ix.n[i], *agg(i)), tests, agg_col)
    return _fold_partials(blocks.sparkSession, parts, agg_col is not None)


def range_count(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                key_col: str, lo, hi) -> DataFrame:
    """COUNT(*) over a key range with aggregate pushdown to block
    metadata: blocks fully inside [lo, hi] contribute their stored row
    count ``n`` without ANY payload decode; only boundary blocks
    (range straddles the block bounds, or bounds are unknown) decode —
    and then only the key column. For a wide range over a big table,
    almost every surviving block is interior, so the count is answered
    from the block index alone."""
    return _index_split(blocks, [(key_col, lo, hi)], lead=True)


def range_agg(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              key_col: str, lo, hi, agg_col: str) -> DataFrame:
    """SUM/MIN/MAX/COUNT of ``agg_col`` over a key range with aggregate
    pushdown to block metadata — the zone-map design extended from
    :func:`range_count` to value aggregates. Blocks PROVABLY inside
    [lo, hi] answer from the per-column (lo, hi, s) stats stored in the
    descriptor at encode time — no payload decode at all; boundary
    blocks (or blocks whose stats are absent: nullable column, legacy
    table, out-of-long sum) decode only (key_col, agg_col). One row
    out: (n_rows, sum_v, min_v, max_v), all in the int64 codec domain.
    At 100 TB a wide range is almost all interior blocks, so the answer
    comes from the block index with one job over the few boundary
    blocks."""
    _check_agg_kind("range_agg", dict(schema_kinds)[agg_col])
    return _index_split(blocks, [(key_col, lo, hi)], agg_col, lead=True)


def null_count(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
               col: str) -> DataFrame:
    """COUNT(*) WHERE ``col`` IS NULL, answered from block metadata:
    non-nullable blocks contribute 0, nullable blocks their exact
    stored ``nc`` (the validity bitmap already paid for the popcount
    at encode), and blocks written before the column existed (schema
    evolution) contribute their full row count — all without touching
    a payload byte. Only legacy nullable blocks lacking the stat
    decode, and then only ``col``. One row out: ``n_nulls``."""
    blocks, ix = _indexed(blocks)
    parts = ix.split(
        blocks, list(range(len(ix))), lambda i: ix.nulls(i, col) is not None,
        lambda i: (ix.nulls(i, col), None, None, None),
        [(col, _KeyPred(raw=(("isnull", None),)))])
    return _fold_partials(blocks.sparkSession, parts, False, "n_nulls")


_TABLE_STATS = T.StructType([
    T.StructField("col", T.StringType()), *_longs(
        "n_rows", "n_nulls", "min_long", "max_long").fields,
    T.StructField("min_str", T.StringType()),
    T.StructField("max_str", T.StringType())])


def table_stats(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                columns: Optional[list[str]] = None) -> DataFrame:
    """ANALYZE TABLE from block metadata alone: one row per column with
    the table's row count, exact null count, and global min/max — no
    payload byte is ever read. Integer-domain minima/maxima come from
    the per-block (lo, hi) stats (``min_long/max_long``, int64 codec
    domain: ts = epoch-micros, date = days), string columns from the
    lexicographic (slo, shi) pair (``min_str/max_str``). A NULL result
    means "not derivable from metadata" (some block lacks the stat:
    declared text/payload columns, float/binary/array columns, legacy
    blocks) — the surface never silently falls back to a scan;
    decode-based stats are one ``decode_df`` away if a column needs
    them. Answered on the driver from the block index, as a local
    relation."""
    cols = [n for n, _ in schema_kinds] if columns is None else columns
    ix = _BlockIndex.of(blocks)
    if not len(ix):
        return _local_df(blocks.sparkSession, _TABLE_STATS)

    def known(vals, agg):
        return None if None in vals else agg(vals)

    rows = []
    for c in cols:
        ds = [cs.get(c, {}) for cs in ix.cols]
        rows.append((c, sum(ix.n),
                     known([ix.nulls(i, c) for i in range(len(ix))], sum),
                     known([d.get("lo") for d in ds], min),
                     known([d.get("hi") for d in ds], max),
                     known([d.get("slo") for d in ds], min),
                     known([d.get("shi") for d in ds], max)))
    return _local_df(blocks.sparkSession, _TABLE_STATS,
                     [list(v) for v in zip(*rows)] if rows else None)


def _sketches(blocks: DataFrame, col: str, field: str, op: str,
              what: str) -> list[str]:
    """Every block's stored sketch ``field`` of ``col``, from the block
    index; raises at the call if any block lacks it (a silent fallback
    would quietly change the cost class)."""
    found = [cs.get(col, {}).get(field)
             for cs in _BlockIndex.of(blocks).cols]
    if None in found:
        raise ValueError(f"{op}({col!r}): {found.count(None)} blocks carry "
                         f"no {what} — re-encode with sketch_cols=[{col!r}]")
    return found


def approx_distinct(blocks: DataFrame, col: str) -> DataFrame:
    """APPROX COUNT(DISTINCT ``col``) from per-block HLL sketches alone
    (``sketch_cols`` at encode): the registers merge by elementwise max
    on the driver, from the block index, and one fold estimates. No
    payload byte is read. Raises at the call if any block lacks the
    sketch. One row out: ``approx_ndv`` (stderr ~1.04/sqrt(2^_HLL_P) ~
    2.3%)."""
    regs = np.zeros(1 << _HLL_P, dtype=np.uint8)
    for s in _sketches(blocks, col, "hll", "approx_distinct", "HLL sketch"):
        np.maximum(regs, np.frombuffer(base64.b64decode(s), dtype=np.uint8),
                   out=regs)
    return _local_df(blocks.sparkSession, _longs("approx_ndv"),
                     [[_hll_estimate(regs)]])


def approx_quantile(blocks: DataFrame, col: str,
                    qs: list[float], kind: str = "int") -> DataFrame:
    """Approximate percentiles of an int-domain (``kind="int"``) or
    float (``kind="float"``) column from per-block order-statistic
    summaries (``sketch_cols`` at encode): each block stores T+1 exact
    order stats; the driver weighs each by its block's non-null count
    and reads values at the requested cumulative ranks. Rank error is
    bounded by ~N/T (~3% of N at T=64) — no payload byte is read. Rows
    out: (q, value). Raises at the call if any block lacks the sketch;
    all-null/empty input yields NULL values.
    """
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0,1]")
    if kind not in ("int", "float"):
        raise ValueError(f"kind must be 'int' or 'float', not {kind!r}")
    is_f = kind == "float"
    dt, vt = ("<f8", np.float64) if is_f else ("<i8", np.int64)
    pts, wts = [], []
    for s in _sketches(blocks, col, "qsf" if is_f else "qs",
                       "approx_quantile", "quantile sketch"):
        a = np.frombuffer(base64.b64decode(s), dtype=dt)
        if int(a[0]):
            pts.append(a[1:].astype(vt))
            wts.append(np.full(len(a) - 1, int(a[0]) / (len(a) - 1)))
    qarr = [float(q) for q in qs]
    vals = [None] * len(qarr)
    if pts:
        v, w = np.concatenate(pts), np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        v, cw = v[order], np.cumsum(w[order])
        idx = np.minimum(np.searchsorted(cw, np.asarray(qarr) * cw[-1],
                                         side="left"), len(v) - 1)
        vals = v[idx].tolist()
    return _local_df(blocks.sparkSession, T.StructType([
        T.StructField("q", T.DoubleType()),
        T.StructField("value", T.DoubleType() if is_f else T.LongType())]),
        [qarr, vals])


def scan_where(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
               col: str, lo, hi,
               columns: Optional[list[str]] = None) -> DataFrame:
    """Scan with a SECONDARY zone map: filter rows by a range predicate
    on ANY integer-domain column — not just the lead key — skipping
    every block whose stored per-column (lo, hi) stats prove no row can
    match. The reference can only prune on the container's sort key
    (`integer_array.h:71-136`); this engine stores min/max for every
    non-nullable integer-domain column in the block descriptor, so a
    predicate on e.g. ``user_id`` over an ``event_id``-keyed table
    still decodes only candidate blocks. Blocks without stats (nullable
    column, legacy table) are kept — pruning never drops a correct row.
    The block index decides before any payload reaches the Python
    decode kernel.

    String columns prune the same way via the lexicographic
    (slo, shi) per-column bounds (pass string ``lo``/``hi``); declared
    text/payload columns carry no bounds and degrade to a full scan."""
    return scan_where_multi(blocks, schema_kinds, [(col, lo, hi)], columns)


def count_where(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                col: str, lo, hi) -> DataFrame:
    """COUNT(*) under a range predicate on ANY stats-carrying column —
    the :func:`scan_where` analogue of :func:`range_count`. Three-way
    split on the per-column (lo, hi) stats: blocks whose stats prove
    NO row matches are pruned; blocks whose stats prove EVERY row
    matches (col_lo >= lo AND col_hi <= hi) contribute their stored
    row count ``n`` with no payload decode; only straddling blocks
    (or blocks without stats) decode — and just the predicate column.
    On a column correlated with the block order (e.g. ts over an
    event_id-keyed table) a wide predicate is answered almost entirely
    from metadata; on an uncorrelated column it degrades gracefully to
    the scan — never to a wrong answer."""
    return _index_split(blocks, [(col, lo, hi)])


def _prune_where(blocks: DataFrame, preds: list[tuple]) -> DataFrame:
    """``blocks`` cut to the blocks whose per-column stats may hold a
    row matching every ``(col, lo, hi)`` of ``preds``."""
    blocks, ix = _indexed(blocks)
    return ix.narrow(blocks, ix.where(_range_tests(preds)))


def scan_where_multi(blocks: DataFrame,
                     schema_kinds: list[tuple[str, str]],
                     preds: list[tuple],
                     columns: Optional[list[str]] = None) -> DataFrame:
    """:func:`scan_where` for an AND of range predicates
    ``[(col, lo, hi), ...]`` over any mix of integer-domain and string
    columns. A block survives only if EVERY predicate's per-column
    stats overlap, so on a Z-ordered layout (:func:`encode_df_zorder`)
    the skip ratios compound — each z column's stats are selective at
    once, which is the query shape Z-ordering exists for. On a
    single-key layout it degrades to the best single predicate's
    pruning, never to a wrong answer (stat-less blocks are kept).
    Survivors select rows and fetch the output at them (:func:`_scan`)."""
    blocks, ix = _indexed(blocks)
    tests = _range_tests(preds)
    return _scan(blocks, schema_kinds, ix, ix.where(tests), tests, columns)


def count_where_multi(blocks: DataFrame,
                      schema_kinds: list[tuple[str, str]],
                      preds: list[tuple]) -> DataFrame:
    """COUNT(*) under an AND of range predicates — the three-way
    metadata split of :func:`count_where` generalized: blocks every
    predicate fully contains contribute their stored row count with no
    payload decode, blocks any predicate excludes are pruned, and only
    straddlers decode (just the predicate columns). One row out:
    ``n_rows``."""
    return _index_split(blocks, preds)


def bloom_might_contain(bm_b64: Optional[str], value, kind: str) -> bool:
    """Probe of a block's stored Bloom filter: the k double-hash
    positions of ``value`` (same `_bloom_hash_vals` path as the build),
    each taken mod the filter's own size. False proves ``value``
    absent; a missing filter (legacy block, not a bloom column) gives
    True — cannot prune."""
    if not bm_b64:
        return True
    bloom = np.frombuffer(base64.b64decode(bm_b64), dtype=np.uint8)
    m_bits = len(bloom) * 8
    h1 = int(_bloom_hash_vals(value, kind)[0])
    h2 = int(_mix64(np.array([h1], dtype=np.uint64))[0])
    for i in range(_BLOOM_K):
        pos = ((h1 + i * h2) % (1 << 64)) % m_bits
        if not (int(bloom[pos >> 3]) >> (pos & 7)) & 1:
            return False
    return True


def grep_where(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
               col: str, words,
               columns: Optional[list[str]] = None) -> DataFrame:
    """Full-text token search over a string column encoded with
    ``token_bloom_cols``: return the rows whose ``col`` CONTAINS every
    word in ``words`` (a str or list of str — AND semantics), pruning
    every block whose stored token Bloom proves a word absent.

    This is the needle-in-100TB query shape for transcript tables —
    "find the conversations that mention <identifier>" — where zone
    maps are useless (text is unordered) and a scan would decode every
    block. The token Bloom is built over each block's DISTINCT word
    tokens at encode time (:func:`_token_bloom_build`), so an absent
    word skips the block at metadata speed and ~2%-FP probes bound the
    wasted decodes. A word is a maximal ``[0-9A-Za-z_]+`` run — the
    probe must be one (raises otherwise); matching is exact-token
    (``grep -w``), not substring. Blocks without a token Bloom (legacy
    tables, non-token columns) are kept — never a false negative."""
    if isinstance(words, str):
        words = [words]
    if not words:
        raise ValueError("grep_where: need at least one word")
    for w in words:
        if not re.fullmatch("[0-9A-Za-z_]+", w):
            raise ValueError(f"grep_where: probe {w!r} is not a single "
                             "word token ([0-9A-Za-z_]+)")
    blocks, ix = _indexed(blocks)
    keep = ix.keep(lambda i: all(ix.bloom(i, col, w, K_STR, "tbm")
                                 for w in words))
    return _scan(blocks, schema_kinds, ix, keep, [
        (col, _KeyPred(raw=tuple(("tok", w) for w in words)))], columns)


def lookup_where(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                 col: str, value,
                 columns: Optional[list[str]] = None) -> DataFrame:
    """Point lookup on ANY column — not just the lead key — pruned by
    the per-block Bloom filter (:func:`bloom_might_contain`) plus the
    per-column zone stats. This is the missing third leg of the
    pruning stack: zone maps handle the sorted lead key
    (:func:`lookup`) and correlated secondary ranges
    (:func:`scan_where`); Blooms handle equality on high-cardinality
    columns uncorrelated with block order, where every block's
    [lo, hi] spans the domain and zone maps prune nothing. Surviving
    blocks run the lookup KERNEL on the probe column — dictionary-coded
    string blocks match against the dictionary alone, row strings of
    non-matching rows never materialize
    (`strings.str_block_eq_indices`) — and fetch only the requested
    columns at matched indices; when no block survives no job runs.
    ~2% false-positive probes at the default sizing; never a false
    negative."""
    kind = dict(schema_kinds)[col]
    if kind not in (K_STR, K_I8, K_I16, K_I32, K_I64, K_TS, K_DATE,
                    K_BOOL):
        raise ValueError(f"lookup_where: column {col!r} kind {kind!r} "
                         "has no equality-probe domain (use a "
                         "string/integer-domain column)")
    probe = _InSet([str(value) if kind == K_STR else int(value)])
    pred = _KeyPred(values=probe, raw=(("in", probe),))
    blocks, ix = _indexed(blocks)
    return _scan(blocks, schema_kinds, ix,
                 ix.keep(lambda i: ix.admits(i, col, pred, kind)),
                 [(col, pred)], columns)


def _column_at_indices(blob: bytes, kind: str, n: int, arrow_type,
                       nullable: bool, idxs: np.ndarray,
                       ints: Optional[np.ndarray] = None) -> "pa.Array":
    """Values of one encoded column at row indices ``idxs`` — taken from
    its decoded int64 codes ``ints`` when a row test has read them, by
    O(1) value-level ``fetch`` per index for fetchable integer codecs
    (`integers.py` fetch, mirroring `/root/reference/oroch/
    bitpck.h:203-225`), full-decode + take otherwise."""
    import pyarrow as pa

    if kind in (K_I64, K_TS, *_INT_WIDTHS) and not nullable:
        vals = ic.fetch_many(blob, idxs, n, width=_INT_WIDTHS.get(
            kind, 8)) if ints is None else ints[idxs]
        if kind == K_TS:
            return pa.array(vals, type=pa.int64()).cast(arrow_type)
        if kind == K_DATE:
            return pa.array(vals.astype(np.int32),
                            type=pa.int32()).cast(arrow_type)
        if kind == K_BOOL:
            return pa.array(vals.astype(bool), type=arrow_type)
        return pa.array(vals.astype(
            {K_I32: np.int32, K_I8: np.int8, K_I16: np.int16}
            .get(kind, np.int64)), type=arrow_type)
    full = _decode_column(blob, kind, n, arrow_type, nullable=nullable)
    return full.take(pa.array(idxs, type=pa.int64()))


def _selected(batches, tests: list[tuple]) -> Iterator[tuple]:
    """``(reader, row positions)`` of each block of ``batches``: the
    rows that pass the ``(col, _KeyPred)`` row ``tests``
    (:meth:`_BlockReader.select`), maybe none."""
    for batch in batches:
        for blk in _read_blocks(batch):
            yield blk, blk.select(tests)


def make_select_fn(tests: list[tuple], arrow_schema_bytes: bytes):
    """mapInArrow kernel: per block, the rows that pass the row
    ``tests`` (:func:`_selected`) as the output schema, any projection
    of the table: its columns are fetched at just those rows (a plain
    decode when every row passes), and a block without a match decodes
    none. The generic form of the reference's ``find``
    (`integer_array.h:192-208`)."""

    def select_blocks(batches) -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa

        out_schema = pa.ipc.read_schema(pa.py_buffer(arrow_schema_bytes))
        for blk, idxs in _selected(batches, tests):
            if len(idxs):
                yield blk.batch(out_schema, idxs)

    return select_blocks


def _scan(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
          ix: "_BlockIndex", keep: list[int], tests: list[tuple],
          columns: Optional[list[str]] = None) -> DataFrame:
    """The rows of the blocks at positions ``keep`` that pass the row
    ``tests``, as ``columns`` (all when None): an empty local frame if
    nothing is kept; on the driver when :meth:`_BlockIndex.local` reads
    the blocks and at most ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows pass (the one Arrow batch ``createDataFrame`` makes a
    partition of); else :func:`make_select_fn` in one job. The driver
    gives up, before it reads the next row group or fetches a column,
    as soon as the rows passed so far, scaled from the blocks selected
    to all kept rows, are more than that batch: a wide answer costs it
    about a block, not a batch, of selection."""
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = blocks.sparkSession
    by_name = dict(schema_kinds)
    out_schema = T.StructType([
        T.StructField(c, spark_type_of(by_name[c]))
        for c in (by_name if columns is None else columns)])
    if not keep:
        return _local_df(spark, out_schema)
    arrow = to_arrow_schema(out_schema)
    limit, rows = _batch_rows(spark), sum(ix.n[i] for i in keep)
    picks, seen, hit = [], 0, 0

    def take(batches) -> bool:  # False once the answer looks too wide
        nonlocal seen, hit
        for blk, idxs in _selected(batches, tests):
            seen, hit = seen + blk.n, hit + len(idxs)
            if hit * rows > limit * seen:
                return False
            if len(idxs):
                picks.append((blk, idxs))
        return True

    if ix.local(blocks, keep, take) is not None:
        return _arrow_df(spark, out_schema,
                         [blk.batch(arrow, idxs) for blk, idxs in picks])
    fn = make_select_fn(tests, arrow.serialize().to_pybytes())
    return ix.narrow(blocks, keep).mapInArrow(fn, schema=out_schema)


def lookup(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
           key_col: str, value) -> DataFrame:
    """Point lookup against the PERSISTED blocks table (no re-encode):
    metadata pruning first (:func:`prune_blocks`), then the surviving
    blocks decode only the key column and fetch matched rows — the
    full Spark analogue of ``integer_array::find`` / ``at``
    (`/root/reference/oroch/integer_array.h:166-208`). ``value`` may be
    an int (integer-domain keys, incl. ts-as-micros/date-as-days) or a
    str (string keys, pruned lexicographically)."""
    return lookup_in(blocks, schema_kinds, key_col, [value])


def lookup_in(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              key_col: str, values,
              columns: Optional[list[str]] = None) -> DataFrame:
    """Batched IN-list point lookup: the rows of MANY keys, as
    ``columns`` (all when None), in one pass over the blocks table. The
    probe set is sorted once (:class:`_InSet`): the block index keeps
    the blocks whose bounds hold a value, and each kept block decodes
    its key column ONCE and matches the values inside its own min..max
    (a string block its dictionary): O(kept blocks x log keys) to find
    them. Extension beyond the reference's single-value ``find``
    (`integer_array.h:192-208`) — the shape an analyst's batch
    entity-fetch takes at 100 TB."""
    if not isinstance(values, _InSet):  # lookup_join's set is checked
        values = [v if isinstance(v, str) else int(v) for v in values]
        if not values:
            raise ValueError("lookup_in needs at least one probe value")
        if len({type(v) for v in values}) > 1:
            raise ValueError("lookup_in probe values must share one type")
        values = _InSet(values)
    blocks, ix = _indexed(blocks, desc=False)
    tests = [(key_col, _KeyPred(values=values, raw=(("in", values),)))]
    return _scan(blocks, schema_kinds, ix, ix.where(tests, lead=True),
                 tests, columns)


def range_scan(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
               key_col: str, lo, hi,
               columns: Optional[list[str]] = None) -> DataFrame:
    """Key-range scan against the blocks table: zone-map prune to
    overlapping blocks, select the rows in [lo, hi] on the key column
    alone, and fetch the ``columns`` projection (every column when
    None) at them (:func:`_scan`). At scale this reads only the row
    groups whose key ranges overlap — the blocks-table analogue of
    partition pruning + parquet predicate pushdown."""
    blocks, ix = _indexed(blocks, desc=False)
    tests = _range_tests([(key_col, lo, hi)])
    return _scan(blocks, schema_kinds, ix, ix.where(tests, lead=True),
                 tests, columns)


def make_group_count_fn(col: str, arrow_schema_bytes: bytes):
    """mapInArrow kernel behind :func:`group_count`: one (value, count)
    row per distinct value per block. Dictionary/RLE string blocks go
    through ``strings.str_block_value_counts`` (dictionary + code
    stream only — row values never materialize; RLE counts come from
    the run lengths without expanding runs); every other codec decodes
    just ``col`` and groups C++-side via Arrow ``value_counts``."""

    def count_blocks(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = pa.ipc.read_schema(pa.py_buffer(arrow_schema_bytes))
        vtype = out_schema.field(0).type
        for batch in batches:
            for blk in _read_blocks(batch):
                blob = blk.str_blob(col)
                if blob is not None:
                    vals, np_cnts = sc.str_block_value_counts(blob, blk.n)
                    vals = vals.cast(vtype)
                    cnts = pa.array(np_cnts, type=pa.int64())
                else:
                    vc = pc.value_counts(blk.column(col, vtype))
                    vals = vc.field("values")
                    cnts = vc.field("counts").cast(pa.int64())
                yield pa.RecordBatch.from_arrays([vals, cnts],
                                                 schema=out_schema)

    return count_blocks


def _sum_counts(batches, schema: "pa.Schema",
                limit: int) -> Optional["pa.Table"]:
    """The ``(value, n_rows)`` pairs of ``batches`` summed per value
    with Spark's grouping of float keys — ``-0.0`` = ``0.0``, one NaN
    group, one null group — in ``schema``; None as soon as the sums
    pass ``limit`` rows. Pairs are folded whenever more than ``limit``
    are pending, so no more than about ``limit`` rows are held."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = schema.names[0]

    def fold(parts) -> "pa.Table":
        t = pa.Table.from_batches(parts, schema)
        key = t[col]
        if pa.types.is_floating(key.type):
            key = pc.if_else(pc.is_nan(key),
                             pa.scalar(float("nan"), key.type),
                             pc.add(key, pa.scalar(0.0, key.type)))
        sums = t.set_column(0, col, key).group_by(col) \
            .aggregate([("n_rows", "sum")])
        return pa.table([sums[col], sums["n_rows_sum"]], schema=schema)

    parts, pending = [], 0
    for batch in batches:
        parts.append(batch)
        pending += batch.num_rows
        if pending > limit:
            sums = fold(parts)
            if sums.num_rows > limit:
                return None
            parts, pending = sums.to_batches(), sums.num_rows
    return fold(parts)


def group_count(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                col: str) -> DataFrame:
    """GROUP BY ``col`` COUNT(*) with group-by pushdown into the codec:
    each block emits its per-value counts from inside the decode kernel
    (:func:`make_group_count_fn`), so the rows that cross into the JVM
    number O(blocks x per-block cardinality), not O(rows), and for
    dictionary-coded blocks the string payload is never rebuilt. Spark
    partial-aggregates the block-level pairs map-side before the one
    exchange on the (low-cardinality) group key — the standard two-level
    aggregation, with level one already done by the codec. Beyond the
    reference's surface (its container has point/find access only,
    `/root/reference/oroch/integer_array.h:166-208`); the natural
    GROUP BY an analyst runs daily at 100 TB. On a bare scan whose
    files fit one input split (:meth:`_BlockIndex.every`) the kernel
    runs on the driver instead and the counts sum there
    (:func:`_sum_counts`), with no job — when they sum to at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` values, the one
    Arrow batch that ``createDataFrame`` makes a partition of; a frame
    that is not a bare scan gets no index (that would be a job)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    kind = dict(schema_kinds)[col]
    out_schema = T.StructType([T.StructField(col, spark_type_of(kind)),
                               T.StructField("n_rows", T.LongType())])
    arrow_schema = to_arrow_schema(out_schema)
    fn = make_group_count_fn(col, arrow_schema.serialize().to_pybytes())
    spark = blocks.sparkSession
    got = _BlockIndex.every(blocks)
    sums = None if got is None else _sum_counts(fn(got), arrow_schema,
                                                _batch_rows(spark))
    if sums is not None:
        return _arrow_df(spark, out_schema, sums.to_batches())
    return blocks.mapInArrow(fn, schema=out_schema).groupBy(col).agg(
        F.expr("CAST(sum(n_rows) AS BIGINT) AS n_rows"))


def distinct_values(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                    col: str) -> DataFrame:
    """SELECT DISTINCT ``col`` with the same codec pushdown as
    :func:`group_count`, whose values it is: dictionary-coded blocks
    contribute exactly their (referenced) dictionary entries — for a
    dict/RLE-coded column the distinct set streams out of block
    metadata-sized dictionaries and the row payload is never expanded.
    (Spark prunes the unused count away: the plan is a distinct.)"""
    return group_count(blocks, schema_kinds, col).select(col)


def make_group_agg_fn(group_cols: list[str], agg_col: Optional[str],
                      arrow_schema_bytes: bytes):
    """mapInArrow kernel behind :func:`group_agg`: per block, decode
    only the group + aggregate columns (projection into the block
    format) and reduce them C++-side with Arrow's hash group-by — one
    partial row per distinct group per block reaches the JVM."""

    def agg_blocks(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        out_schema = pa.ipc.read_schema(pa.py_buffer(arrow_schema_bytes))
        types = {c: out_schema.field(c).type for c in group_cols}
        if agg_col:
            types.setdefault(agg_col, pa.int64())
        for batch in batches:
            for blk in _read_blocks(batch):
                t = pa.table({c: blk.column(c, ty)
                              for c, ty in types.items()})
                if agg_col:
                    res = t.group_by(group_cols).aggregate(
                        [(agg_col, "sum"), (agg_col, "min"),
                         (agg_col, "max"), ([], "count_all")])
                    arrs = ([res.column(c) for c in group_cols]
                            + [res.column("count_all").cast(pa.int64()),
                               res.column(f"{agg_col}_sum")
                               .cast(pa.int64()),
                               res.column(f"{agg_col}_min")
                               .cast(pa.int64()),
                               res.column(f"{agg_col}_max")
                               .cast(pa.int64())])
                else:
                    res = t.group_by(group_cols).aggregate(
                        [([], "count_all")])
                    arrs = ([res.column(c) for c in group_cols]
                            + [res.column("count_all").cast(pa.int64())])
                yield pa.RecordBatch.from_arrays(
                    [a.combine_chunks() for a in arrs],
                    schema=out_schema)

    return agg_blocks


def group_agg(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              group_cols, agg_col: Optional[str] = None) -> DataFrame:
    """GROUP BY (one or more columns) with COUNT — and, when
    ``agg_col`` is given, SUM/MIN/MAX of an integer-domain column —
    pushed into the decode kernel: each block reduces to one partial
    row per distinct group via Arrow's C++ hash group-by, Spark
    partial-aggregates those map-side, and the single exchange carries
    O(groups), not O(rows). The multi-column, value-aggregating big
    sibling of :func:`group_count` (which keeps the dictionary-only
    shortcut for single string columns). Output: group columns +
    ``n_rows`` (+ ``sum_v/min_v/max_v``), aggregates in the int64
    codec domain like :func:`range_agg`."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(group_cols, str):
        group_cols = [group_cols]
    by_name = dict(schema_kinds)
    if agg_col is not None:
        _check_agg_kind("group_agg", by_name[agg_col])
        if by_name[agg_col].startswith("dec("):
            # the kernel decodes agg values straight into int64; a
            # decimal128 rebuild through that type silently interleaves
            # low/high words — reject instead of aggregating garbage
            # (range_agg/agg_where handle dec via the unscaled domain)
            raise ValueError("group_agg does not aggregate dec(p,s) "
                             "columns; use range_agg/agg_where (the "
                             "unscaled int64 domain) instead")
    fields = [T.StructField(c, spark_type_of(by_name[c]))
              for c in group_cols]
    fields.append(T.StructField("n_rows", T.LongType()))
    if agg_col:
        fields += [T.StructField("sum_v", T.LongType()),
                   T.StructField("min_v", T.LongType()),
                   T.StructField("max_v", T.LongType())]
    out_schema = T.StructType(fields)
    fn = make_group_agg_fn(list(group_cols), agg_col,
                           to_arrow_schema(out_schema)
                           .serialize().to_pybytes())
    partial = blocks.mapInArrow(fn, schema=out_schema)
    aggs = ["CAST(sum(n_rows) AS BIGINT) AS n_rows"]
    if agg_col:
        aggs += ["CAST(sum(sum_v) AS BIGINT) AS sum_v",
                 "CAST(min(min_v) AS BIGINT) AS min_v",
                 "CAST(max(max_v) AS BIGINT) AS max_v"]
    return partial.groupBy(*group_cols).agg(*map(F.expr, aggs))


def agg_where(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
              col: str, lo, hi, agg_col: str) -> DataFrame:
    """SUM/MIN/MAX/COUNT of ``agg_col`` under a range predicate on ANY
    stats-carrying column — :func:`range_agg` (key-range aggregates)
    crossed with :func:`count_where` (secondary-column predicates).
    Blocks whose per-column (lo, hi) stats for the PREDICATE column
    prove every row matches answer from the AGGREGATE column's stored
    (lo, hi, s) stats with no payload decode; blocks whose stats prove
    no row matches are pruned on the block index; only straddling
    blocks (or blocks missing either stat) decode — and only (col,
    agg_col). One row out: (n_rows, sum_v, min_v, max_v) in the int64
    codec domain. On a predicate correlated with block order a wide
    range is almost all interior blocks — answered from the index."""
    _check_agg_kind("agg_where", dict(schema_kinds)[agg_col])
    return _index_split(blocks, [(col, lo, hi)], agg_col)


def lookup_join(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
                key_col: str, keys: DataFrame,
                columns: Optional[list[str]] = None) -> DataFrame:
    """Distributed IN: the rows whose lead key is in the first column
    of a keys DATAFRAME, as ``columns`` (all when None). That column
    must have the key's type: integral for an integer key (any width:
    it compares as int64), else boolean, string, timestamp or date.
    Its distinct non-null keys are read to the driver in the key's
    comparison domain (int64, ts as epoch-micros, date as days, or the
    string) and answered by :func:`lookup_in`, so the blocks table is
    never joined or shuffled. The keys must be an entity list, not a
    second fact table: the driver holds them as Python values, tens of
    bytes a key (33,334 keys is the largest probe measured)."""
    kind, probe = dict(schema_kinds)[key_col], keys.schema.fields[0]
    fits = {K_STR: T.StringType, K_TS: T.TimestampType,
            K_DATE: T.DateType, K_BOOL: T.BooleanType,
            **dict.fromkeys((K_I8, K_I16, K_I32, K_I64), T.IntegralType)}
    if not isinstance(probe.dataType, fits.get(kind, ())):
        raise ValueError(f"lookup_join: a {kind} lead key takes no "
                         f"{probe.dataType.simpleString()} keys column")
    kc = _q(probe.name)
    k_dom = {K_STR: kc, K_TS: f"unix_micros({kc})",
             K_DATE: f"unix_date({kc})"}.get(kind, f"CAST({kc} AS BIGINT)")
    col = keys.selectExpr(f"{k_dom} AS k").distinct().dropna() \
        .toArrow().column(0)
    if not len(col):
        return _scan(blocks, schema_kinds, None, [], [], columns)
    return lookup_in(blocks, schema_kinds, key_col, _InSet.distinct(col),
                     columns)


def _topk_threshold(walk, k: int):
    """The bound at which the ``(bound, n)`` pairs, in walk order,
    first reach ``k`` rows; None when they hold fewer."""
    for b, n in walk:
        k -= n
        if k <= 0:
            return b
    return None


def _topk_keep(ix: "_BlockIndex", k: int, ascending: bool,
               bounds) -> list[int]:
    """Positions of the blocks that can hold one of the top ``k`` rows
    by the block bounds ``bounds(ix, i)``, with the overlap-safe prefix
    rule of :func:`topk_key`: the driver walks the bounded blocks of the
    block index to the threshold where the prefix holds k rows (at most
    k blocks) and keeps the blocks that reach it
    (:func:`_stats_overlap`). Blocks without bounds are always kept and
    never join the prefix; fewer than k rows in bounded blocks keeps
    every block. Ascending mirrors with the bounds swapped."""
    b = [bounds(ix, i) for i in range(len(ix))]
    t = _topk_threshold(sorted(
        ((x[ascending], n) for x, n in zip(b, ix.n)
         if x[ascending] is not None),
        key=lambda p: p[0], reverse=not ascending), k)
    if t is None:
        return list(range(len(ix)))
    # desc: keep B iff it reaches up to t; asc: down to t
    pred = _KeyPred(hi=t) if ascending else _KeyPred(lo=t)
    return [i for i, x in enumerate(b) if _stats_overlap(*x, pred)]


def _topk_rows(batches, schema: "pa.Schema", col: str, k: int,
               ascending: bool) -> "pa.Table":
    """The first ``k`` rows of ``batches`` in Spark's ORDER BY ``col``:
    ASC puts nulls first, DESC puts them last, and NaN sorts above
    every number (pyarrow alone would put NaN next to the nulls). Cut
    back to k rows after every batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    order = "ascending" if ascending else "descending"
    top = schema.empty_table()
    for b in batches:
        t = pa.concat_tables([top, pa.Table.from_batches([b])])
        keys = [(col, order)]
        if pa.types.is_floating(t[col].type):
            t = t.append_column("_nan", pc.fill_null(pc.is_nan(t[col]),
                                                     False))
            keys.insert(0, ("_nan", order))
        idx = pc.sort_indices(t, sort_keys=keys, null_placement=(
            "at_start" if ascending else "at_end"))
        top = t.take(idx[:k]).select(schema.names)
    return top


def _topk(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
          col: str, k: int, ascending: bool, columns: Optional[list[str]],
          bounds, desc: bool = True) -> DataFrame:
    """ORDER BY ``col`` LIMIT ``k`` over the blocks :func:`_topk_keep`
    keeps, decoding ``col`` plus the projection: on the driver, sorted
    by :func:`_topk_rows`, when :meth:`_BlockIndex.local` reads them;
    else into Spark's TakeOrderedAndProject. ``desc`` as in
    :meth:`_BlockIndex.of`."""
    from pyspark.sql.pandas.types import to_arrow_schema

    decode_cols = columns
    if columns is not None and col not in columns:
        decode_cols = [col] + columns
    blocks, ix = _indexed(blocks, desc)
    keep = _topk_keep(ix, k, ascending, bounds)
    got = ix.local(blocks, keep)
    if got is None:
        out = decode_df(ix.narrow(blocks, keep), schema_kinds,
                        columns=decode_cols) \
            .orderBy(F.asc(col) if ascending else F.desc(col)).limit(k)
    else:
        schema, fn = _decoder(schema_kinds, decode_cols)
        out = _arrow_df(blocks.sparkSession, schema, _topk_rows(
            fn(got), to_arrow_schema(schema), col, k,
            ascending).to_batches())
    if decode_cols is not columns:
        out = out.select(*columns)
    return out


def topk_key(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
             key_col: str, k: int, ascending: bool = False,
             columns: Optional[list[str]] = None) -> DataFrame:
    """ORDER BY lead key LIMIT k with zone-map pruning: decode only the
    blocks that can contribute to the top k. The prune is
    overlap-safe — it never assumes blocks are disjoint or sorted:
    walk the table's blocks by ``key_lo`` DESC and find the smallest
    prefix whose row counts sum to >= k; every row of every
    prefix block has key >= its block's key_lo >= t (t = the prefix's
    minimum key_lo), so any block with ``key_hi < t`` provably has k
    rows above it and is skipped. Degenerate layouts (nulls in bounds,
    fewer than k rows) keep everything. The kept blocks decode and sort
    on the driver when they fit one input split
    (:meth:`_BlockIndex.local`), else feed Spark's
    TakeOrderedAndProject — per-partition partial top-k, no global
    sort. (Ascending mirrors with the bounds swapped and negated.)"""
    is_str = dict(schema_kinds)[key_col] == K_STR
    return _topk(blocks, schema_kinds, key_col, k, ascending, columns,
                 lambda ix, i: (ix.skey if is_str else ix.key)[i],
                 desc=False)


def topk_by(blocks: DataFrame, schema_kinds: list[tuple[str, str]],
            col: str, k: int, ascending: bool = False,
            columns: Optional[list[str]] = None) -> DataFrame:
    """ORDER BY any stats-carrying column LIMIT k — :func:`topk_key`'s
    overlap-safe block-prefix rule driven by the per-column (lo, hi)
    descriptor stats instead of the lead-key bounds, so "latest k by
    ts" over an id-keyed table decodes only the blocks that can
    contribute (exactly as prunable as the column is correlated with
    block order; uncorrelated columns degrade to a full scan — never a
    wrong answer). The threshold comes from at most k metadata rows;
    nothing shuffles."""
    return _topk(blocks, schema_kinds, col, k, ascending, columns,
                 lambda ix, i: ix.stats(i, col, 0))


def manifest_rows(blocks: DataFrame, snapshot_id: str, run_id: str) -> DataFrame:
    """Per-bucket lineage rollup (north rule: snapshot-id, partition
    bounds, codec histogram, bytes in/out)."""
    hist = F.map_from_entries(F.collect_list(F.struct("codec", "cnt")))
    per_codec = (blocks
                 .select("bucket",
                         F.explode(_codec_entries(F.col("desc"))).alias("codec"))
                 .groupBy("bucket", "codec").agg(F.count("*").alias("cnt"))
                 .groupBy("bucket").agg(hist.alias("codec_hist")))
    agg = (blocks.groupBy("bucket").agg(
        F.count("*").alias("n_blocks"),
        F.sum("n").alias("n_rows"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        F.sum("ref_bytes").alias("ref_bytes"),
        F.sum("wall_ms").alias("encode_wall_ms"),
        (F.sum("n") / (F.sum("wall_ms") / 1000.0))
            .alias("rows_per_sec"),
        F.min("key_min").alias("key_min"),
        F.max("key_max").alias("key_max"),
    ))
    return (agg.join(per_codec, "bucket", "left")
               .withColumn("snapshot_id", F.lit(snapshot_id))
               .withColumn("run_id", F.lit(run_id))
               .withColumn("status", F.lit("done"))
               .withColumn("completed_at", F.current_timestamp()))


def _codec_entries(desc_col):
    """Extract the per-column codec names from the desc JSON."""
    return F.from_json(
        desc_col,
        T.StructType([T.StructField("cols", T.ArrayType(T.StructType([
            T.StructField("c", T.StringType())])))]),
    )["cols"]["c"]


def _freeze_worker_heap() -> None:
    """Move everything alive after this import into the permanent
    generation, once, in a PySpark worker that the daemon reuses.

    Why: ``pyspark/daemon.py`` runs a full ``gc.collect()`` after every
    task of a reused worker, and with the engine imported that walks
    ~75k long-lived import objects (~50 ms of CPU) each time; frozen,
    they are skipped. ``SPARK_REUSE_WORKER`` is set in exactly those
    workers and never in the driver, whose heap is left alone."""
    if os.environ.get("SPARK_REUSE_WORKER") and not gc.get_freeze_count():
        gc.collect()
        gc.freeze()


_freeze_worker_heap()
